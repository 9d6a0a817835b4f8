"""Local mirror of the driver's correctness gate: run every queries()
entry on Spark AND its oracle_sql() on DuckDB at the given sf dir,
compare row-count + schema-ish + order-insensitive values.

Usage: python tools/check_oracle.py [sf_dir] [query_name ...]

Exits 1 if any query fails or if a named query is not in queries().
"""

from __future__ import annotations

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

import duckdb
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
        elif str(df[c].dtype).startswith("float"):
            df[c] = df[c].astype("float64").round(6)
        elif str(df[c].dtype).startswith(("int", "uint", "Int")):
            df[c] = df[c].astype("int64")
    return df.sort_values(list(df.columns)).reset_index(drop=True)


def duckdb_views(sf_dir: str):
    """A DuckDB connection with one view per testdata table."""
    con = duckdb.connect()
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    return con


def check_query(spark, con, sf_dir: str, fn, sql: str | None) -> tuple:
    """Run one entry on Spark and, when it has an oracle, its SQL on
    ``con``.  Returns (ok, message): ok is False on an error or any
    schema / row-count / value mismatch; a query without SQL is checked
    for rows only."""
    try:
        got = normalize(fn(spark, sf_dir).toPandas())
    except Exception as e:
        return False, f"spark error {e}"
    if sql is None:
        return True, f"{len(got)} rows (rows-only check)"
    try:
        want = normalize(con.execute(sql).df())
    except Exception as e:
        return False, f"duckdb error {e}"
    if list(got.columns) != list(want.columns):
        return False, (f"schema mismatch {list(got.columns)} "
                       f"vs {list(want.columns)}")
    if len(got) != len(want):
        return False, f"row count {len(got)} vs {len(want)}"
    if not got.equals(want):
        neq = (got != want).any(axis=1)
        return False, (f"{int(neq.sum())}/{len(got)} rows differ\n"
                       f"{pd.concat([got[neq].head(3), want[neq].head(3)])}")
    return True, f"{len(got)} rows match"


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = sys.argv[2:]

    import __spark_entry__ as entry
    from ir_index_construction_spark.session import get_spark

    qs, sqls = entry.queries(), entry.oracle_sql()
    unknown = [n for n in only if n not in qs]
    if unknown:
        print(f"unknown query names: {unknown}")
        sys.exit(1)

    spark = get_spark("oracle-check", cpus=8, shuffle_partitions=8)
    con = duckdb_views(sf_dir)
    failures = []
    checked = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        checked += 1
        ok, msg = check_query(spark, con, sf_dir, fn, sqls.get(name))
        if ok:
            print(f"{'OK  ' if name in sqls else 'rows'}  {name}: {msg}")
        else:
            failures.append(name)
            print(f"FAIL  {name}: {msg}")
    print()
    print(f"{checked} queries checked")
    if failures:
        print(f"{len(failures)} FAILURES: {failures}")
        sys.exit(1)
    print("all queries match")


if __name__ == "__main__":
    main()

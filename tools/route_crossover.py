"""Time QueryService's two WAND routes against a query's postings.

A plain WAND query whose terms hold at most LOCAL_POSTINGS_BUDGET
postings (summed df) is scored on the driver (wand_topk_driver, no
Spark job); a larger one runs wand_topk's Spark plan.  This tool
measures where the two routes cross.  It builds a synthetic catalog of
--docs docs whose terms have fixed document frequencies (100% of docs
for ta/ua/ub/uc, then 30%, 10%, 3%, 1%, 0.3% and 0.1% for tb..tg), then
runs each query through one QueryService with the budget at 0 (the
Spark plan) and unbounded (the driver route): one warm-up run and
--reps timed runs per route.  One line per query: its postings, each
route's median latency and Spark job count, and whether the two pages
are identical.

    python tools/route_crossover.py --docs 1000000 --out /tmp/crossover

The catalog is kept in --out and reused when it is already there.
"""

from __future__ import annotations

import argparse
import os
import statistics
import sys
import time
import uuid
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

import submit_query  # noqa: E402  (tools/ is this script's directory)

# term -> share of docs holding it (xxhash64-chosen, tf 1-5)
DF_SHARE = {"ua": 1.0, "ub": 1.0, "uc": 1.0, "ta": 1.0, "tb": 0.3,
            "tc": 0.1, "td": 0.03, "te": 0.01, "tf": 0.003, "tg": 0.001}
QUERIES = "tg|tf|te|td|tc|tb|ta|ta ub|ta ub uc|ta ua ub uc"


def build_catalog(spark, root: str, n_docs: int, shard_size: int):
    """Commit the synthetic index/docs/dictionary/stats tables, laid
    out as the index builder writes them."""
    from pyspark.sql import functions as F

    from ir_index_construction_spark.config import BM25Config, IndexConfig
    from ir_index_construction_spark.operators.compress import (
        build_compressed_index)
    from ir_index_construction_spark.sources.catalog import Catalog

    ids = spark.range(n_docs).withColumnRenamed("id", "doc_id")
    dl = (50 + F.col("doc_id") % 450).cast("int")
    parts = []
    for term, share in DF_SHARE.items():
        h = F.abs(F.xxhash64(F.col("doc_id"), F.lit(term)))
        parts.append(ids.filter(h % 1_000_000 < int(share * 1_000_000))
                     .select(F.lit(term).alias("term"), "doc_id",
                             (1 + h % 5).cast("int").alias("tf"),
                             F.lit(10).alias("imp"), dl.alias("dl")))
    postings = parts[0]
    for p in parts[1:]:
        postings = postings.unionByName(p)
    postings = postings.repartition(8).persist()
    docs = ids.select("doc_id", F.concat(F.lit("https://synthetic.example/"),
                                         F.col("doc_id").cast("string"))
                      .alias("url"), dl.alias("doc_len"))
    avgdl = float(docs.agg(F.avg("doc_len")).collect()[0][0])
    cat = Catalog(root)
    txn = cat.transaction()
    index = build_compressed_index(
        postings, avgdl, BM25Config(),
        IndexConfig(shard_size=shard_size, term_buckets=1))
    txn.write(index.sortWithinPartitions("shard", "term", "chunk"), "index")
    txn.write(docs, "docs")
    txn.write(postings.groupBy("term").agg(F.count("*").alias("df"),
                                           F.sum("tf").alias("cf"))
              .orderBy("term"), "dictionary")
    txn.write(spark.createDataFrame(
        [(n_docs, avgdl, len(DF_SHARE))],
        "n_docs long, avgdl double, n_terms long"), "stats")
    txn.commit()
    postings.unpersist()
    return cat


def timed(spark, svc, query: str, budget: int, reps: int):
    """(median seconds, Spark jobs of the last run, page rows) of
    ``reps`` warm runs of ``query`` at driver-route budget ``budget``."""
    submit_query.LOCAL_POSTINGS_BUDGET = budget
    svc.run(query, 10, "wand", False).collect()
    sc = spark.sparkContext
    walls = []
    for _ in range(reps):
        group = f"crossover-{uuid.uuid4().hex}"
        sc.setJobGroup(group, group)
        try:
            t0 = time.perf_counter()
            rows = svc.run(query, 10, "wand", False).collect()
            walls.append(time.perf_counter() - t0)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
    jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    return statistics.median(walls), jobs, [tuple(r) for r in rows]


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--docs", type=int, default=1_000_000)
    ap.add_argument("--shard-size", type=int, default=1 << 16)
    ap.add_argument("--reps", type=int, default=5)
    ap.add_argument("--cpus", type=int, default=2)
    ap.add_argument("--queries", default=QUERIES,
                    help="'|'-separated queries over the synthetic terms")
    ap.add_argument("--out", required=True,
                    help="catalog directory (built if absent)")
    args = ap.parse_args()

    from ir_index_construction_spark.session import get_spark
    from ir_index_construction_spark.sources.catalog import Catalog
    from ir_index_construction_spark.text.normalize import parse_query

    spark = get_spark("route-crossover", cpus=args.cpus, shuffle_partitions=8)
    if os.path.exists(os.path.join(args.out, "_current")):
        cat = Catalog(args.out)
    else:
        cat = build_catalog(spark, args.out, args.docs, args.shard_size)
    df = {r["term"]: r["df"] for r in cat.read_rows("dictionary")}
    n_docs = cat.read_rows("stats")[0]["n_docs"]
    print(f"catalog {args.out}: {n_docs} docs, shard size {args.shard_size},"
          f" local[{args.cpus}], default budget "
          f"{submit_query.LOCAL_POSTINGS_BUDGET}", flush=True)
    svc = submit_query.QueryService(spark, cat)
    for q in args.queries.split("|"):
        postings = sum(df.get(t, 0) for t in set(parse_query(q)[0]))
        spark_s, spark_jobs, want = timed(spark, svc, q, 0, args.reps)
        driver_s, driver_jobs, got = timed(spark, svc, q, 1 << 62, args.reps)
        print(f"{q:14s} postings={postings:9d}  "
              f"spark_ms={spark_s * 1e3:8.1f} ({spark_jobs} jobs)  "
              f"driver_ms={driver_s * 1e3:8.1f} ({driver_jobs} jobs)  "
              f"identical={got == want}", flush=True)
    spark.stop()


if __name__ == "__main__":
    main()

"""Catalog atomicity + resumable-build semantics (SURVEY.md §5.2 item 6)."""

import pytest
from pyspark.sql import functions as F

from ir_index_construction_spark.config import small_scale
from ir_index_construction_spark.plans.builder import (
    BuildKilled,
    FaultInjector,
    IndexBuilder,
)
from ir_index_construction_spark.sources.catalog import Catalog

CFG = small_scale()


def test_catalog_snapshot_semantics(spark, tmp_path):
    cat = Catalog(str(tmp_path / "cat"))
    df1 = spark.range(10).withColumnRenamed("id", "x")
    s0 = cat.write(df1, "t")
    assert cat.read(spark, "t").count() == 10
    s1 = cat.append(spark.range(5).withColumnRenamed("id", "x"), "t")
    assert cat.read(spark, "t").count() == 15
    # time travel: old snapshot still readable
    assert cat.read(spark, "t", snapshot=s0).count() == 10
    assert s1["parent_id"] == s0["snapshot_id"]
    # overwrite starts fresh but history is preserved
    cat.write(spark.range(3).withColumnRenamed("id", "x"), "t")
    assert cat.read(spark, "t").count() == 3
    assert len(cat.history("t")) == 3


def test_catalog_version_time_travel(spark, tmp_path):
    """read_at(version) serves every table as of a past CATALOG version
    (multi-table-consistent time travel); uncommitted versions are
    rejected, and expired history raises a clear error instead of a raw
    missing-file one."""
    cat = Catalog(str(tmp_path / "cat_tt"))
    # v0: one transaction commits two tables together
    txn = cat.transaction()
    txn.write(spark.range(10).withColumnRenamed("id", "x"), "a")
    txn.write(spark.range(4).withColumnRenamed("id", "y"), "b")
    txn.commit()
    # v1: another transaction advances both
    txn = cat.transaction()
    txn.append(spark.range(10, 15).withColumnRenamed("id", "x"), "a")
    txn.write(spark.range(7).withColumnRenamed("id", "y"), "b")
    txn.commit()
    assert cat.read_at(spark, "a", 0).count() == 10
    assert cat.read_at(spark, "b", 0).count() == 4
    assert cat.read_at(spark, "a", 1).count() == 15
    assert cat.read_at(spark, "b", 1).count() == 7
    # a version above the committed pointer was never published
    with pytest.raises(FileNotFoundError, match="never committed"):
        cat.read_at(spark, "a", 2)
    # a table absent from the record is a clear error
    with pytest.raises(FileNotFoundError, match="did not exist"):
        cat.read_at(spark, "zzz", 0)
    # diff between versions: 'a' gained keys 10..14 in v1 (append);
    # 'b' was overwritten with 0..6 — by key, only 4..6 are new (0..3
    # re-added under new files are present in both versions)
    d = {(r["x"], r["change"])
         for r in cat.diff(spark, "a", 0, 1, ["x"]).collect()}
    assert d == {(x, "added") for x in range(10, 15)}
    db = {(r["y"], r["change"])
          for r in cat.diff(spark, "b", 0, 1, ["y"]).collect()}
    assert db == {(y, "added") for y in range(4, 7)}
    # reversed direction flips the labels
    assert {(r["x"], r["change"])
            for r in cat.diff(spark, "a", 1, 0, ["x"]).collect()} \
        == {(x, "removed") for x in range(10, 15)}
    # expiring table history breaks old time travel with a clear error;
    # the current version still reads
    cat.expire_snapshots("a", keep_last=1)
    with pytest.raises(FileNotFoundError, match="expired"):
        cat.read_at(spark, "a", 0)
    assert cat.read_at(spark, "a", 1).count() == 15
    # ...and table 'b' at v0 is untouched by 'a's expiry
    assert cat.read_at(spark, "b", 0).count() == 4


def test_compact_preserves_rows_and_reduces_files(spark, tmp_path):
    """Compaction rewrites many small per-commit file sets into few
    right-sized files: identical rows, recorded as a 'compact'
    operation, and the pre-compact snapshot still time-travels."""
    cat = Catalog(str(tmp_path / "cat"))
    for i in range(5):
        cat.append(spark.range(i * 10, (i + 1) * 10)
                   .withColumnRenamed("id", "x").repartition(3), "t")
    before = cat.current_snapshot("t")
    assert len(before["files"]) >= 10
    rows_before = sorted(r["x"] for r in cat.read(spark, "t").collect())

    new = cat.compact(spark, "t", target_file_bytes=1 << 30)
    assert new["operation"] == "compact"
    assert len(new["files"]) == 1
    assert sorted(r["x"] for r in cat.read(spark, "t").collect()) \
        == rows_before == list(range(50))
    # time travel to the fragmented snapshot still works
    assert sorted(r["x"] for r in
                  cat.read(spark, "t", snapshot=before).collect()) \
        == rows_before


def test_compact_conflict_on_concurrent_append(spark, tmp_path):
    """An append landing while a compaction rewrites must never be
    lost: the compaction validates its base snapshot under the commit
    lock, discards its staged files, and raises CommitConflict."""
    import os

    from ir_index_construction_spark.sources.catalog import CommitConflict

    cat = Catalog(str(tmp_path / "cat"))
    cat.write(spark.range(20).withColumnRenamed("id", "x"), "t")
    base = cat.current_snapshot("t")
    cat.append(spark.range(20, 30).withColumnRenamed("id", "x"), "t")

    with pytest.raises(CommitConflict):
        cat.compact(spark, "t", target_file_bytes=1 << 30, snapshot=base)
    # nothing lost, staged rewrite cleaned up: on-disk files are
    # exactly the referenced ones
    assert cat.read(spark, "t").count() == 30
    referenced = {f for s in cat.history("t") for f in s["files"]}
    on_disk = {os.path.join("data", n)
               for n in os.listdir(str(tmp_path / "cat" / "t" / "data"))}
    assert on_disk == referenced


def test_expire_and_vacuum_reclaim_unreferenced_files(spark, tmp_path):
    """vacuum only deletes files no RETAINED snapshot references and
    honors the in-flight-writer grace window; expire_snapshots is what
    releases historical files for reclamation."""
    import os

    cat = Catalog(str(tmp_path / "cat"))
    for i in range(3):
        cat.append(spark.range(i * 10, (i + 1) * 10)
                   .withColumnRenamed("id", "x"), "t")
    cat.compact(spark, "t", target_file_bytes=1 << 30)
    ddir = str(tmp_path / "cat" / "t" / "data")

    # pre-compact files are still referenced by historical snapshots
    assert cat.vacuum("t", grace_seconds=0.0) == []

    # a crashed writer's staging dir and a stray unreferenced file are
    # orphans — protected inside the grace window, reclaimed outside it
    os.makedirs(os.path.join(ddir, "stage-deadbeef"))
    with open(os.path.join(ddir, "stage-deadbeef", "part-0.parquet"), "w"):
        pass
    with open(os.path.join(ddir, "11112222-orphan.parquet"), "w"):
        pass
    assert cat.vacuum("t", grace_seconds=3600.0) == []
    removed = cat.vacuum("t", grace_seconds=0.0)
    assert sorted(removed) == ["data/11112222-orphan.parquet",
                               "data/stage-deadbeef"]

    expired = cat.expire_snapshots("t", keep_last=1)
    assert len(expired) == 3          # the three appends; compact kept
    removed = cat.vacuum("t", grace_seconds=0.0)
    assert len(removed) >= 3          # their file sets reclaimed
    assert sorted(r["x"] for r in cat.read(spark, "t").collect()) \
        == list(range(30))
    # disk now holds exactly the current snapshot's files
    referenced = set(cat.current_snapshot("t")["files"])
    on_disk = {os.path.join("data", n) for n in os.listdir(ddir)}
    assert on_disk == referenced


@pytest.fixture(scope="module")
def full_build(spark, documents_df, tmp_path_factory):
    """Single-shot (no fault) build — the equality reference."""
    cat = Catalog(str(tmp_path_factory.mktemp("cat_full")))
    b = IndexBuilder(cat, CFG, n_batches=3)
    b.build(documents_df)
    return b.tables(spark)


def _collect_index(df):
    rows = df.select("shard", "term", "chunk", "n_postings", "first_doc",
                     "last_doc", "payload").collect()
    return sorted(
        (r["shard"], r["term"], r["chunk"], r["n_postings"], r["first_doc"],
         r["last_doc"], bytes(r["payload"])) for r in rows
    )


def test_build_writes_all_tables(full_build):
    for t in ("docs", "postings", "dictionary", "stats", "index",
              "checkpoints", "lineage", "metrics"):
        assert t in full_build, f"missing table {t}"
    stats = full_build["stats"].collect()[0]
    assert stats["n_docs"] > 0 and stats["avgdl"] > 0 and stats["n_terms"] > 0
    # metrics rows carry throughput numbers per partition
    m = full_build["metrics"].filter(F.col("stage") == "encode").collect()
    assert len(m) == CFG.index.term_buckets
    assert all(row["bytes_compressed"] > 0 for row in m)


def test_kill_and_resume_runs_only_pending(spark, documents_df, tmp_path):
    cat = Catalog(str(tmp_path / "cat_resume"))
    # kill after the 2nd tokenize-batch commit
    b = IndexBuilder(cat, CFG, n_batches=3,
                     fault=FaultInjector("tokenize", after_commits=2))
    with pytest.raises(BuildKilled):
        b.build(documents_df)

    ck = cat.read(spark, "checkpoints")
    done_tok = {r["partition_id"] for r in
                ck.filter(F.col("stage") == "tokenize").collect()}
    assert done_tok == {0, 1}
    committed_at = {
        (r["stage"], r["partition_id"]): r["committed_at"]
        for r in ck.collect()
    }

    # resume WITHOUT the input documents: prepare is committed, so the
    # builder must restart from the corpus_prepared snapshot alone
    b2 = IndexBuilder(cat, CFG, n_batches=3)
    b2.build(None)

    ck2 = cat.read(spark, "checkpoints").collect()
    # previously committed partitions were not re-run (same timestamps)
    for r in ck2:
        key = (r["stage"], r["partition_id"])
        if key in committed_at:
            assert r["committed_at"] == committed_at[key], f"{key} re-ran"
    done_tok2 = {r["partition_id"] for r in ck2 if r["stage"] == "tokenize"}
    assert done_tok2 == {0, 1, 2}
    done_enc = {r["partition_id"] for r in ck2 if r["stage"] == "encode"}
    assert done_enc == set(range(CFG.index.term_buckets))


def test_multi_table_transaction_atomicity(spark, tmp_path):
    """A transaction touching three tables is all-or-nothing: before
    commit nothing is visible (even though data files are staged), after
    commit everything is, and an abandoned transaction changes nothing."""
    cat = Catalog(str(tmp_path / "cat_txn"))
    cat.write(spark.range(4).withColumnRenamed("id", "x"), "a")

    txn = cat.transaction()
    txn.append(spark.range(6).withColumnRenamed("id", "x"), "a")
    txn.write(spark.range(3).withColumnRenamed("id", "y"), "b")
    txn.append_rows(spark, "c", [(1, "ok")], "pid int, status string")
    # staged but uncommitted: old state fully intact
    assert cat.read(spark, "a").count() == 4
    assert not cat.table_exists("b") and not cat.table_exists("c")
    txn.commit()
    assert cat.read(spark, "a").count() == 10
    assert cat.read(spark, "b").count() == 3
    assert cat.read(spark, "c").count() == 1

    # abandoned transaction (crash analogue): catalog state unchanged
    dead = cat.transaction()
    dead.append(spark.range(99).withColumnRenamed("id", "x"), "a")
    del dead
    assert cat.read(spark, "a").count() == 10


def test_crash_between_staging_and_commit_no_duplicates(
        spark, documents_df, full_build, tmp_path):
    """THE round-1 ADVICE window: kill after a tokenize partition's data
    is staged but before its catalog commit.  Resume must re-run that
    partition exactly once — no duplicated postings/docs rows, final
    tables equal the single-shot build."""
    cat = Catalog(str(tmp_path / "cat_torn"))
    b = IndexBuilder(cat, CFG, n_batches=3,
                     fault=FaultInjector("tokenize", after_commits=1,
                                         where="before"))
    with pytest.raises(BuildKilled):
        b.build(documents_df)
    # exactly one tokenize partition committed; the torn partition's
    # staged data is invisible
    ck = cat.read(spark, "checkpoints")
    assert ck.filter(F.col("stage") == "tokenize").count() == 1
    docs_before = cat.read(spark, "docs").count()

    b2 = IndexBuilder(cat, CFG, n_batches=3)
    b2.build(None)
    got = b2.tables(spark)
    assert got["docs"].count() > docs_before
    # (term, doc_id) uniqueness — the invariant duplication would break
    dup = (got["postings"].groupBy("term", "doc_id").count()
           .filter(F.col("count") > 1).count())
    assert dup == 0
    assert sorted(map(tuple, got["docs"].collect())) == sorted(
        map(tuple, full_build["docs"].collect()))
    assert _collect_index(got["index"]) == _collect_index(full_build["index"])


def test_build_report_renders_ledger(spark, documents_df, tmp_path, capsys):
    """tools/build_report.py must render every committed stage with
    non-zero throughput/bytes from the lineage/metrics ledgers."""
    import importlib.util
    from pathlib import Path

    spec = importlib.util.spec_from_file_location(
        "build_report_mod",
        Path(__file__).resolve().parent.parent / "tools" / "build_report.py")
    m = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(m)

    cat = Catalog(str(tmp_path / "cat_report"))
    IndexBuilder(cat, CFG, n_batches=2).build(documents_df)
    m.report(spark, cat, None, show_partitions=True)
    out = capsys.readouterr().out
    for stage in ("prepare", "tokenize", "stats", "encode"):
        assert stage in out, out
    assert "indexed" in out and "postings" in out
    # per-partition breakdown present, with lineage arrows
    assert out.count("p0 ") >= 2 and "<-" in out
    # encode committed real compressed bytes
    assert "0 B" not in out.split("encode")[1].splitlines()[0]


def test_concurrent_commits_no_lost_update(spark, tmp_path):
    """Round-2 ADVICE (medium): two concurrent writers must never both
    base on the same parent and silently discard one commit.  Commits
    serialize on the catalog flock and rebase under it, so every append
    from both threads survives and versions are strictly sequential."""
    import threading

    from ir_index_construction_spark.sources.catalog import Catalog as Cat

    cat = Cat(str(tmp_path / "cat_conc"))
    cat.write(spark.range(1).withColumnRenamed("id", "x"), "t")
    errs: list = []

    def worker(tag: str):
        try:
            for i in range(4):
                txn = cat.transaction()
                txn.append(spark.range(2).withColumnRenamed("id", "x"), "t")
                txn.append_rows(spark, f"log_{tag}", [(i,)], "i int")
                txn.commit()
        except Exception as e:          # surface in the main thread
            errs.append(e)

    threads = [threading.Thread(target=worker, args=(tag,))
               for tag in ("a", "b")]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errs, errs
    assert cat.read(spark, "t").count() == 1 + 2 * 4 * 2
    assert cat.read(spark, "log_a").count() == 4
    assert cat.read(spark, "log_b").count() == 4
    # strictly sequential versions: 1 initial + 8 concurrent commits
    assert cat._catalog_current()["version"] == 8


def test_orphan_version_file_is_garbage_collected(spark, tmp_path):
    """Round-3 ADVICE (medium): a writer that crashed between writing
    v<N>.json and the pointer swap leaves an orphan that previously made
    every later commit raise CommitConflict FOREVER (the catalog state
    never advanced, so the retry the docstring advised re-derived the
    same version N every time).  Under the flock such orphans — catalog-
    level AND table-snapshot-level — are collected before the version is
    claimed, so the commit succeeds and publishes the new data."""
    import os

    from ir_index_construction_spark.sources.catalog import Catalog as Cat

    cat = Cat(str(tmp_path / "cat_orphan"))
    cat.write(spark.range(2).withColumnRenamed("id", "x"), "t")
    # simulate the torn window: catalog v1 + table snapshot v1 written,
    # pointer never swapped (orphan content is a plausible real record)
    with open(os.path.join(cat._cdir(), "v1.json"), "w") as f:
        f.write('{"version": 1, "tables": {"t": 1}}')
    with open(os.path.join(cat._tdir("t"), "snapshots", "v1.json"), "w") as f:
        f.write('{"version": 1, "files": []}')
    assert cat._catalog_current()["version"] == 0   # orphan invisible
    cat.append(spark.range(3).withColumnRenamed("id", "x"), "t")
    assert cat._catalog_current()["version"] == 1
    assert cat.read(spark, "t").count() == 5
    # and the catalog keeps working across further commits
    cat.append(spark.range(1).withColumnRenamed("id", "x"), "t")
    assert cat.read(spark, "t").count() == 6


def test_orphan_above_first_commit_heals_empty_catalog(spark, tmp_path):
    """The same crash window on the very first commit (no committed
    parent at all): every v*.json is an orphan and must be collected."""
    import os

    from ir_index_construction_spark.sources.catalog import Catalog as Cat

    cat = Cat(str(tmp_path / "cat_orphan0"))
    os.makedirs(cat._cdir())
    with open(os.path.join(cat._cdir(), "v0.json"), "w") as f:
        f.write('{"version": 0, "tables": {}}')
    cat.write(spark.range(2).withColumnRenamed("id", "x"), "t")
    assert cat._catalog_current()["version"] == 0
    assert cat.read(spark, "t").count() == 2


def test_legacy_layout_detected(tmp_path):
    """A pre-r2 per-table-pointer catalog must raise, not read as empty
    (round-2 ADVICE: a resumed build would silently restart from scratch
    on top of committed data)."""
    from ir_index_construction_spark.sources.catalog import (
        Catalog as Cat, LegacyCatalogLayout)

    root = tmp_path / "cat_legacy"
    (root / "docs").mkdir(parents=True)
    (root / "docs" / "_current").write_text("v3")
    cat = Cat(str(root))
    with pytest.raises(LegacyCatalogLayout):
        cat.table_exists("docs")


def test_resumed_equals_single_shot(spark, documents_df, full_build, tmp_path):
    cat = Catalog(str(tmp_path / "cat_eq"))
    b = IndexBuilder(cat, CFG, n_batches=3,
                     fault=FaultInjector("encode", after_commits=1))
    with pytest.raises(BuildKilled):
        b.build(documents_df)
    b2 = IndexBuilder(cat, CFG, n_batches=3)
    b2.build(None)
    got = b2.tables(spark)

    assert _collect_index(got["index"]) == _collect_index(full_build["index"])
    assert sorted(map(tuple, got["docs"].collect())) == sorted(
        map(tuple, full_build["docs"].collect()))
    assert sorted(map(tuple, got["dictionary"].collect())) == sorted(
        map(tuple, full_build["dictionary"].collect()))


def test_compact_preserves_sorted_layout(spark, tmp_path):
    """TABLE_SORT contract (round 5): compacting a table whose scan
    pruning depends on file-level sort (dictionary/rdictionary/
    positions/postings/index) must keep it range-sorted — a round-robin
    rewrite would quietly defeat every pushed StartsWith/In filter
    after the first maintenance cycle.  Checked at the parquet level:
    each output file internally sorted, file ranges pairwise disjoint."""
    import os
    import random

    import pyarrow.parquet as pq

    cat = Catalog(str(tmp_path / "cat"))
    rng = random.Random(7)
    terms = [f"t{i:04d}" for i in range(400)]
    for _ in range(4):                      # unsorted per-commit appends
        sample = rng.sample(terms, 100)
        cat.append(spark.createDataFrame([(t, 1) for t in sample],
                                         "term string, df long"),
                   "dictionary")
    rows_before = sorted((r["term"], r["df"]) for r in
                         cat.read(spark, "dictionary").collect())

    snap = cat.compact(spark, "dictionary", target_file_bytes=6000)
    assert snap["operation"] == "compact"
    ranges = []
    for rel in snap["files"]:
        col = pq.read_table(
            os.path.join(cat._tdir("dictionary"), rel),
            columns=["term"]).column("term").to_pylist()
        if not col:
            continue
        assert col == sorted(col)           # sorted within the file
        ranges.append((col[0], col[-1]))
    assert len(ranges) >= 2                 # the check is non-vacuous
    ranges.sort()
    for (_, hi), (lo, _) in zip(ranges, ranges[1:]):
        assert hi <= lo                     # files cover disjoint ranges
    assert sorted((r["term"], r["df"]) for r in
                  cat.read(spark, "dictionary").collect()) == rows_before


# ---- driver-side ledger rows (append_rows / write_rows / read_rows) ----

def _ledger_cases():
    import datetime as dt

    from ir_index_construction_spark.schemas import (
        CHECKPOINTS, INDEX_SEGMENTS, LINEAGE, METRICS, STREAM_COMMITS,
        TOMBSTONES)

    naive = dt.datetime(2024, 3, 10, 6, 30, 15, 123456)
    aware = dt.datetime(2023, 11, 5, 1, 30, tzinfo=dt.timezone.utc)
    return [
        ("checkpoints", CHECKPOINTS,
         [("b0", "tokenize", 3, "committed", naive),
          ("b0", "encode", 0, "committed", aware)]),
        ("lineage", LINEAGE, [("b0", "prepare", 0, "input", 600, 575)]),
        ("metrics", METRICS,
         [("b0", "encode", 1, 0.25, 2300.5, 1e6 / 3, 12345)]),
        ("index_segments", INDEX_SEGMENTS,
         [("seg-1", 0, 3, 123.456789, 575, naive)]),
        ("stream_commits", STREAM_COMMITS, [("s", 1 << 40, 400, naive)]),
        ("doc_tombstones", TOMBSTONES,
         [(7, "http://a.example/x", naive, None),
          (9, "http://b.example/y", aware, "takedown")]),
        ("ddl", "pid int, status string, at timestamp, score double",
         [(1, None, naive, None), (2, "ok", None, 0.5)]),
    ]


def test_append_rows_round_trip_equals_create_dataframe(spark, tmp_path,
                                                        monkeypatch):
    """Rows written on the driver read back (through Spark and through
    read_rows) exactly as the rows createDataFrame makes, with the same
    manifest schema.  Run under a non-UTC local zone: createDataFrame
    reads a naive datetime as LOCAL time, so a writer that stored it as
    UTC would read back shifted by the zone offset."""
    import time as _time

    monkeypatch.setenv("TZ", "America/New_York")
    _time.tzset()
    try:
        cat = Catalog(str(tmp_path / "cat_rows"))
        txn = cat.transaction()
        for table, schema, rows in _ledger_cases():
            txn.append_rows(spark, table, rows, schema)
        txn.commit()
        for table, schema, rows in _ledger_cases():
            ref = spark.createDataFrame(rows, schema)
            assert cat.current_snapshot(table)["schema"] \
                == ref.schema.json(), table
            want = sorted(ref.collect(), key=repr)
            assert sorted(cat.read(spark, table).collect(), key=repr) \
                == want, table
            assert sorted(cat.read_rows(table), key=repr) == want, table
    finally:
        monkeypatch.undo()
        _time.tzset()


def test_append_rows_verifies_before_staging(spark, tmp_path):
    """createDataFrame's verifier runs before anything is written: a
    wrong type or a None in a non-nullable field raises and stages no
    file."""
    import datetime as dt
    import os

    from ir_index_construction_spark.schemas import CHECKPOINTS

    cat = Catalog(str(tmp_path / "cat_verify"))
    now = dt.datetime(2024, 1, 1)
    bad = [
        [("b0", "prepare", "zero", "committed", now)],   # str in an int
        [("b0", None, 0, "committed", now)],            # None, non-null
        [("b0", "prepare", 0, "committed", "2024-01-01")],  # str in a ts
    ]
    for rows in bad:
        with pytest.raises((TypeError, ValueError)):
            cat.transaction().append_rows(spark, "checkpoints", rows,
                                          CHECKPOINTS)
    ddir = os.path.join(cat._tdir("checkpoints"), "data")
    assert not os.path.isdir(ddir) or os.listdir(ddir) == []
    assert not cat.table_exists("checkpoints")


def test_mixed_spark_and_driver_written_files(spark, tmp_path):
    """A ledger holding a Spark-written file (a catalog built before
    ledger rows were written on the driver) and a driver-written file
    reads correctly through both Catalog.read and read_rows."""
    import datetime as dt

    from ir_index_construction_spark.schemas import CHECKPOINTS

    cat = Catalog(str(tmp_path / "cat_mixed"))
    old = [("b0", "prepare", 0, "committed",
            dt.datetime(2024, 1, 1, 12, 0, 0, 1))]
    new = [("b0", "tokenize", 0, "committed",
            dt.datetime(2024, 1, 1, 12, 5, 0, 999999)),
           ("b0", "tokenize", 1, "committed",
            dt.datetime(2024, 1, 1, 12, 6))]
    cat.append(spark.createDataFrame(old, CHECKPOINTS), "checkpoints")
    cat.append_rows(spark, "checkpoints", new, CHECKPOINTS)
    files = cat.current_snapshot("checkpoints")["files"]
    assert any(f.endswith("-rows.parquet") for f in files)
    assert any(not f.endswith("-rows.parquet") for f in files)
    want = sorted(spark.createDataFrame(old + new, CHECKPOINTS).collect())
    assert sorted(cat.read(spark, "checkpoints").collect()) == want
    assert sorted(cat.read_rows("checkpoints")) == want
    assert sorted(cat.read_rows("checkpoints", ["stage", "partition_id"])) \
        == sorted((r["stage"], r["partition_id"]) for r in want)
    assert IndexBuilder(cat, CFG, build_id="b0")._done(spark, "tokenize") \
        == {0, 1}


def test_driver_rows_launch_no_spark_job(spark, tmp_path):
    """append_rows, write_rows, read_rows and IndexBuilder._done run no
    Spark job (counted per job group); the Spark-written append they
    replace does, which shows the count bites."""
    import datetime as dt

    from ir_index_construction_spark.schemas import CHECKPOINTS

    sc = spark.sparkContext
    tracker = sc.statusTracker()
    cat = Catalog(str(tmp_path / "cat_jobs"))
    row = [("b0", "prepare", 0, "committed", dt.datetime(2024, 1, 1))]
    try:
        sc.setJobGroup("spark-written-rows", "control")
        cat.append(spark.createDataFrame(row, CHECKPOINTS), "checkpoints")
        assert tracker.getJobIdsForGroup("spark-written-rows")

        sc.setJobGroup("driver-rows", "ledger rows on the driver")
        txn = cat.transaction()
        txn.append_rows(spark, "checkpoints", row, CHECKPOINTS)
        txn.write_rows(spark, "stats", [(10, 2.5, 7)],
                       "n_docs long, avgdl double, n_terms long")
        txn.commit()
        assert len(cat.read_rows("checkpoints")) == 2
        assert cat.read_rows("stats")[0]["n_terms"] == 7
        assert IndexBuilder(cat, CFG, build_id="b0")._done(
            spark, "prepare") == {0}
        assert tracker.getJobIdsForGroup("driver-rows") == []
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)


def test_write_rows_overwrites(spark, tmp_path):
    """write_rows replaces the table's rows (the one-row stats and
    index_segments rewrites); an empty rewrite leaves an empty table."""
    from ir_index_construction_spark.schemas import TOMBSTONES

    cat = Catalog(str(tmp_path / "cat_over"))
    ddl = "n_docs long, avgdl double, n_terms long"
    cat.transaction().write_rows(spark, "stats", [(1, 1.0, 1)], ddl).commit()
    cat.transaction().write_rows(spark, "stats", [(5, 2.5, 9)], ddl).commit()
    assert [tuple(r) for r in cat.read(spark, "stats").collect()] \
        == [(5, 2.5, 9)]
    assert [tuple(r) for r in cat.read_rows("stats")] == [(5, 2.5, 9)]
    cat.transaction().write_rows(spark, "doc_tombstones", [],
                                 TOMBSTONES).commit()
    assert cat.read(spark, "doc_tombstones").count() == 0
    assert cat.read_rows("doc_tombstones") == []


def test_segmented_idf_lookup_equals_join_and_sum(spark, tmp_path):
    """query_term_idf over a two-segment dictionary (two delta rows per
    term) returns the values of the former broadcast-join + Spark sum,
    bit for bit, with and without a cache."""
    import math

    from ir_index_construction_spark.plans.query import query_term_idf

    cat = Catalog(str(tmp_path / "cat_idf"))
    seg1 = [("machin", 3, 5), ("learn", 40, 90), ("softwar", 1, 1)]
    seg2 = [("machin", 11, 14), ("learn", 2, 2), ("engin", 7, 9)]
    for seg in (seg1, seg2):
        cat.append(spark.createDataFrame(seg, "term string, df long, "
                                              "cf long"), "dictionary")
    dictionary = cat.read(spark, "dictionary")
    n_docs = 97
    terms = ["machin", "learn", "softwar", "engin", "absent"]
    summed = (dictionary.join(F.broadcast(spark.createDataFrame(
        [(t,) for t in terms], "term string")), "term", "inner")
        .groupBy("term").agg(F.sum("df").alias("df")).collect())
    want = {r["term"]: (r["df"], math.log(
        (n_docs - r["df"] + 0.5) / (r["df"] + 0.5) + 1.0)) for r in summed}
    assert want["machin"][0] == 14 and "absent" not in want
    assert query_term_idf(spark, dictionary, terms, n_docs) == want
    cache: dict = {}
    assert query_term_idf(spark, dictionary, terms, n_docs,
                          cache=cache) == want
    assert cache["absent"] is None
    assert query_term_idf(spark, dictionary, ["learn"], n_docs,
                          cache=cache) == {"learn": want["learn"]}


def test_term_in_matches_isin(spark, tmp_path):
    """term_in (the IN list sent as one SQL expression) selects the rows
    Column.isin selects, for terms that need escaping too, and is pushed
    into the parquet scan as In(term, ...)."""
    from ir_index_construction_spark.plans.query import term_in

    terms = ["machin", "o'neil", "a\\b", "\\'", "x\\u0041", "ü", "",
             "two words", "mult'i'ple"]
    path = str(tmp_path / "terms")
    spark.createDataFrame([(t, i) for i, t in enumerate(terms + ["other"])],
                          "term string, n long").write.parquet(path)
    frame = spark.read.parquet(path)
    for wanted in (terms, terms[:3], ["absent"], []):
        got = sorted(r["n"] for r in frame.filter(term_in(wanted)).collect())
        want = sorted(r["n"] for r in
                      frame.filter(F.col("term").isin(wanted)).collect())
        assert got == want
    assert len(frame.filter(term_in(terms)).collect()) == len(terms)

    def pushed(cond):
        plan = frame.filter(cond)._jdf.queryExecution() \
            .executedPlan().toString()
        return plan.split("PushedFilters: ")[1].split("]")[0]

    assert pushed(term_in(terms[:3])).startswith("[In(term, ")
    assert pushed(term_in(terms[:3])) == pushed(F.col("term").isin(terms[:3]))


def test_id_pass_carries_doc_count(spark, corpus_rows):
    """The id pass's handle carries with_ids' row count on the clean
    path and on the dirty (duplicate url+warc_ts) fallback, so the
    builder's prepare stage needs no count job."""
    from ir_index_construction_spark.operators.corpus import ingest
    from ir_index_construction_spark.schemas import DOCUMENTS

    from ir_index_construction_spark.text.normalize import (defrag_url,
                                                            is_valid_url)

    rows = [dict(r) for r in corpus_rows[:40]]
    kept = [r for r in rows if is_valid_url(defrag_url(r["url"]))]
    dirty = dict(kept[0])
    dirty["html"] = kept[1]["html"]           # same key, different content
    for data in (rows, rows + [dirty]):
        with_ids, handle = ingest(spark.createDataFrame(data, DOCUMENTS))
        try:
            assert handle.n_docs == with_ids.count() > 0
        finally:
            handle.unpersist()

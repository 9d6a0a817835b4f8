"""Resumable, checkpointed index build (north rule: a killed build
restarts only unfinished partitions, with per-partition lineage and
build-metrics tables).

Stages and their checkpoint units:

  prepare   (pid 0)        clean + dedup + dense ids -> `corpus_prepared`
                           table with a `batch` column (contiguous doc_id
                           ranges).  One global pass; cheap relative to
                           extraction (no HTML parsing).
  tokenize  (pid = batch)  per-batch fused extract+tokenize -> append to
                           `postings` + `docs`.  The expensive stage: HTML
                           parsing + stemming; batches bound re-work on
                           restart.
  stats     (pid 0)        `dictionary` + `stats` tables.
  encode    (pid = term_bucket)  salted two-phase compressed-index encode,
                           committed per term bucket -> `index` table.

Every partition's data appends and its `checkpoints`/`lineage`/`metrics`
ledger rows commit as ONE catalog transaction (sources/catalog.py), so a
crash at any instant leaves either nothing or everything of that
partition visible — the ADVICE-flagged window (data committed without
its checkpoint row, then re-appended on resume) is structurally closed.
``FaultInjector`` lets tests kill the build after a commit (legacy
resume tests) or BETWEEN staging and commit (the atomicity window) and
assert that a resume re-runs only pending partitions with no duplicates.
"""

from __future__ import annotations

import datetime as _dt
import time

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..config import BuildConfig
from ..operators.compress import _make_encode_group, _pack_runs, _with_keys
from ..operators.corpus import ingest
from ..operators.postings import (
    dictionary_table,
    docs_table,
    positions_from_tokenized,
    postings_from_tokenized,
    tokenize,
)
from ..schemas import (CHECKPOINTS, INDEX, INDEX_SEGMENTS, LINEAGE, METRICS,
                       SALTED_RUNS)
from ..sources.catalog import Catalog


class BuildKilled(RuntimeError):
    """Raised by FaultInjector to simulate a mid-build crash."""


class FaultInjector:
    """where='after': raise after the Nth successful commit of `stage`
    (N partitions are durably committed when it fires).  where='before':
    raise on the (after_commits+1)-th attempt BETWEEN data staging and
    the catalog commit — the torn-commit window; that partition's data
    files are materialized on disk but referenced by no manifest."""

    def __init__(self, stage: str, after_commits: int, where: str = "after"):
        assert where in ("before", "after")
        self.stage = stage
        self.after_commits = after_commits
        self.where = where
        self._seen = 0

    def maybe_kill(self, stage: str, point: str):
        if stage != self.stage:
            return
        if point == "after" and self.where == "after":
            self._seen += 1
            if self._seen >= self.after_commits:
                raise BuildKilled(f"injected fault after {self._seen} "
                                  f"{stage} commits")
        elif point == "before" and self.where == "before":
            self._seen += 1
            if self._seen > self.after_commits:
                raise BuildKilled(f"injected fault before {stage} commit "
                                  f"#{self._seen} (data staged, not committed)")


class IndexBuilder:
    def __init__(self, catalog: Catalog, cfg: BuildConfig,
                 build_id: str = "build-0", n_batches: int = 1,
                 fault: FaultInjector | None = None):
        self.catalog = catalog
        self.cfg = cfg
        self.build_id = build_id
        self.n_batches = n_batches
        self.fault = fault

    # ---- checkpoint ledger ----
    def _done(self, spark: SparkSession, stage: str) -> set:
        if not self.catalog.table_exists("checkpoints"):
            return set()
        rows = self.catalog.read_rows(
            "checkpoints", ["build_id", "stage", "partition_id", "status"])
        return {r["partition_id"] for r in rows
                if (r["build_id"], r["stage"], r["status"])
                == (self.build_id, stage, "committed")}

    def _commit(self, txn, spark: SparkSession, stage: str, pid: int,
                rows_in: int, rows_out: int, wall: float,
                bytes_compressed: int = 0, docs: int = 0):
        """Add the partition's ledger rows to `txn` and commit data +
        checkpoints + lineage + metrics as ONE atomic catalog version."""
        now = _dt.datetime.now(_dt.timezone.utc).replace(tzinfo=None)
        snap = self.catalog.current_snapshot("corpus_prepared")
        txn.append_rows(spark, "checkpoints", [
            (self.build_id, stage, pid, "committed", now)], CHECKPOINTS)
        txn.append_rows(spark, "lineage", [
            (self.build_id, stage, pid,
             snap["snapshot_id"] if snap else "input",
             rows_in, rows_out)], LINEAGE)
        wall = max(wall, 1e-9)
        txn.append_rows(spark, "metrics", [
            (self.build_id, stage, pid, wall, docs / wall,
             rows_out / wall, bytes_compressed)], METRICS)
        if self.fault is not None:
            self.fault.maybe_kill(stage, "before")
        txn.commit()
        if self.fault is not None:
            self.fault.maybe_kill(stage, "after")

    # ---- stages ----
    def _stage_prepare(self, documents: DataFrame):
        spark = documents.sparkSession
        if 0 in self._done(spark, "prepare"):
            return
        t0 = time.time()
        rows_in = documents.count()
        with_ids, handle = ingest(documents)
        n = handle.n_docs          # summed by the id pass: no count job
        batch_span = max(1, -(-n // self.n_batches))   # ceil
        prepared = with_ids.withColumn(
            "batch", (F.col("doc_id") / F.lit(batch_span)).cast("int"))
        txn = self.catalog.transaction()
        # warc_ts/lang ride along so the tokenize stage can emit the
        # doc_meta sidecar per batch (schemas.DOC_META) — two thin
        # columns next to the html payload the checkpoint already holds
        txn.write(prepared.select("doc_id", "batch", "url", "html",
                                  "warc_ts", "lang"),
                  "corpus_prepared")
        handle.unpersist()
        self._commit(txn, spark, "prepare", 0, rows_in, n, time.time() - t0,
                     docs=n)

    def _stage_tokenize(self, spark: SparkSession):
        done = self._done(spark, "tokenize")
        prepared = self.catalog.read(spark, "corpus_prepared")
        batches = sorted(
            r["batch"] for r in prepared.select("batch").distinct().collect())
        for b in batches:
            if b in done:
                continue
            t0 = time.time()
            part = prepared.filter(F.col("batch") == b)
            tok = tokenize(part, positions=self.cfg.positions).persist()
            postings = postings_from_tokenized(tok)
            docs = docs_table(tok)
            txn = self.catalog.transaction()
            # term-sorted postings files: every term-pruned scan (the
            # exhaustive tier, explain, mlt, significant-terms) gets
            # row-group pruning from its pushed In(term), not just a
            # pushed-but-unprunable filter.  One range shuffle of the
            # thin exploded rows per batch — the html never moves.
            txn.append(postings.repartitionByRange(
                max(1, spark.sparkContext.defaultParallelism // 4),
                "term", "doc_id").sortWithinPartitions("term", "doc_id"),
                "postings")
            txn.append(docs, "docs")
            if {"warc_ts", "lang"} <= set(part.columns):
                # crawl-metadata sidecar, same transaction as its docs
                # (semi-join restricts to the docs the tokenizer kept);
                # column guard keeps resumes of pre-doc_meta checkpoints
                # working — they just stay metadata-less
                from ..operators.corpus import doc_meta_table
                meta = doc_meta_table(part).join(
                    docs.select("doc_id"), "doc_id", "left_semi")
                txn.append(meta, "doc_meta")
            if self.cfg.positions:
                # same transaction: a batch is never visible with postings
                # but no positions.  Term-sorted files so the phrase scan's
                # isin() prunes row groups like the index table's layout.
                pos = positions_from_tokenized(tok)
                pos = pos.repartitionByRange(
                    max(1, spark.sparkContext.defaultParallelism // 4), "term"
                ).sortWithinPartitions("term", "doc_id")
                txn.append(pos, "positions")
            n_docs = docs.count()
            n_post = postings.count()
            tok.unpersist()
            self._commit(txn, spark, "tokenize", b, n_docs, n_post,
                         time.time() - t0, docs=n_docs)

    def _stage_stats(self, spark: SparkSession):
        if 0 in self._done(spark, "stats"):
            return
        t0 = time.time()
        postings = self.catalog.read(spark, "postings")
        docs = self.catalog.read(spark, "docs")
        # persisted: the same agg feeds the dictionary write, the
        # reversed projection, and the n_terms count below
        dictionary = dictionary_table(postings).persist()
        try:
            txn = self.catalog.transaction()
            # term-sorted files: prefix/regex/fuzzy expansions push
            # StartsWith into this scan — sorted row groups make the
            # pushed filter actually prune (TABLE_SORT contract,
            # preserved by compaction)
            n_files = max(1, spark.sparkContext.defaultParallelism // 4)
            txn.write(dictionary.repartitionByRange(n_files, "term")
                      .sortWithinPartitions("term"), "dictionary")
            # reversed projection, rterm-sorted: leading wildcards prune
            # the vocabulary scan like a prefix query (plans/rank.py
            # rdictionary_table).  Same transaction — a catalog never
            # exposes a dictionary without its reversed twin.
            from .rank import rdictionary_table
            txn.write(rdictionary_table(dictionary), "rdictionary")
            stats = docs.agg(
                F.count("*").alias("n_docs"),
                F.coalesce(F.avg("doc_len"), F.lit(0.0)).alias("avgdl"),
            ).withColumn("n_terms", F.lit(None).cast("long"))
            n_terms = dictionary.count()
            stats = stats.withColumn("n_terms", F.lit(n_terms))
            txn.write(stats, "stats")
            self._commit(txn, spark, "stats", 0, 0, n_terms,
                         time.time() - t0)
        finally:
            dictionary.unpersist()

    def _stage_encode(self, spark: SparkSession):
        cfg = self.cfg.index
        done = self._done(spark, "encode")
        pending = [tb for tb in range(cfg.term_buckets) if tb not in done]
        if not pending:
            return
        stats = self.catalog.read_rows("stats")[0]
        avgdl = float(stats["avgdl"]) or 1.0
        postings = self.catalog.read(spark, "postings")
        keyed = _with_keys(postings, cfg).filter(F.col("tb").isin(pending))
        runs = keyed.groupBy("shard", "tb", "salt").applyInPandas(
            _pack_runs, schema=SALTED_RUNS
        ).withColumn("tb", F.pmod(F.xxhash64("term"),
                                  F.lit(cfg.term_buckets)).cast("int"))
        encoded = runs.groupBy("shard", "tb").applyInPandas(
            _make_encode_group(avgdl, self.cfg.bm25, cfg), schema=INDEX
        ).withColumn("tb", F.pmod(F.xxhash64("term"),
                                  F.lit(cfg.term_buckets)).cast("int"))
        encoded = encoded.persist()
        try:
            # one job computes all pending buckets; commits are per-bucket
            for tb in pending:
                t0 = time.time()
                part = encoded.filter(F.col("tb") == tb).drop("tb")
                part = part.repartitionByRange(
                    max(1, spark.sparkContext.defaultParallelism // 4),
                    "shard", "term", "chunk"
                ).sortWithinPartitions("shard", "term", "chunk")
                txn = self.catalog.transaction()
                txn.append(part, "index")
                agg = part.agg(
                    F.count("*").alias("rows"),
                    F.coalesce(F.sum(F.octet_length("payload")), F.lit(0)).alias("bytes"),
                    F.coalesce(F.sum("n_postings"), F.lit(0)).alias("postings"),
                ).collect()[0]
                self._commit(txn, spark, "encode", tb, int(agg["postings"]),
                             int(agg["rows"]), time.time() - t0,
                             bytes_compressed=int(agg["bytes"]))
        finally:
            encoded.unpersist()

    def _stage_segment(self, spark: SparkSession):
        """Record the full build's shard range + build-time avgdl as ONE
        index segment (index_segments row).  The query side inflates a
        segment's block-max bounds by max(1, avgdl_now/built_avgdl), so
        this row is what keeps WAND pruning lossless after incremental
        appends (streaming/incremental.py) drift the corpus avgdl away
        from what the bounds were encoded with."""
        if 0 in self._done(spark, "segment"):
            return
        t0 = time.time()
        stats = self.catalog.read_rows("stats")[0]
        rng = self.catalog.read(spark, "index").agg(
            F.min("shard").alias("lo"), F.max("shard").alias("hi")).collect()[0]
        if rng["lo"] is None:
            return
        now = _dt.datetime.now(_dt.timezone.utc).replace(tzinfo=None)
        txn = self.catalog.transaction()
        txn.append_rows(spark, "index_segments", [
            (self.build_id, int(rng["lo"]), int(rng["hi"]),
             float(stats["avgdl"]), int(stats["n_docs"]), now)],
            INDEX_SEGMENTS)
        self._commit(txn, spark, "segment", 0, 0, 1, time.time() - t0)

    # ---- driver ----
    def build(self, documents: DataFrame | None = None) -> None:
        """Run all stages; resumable — committed partitions are skipped.
        ``documents`` may be None on resume if `prepare` already committed."""
        spark = (documents.sparkSession if documents is not None
                 else SparkSession.getActiveSession())
        if documents is not None:
            self._stage_prepare(documents)
        elif 0 not in self._done(spark, "prepare"):
            raise ValueError("resume without documents requires a committed "
                             "prepare stage")
        self._stage_tokenize(spark)
        self._stage_stats(spark)
        self._stage_encode(spark)
        self._stage_segment(spark)

    # ---- read side ----
    def tables(self, spark: SparkSession) -> dict:
        out = {}
        for t in ("docs", "doc_meta", "postings", "dictionary", "stats",
                  "index", "index_segments", "positions",
                  "checkpoints", "lineage", "metrics"):
            if self.catalog.table_exists(t):
                out[t] = self.catalog.read(spark, t)
        return out

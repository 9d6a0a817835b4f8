"""Targeted document removal: merge-on-read tombstones + atomic purge.

A web-scale corpus must support removing specific documents after the
fact — takedown notices, robots.txt retractions, GDPR erasure — without
rewriting a 100 TB table per request.  This module implements the
Iceberg-style split the reference pipeline has no answer for (its
JSONL partitions can only be rebuilt wholesale):

- ``tombstone_urls`` resolves the urls to the doc_ids CURRENTLY
  indexed for them and commits those ids to a tiny ``doc_tombstones``
  table — one manifest commit, zero data rewritten.  Keying by doc_id
  (not url) means a later re-crawl of the same url gets a fresh id and
  is NOT retro-deleted; only the documents visible at request time are.
- ``live_docs`` / ``live_postings`` are the merge-on-read views: the
  stored table anti-joined against the broadcast tombstone set.  The
  tombstone side is bounded by takedown volume (thousands), so the
  filter is a broadcast-hash anti-join that adds no shuffle to a scan
  of any size.
- ``purge_tombstones`` is the merge-on-write step maintenance runs at
  leisure: rewrite docs AND postings without the tombstoned ids and
  truncate the tombstone table, all in ONE catalog transaction — a
  crash at any instant leaves either the old state (tombstones intact,
  rows masked by the views) or the new (rows physically gone), never a
  half-purge where postings survive their doc row.  Old snapshots'
  files are reclaimed by ``Catalog.expire_snapshots`` + ``vacuum``,
  which is what makes erasure COMPLETE on disk, not just invisible.
"""

from __future__ import annotations

import datetime as _dt
from typing import Callable

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..config import BM25Config, IndexConfig
from ..schemas import INDEX_SEGMENTS, TOMBSTONES
from ..sources.catalog import Catalog


def tombstone_urls(spark: SparkSession, catalog: Catalog, urls: list,
                   reason: str = "takedown") -> int:
    """Mark every doc currently indexed for ``urls`` as deleted.
    Returns the number of doc_ids tombstoned (0 if none matched; no
    commit happens then).  Already-tombstoned ids are not re-added."""
    if not urls or not catalog.table_exists("docs"):
        return 0
    url_df = spark.createDataFrame([(u,) for u in urls], "url string")
    hits = (catalog.read(spark, "docs")
            .join(F.broadcast(url_df), "url")
            .select("doc_id", "url"))
    if catalog.table_exists("doc_tombstones"):
        existing = catalog.read(spark, "doc_tombstones").select("doc_id")
        hits = hits.join(F.broadcast(existing), "doc_id", "left_anti")
    rows = hits.collect()                    # bounded by takedown volume
    if not rows:
        return 0
    now = _dt.datetime.now(_dt.timezone.utc).replace(tzinfo=None)
    catalog.transaction().append_rows(
        spark, "doc_tombstones",
        [(r["doc_id"], r["url"], now, reason) for r in rows],
        TOMBSTONES).commit()
    return len(rows)


def _masked(spark: SparkSession, catalog: Catalog, table: str) -> DataFrame:
    df = catalog.read(spark, table)
    if not catalog.table_exists("doc_tombstones"):
        return df
    ids = catalog.read(spark, "doc_tombstones").select("doc_id").distinct()
    return df.join(F.broadcast(ids), "doc_id", "left_anti")


def live_docs(spark: SparkSession, catalog: Catalog) -> DataFrame:
    """docs minus tombstoned ids (broadcast anti-join, shuffle-free)."""
    return _masked(spark, catalog, "docs")


def live_postings(spark: SparkSession, catalog: Catalog) -> DataFrame:
    """postings minus tombstoned ids (broadcast anti-join)."""
    return _masked(spark, catalog, "postings")


def purge_tombstones(spark: SparkSession, catalog: Catalog,
                     fault: Callable | None = None,
                     bm25: BM25Config = BM25Config(),
                     index_cfg: IndexConfig = IndexConfig()) -> int:
    """Physically rewrite docs + postings without tombstoned ids and
    empty the tombstone table — one atomic transaction.  Returns the
    number of doc_ids purged.  ``fault`` (tests only) runs just before
    the commit: the torn window must leave the OLD state fully intact.

    The compressed ``index`` is DERIVED data that still embeds the
    victims' postings inside encoded blocks, so it is re-encoded from
    the live postings IN THE SAME transaction — erasure is never "docs
    gone but index still scores them".  Clearing the tombstone list
    while leaving the index stale would otherwise let WAND burn top-k
    slots on dead ids between purge and the next reindex (they drop at
    the docs back-join, leaving under-k results with no backfill), and
    the erasure would not be physical.  The SCORING state is
    intentionally frozen: stats (n_docs/avgdl) and the dictionary
    (df -> idf) are as-of-indexing — deletion masks documents, it does
    not re-score the corpus (Lucene's docFreq likewise retains deleted
    docs until a merge) — so the re-encode runs at the unchanged avgdl
    and surviving scores are bit-identical to the masked results.  The
    ``index_segments`` row refreshes in a follow-up commit (same
    two-commit shape as ``reindex``: the shard range is only known once
    the index materialized; between the commits the stale scale list is
    >= 1, which loosens pruning but never results)."""
    if not catalog.table_exists("doc_tombstones"):
        return 0
    tomb = catalog.read(spark, "doc_tombstones").select("doc_id").distinct()
    n = tomb.count()
    if n == 0:
        return 0
    txn = catalog.transaction()
    txn.write(live_docs(spark, catalog), "docs")
    has_index = catalog.table_exists("index")
    n_files = max(1, spark.sparkContext.defaultParallelism // 4)
    if catalog.table_exists("postings"):
        live_p = live_postings(spark, catalog)
        # full rewrite anyway — re-establish the term-sorted layout
        # (TABLE_SORT) so post-purge scans keep their row-group pruning
        txn.write(live_p.repartitionByRange(n_files, "term", "doc_id")
                  .sortWithinPartitions("term", "doc_id"), "postings")
        if has_index:
            from ..operators.compress import build_compressed_index

            stats = catalog.read_rows("stats")[0]
            avgdl = float(stats["avgdl"]) or 1.0
            txn.write(build_compressed_index(live_p, avgdl, bm25,
                                             index_cfg)
                      .repartitionByRange(n_files, "shard", "term",
                                          "chunk")
                      .sortWithinPartitions("shard", "term", "chunk"),
                      "index")
    if catalog.table_exists("positions"):
        # positional index (BuildConfig.positions) purges in the same
        # transaction — phrase queries and WAND never disagree on which
        # docs exist; rewrite keeps the term-sorted layout
        txn.write(_masked(spark, catalog, "positions")
                  .repartitionByRange(n_files, "term", "doc_id")
                  .sortWithinPartitions("term", "doc_id"), "positions")
    if catalog.table_exists("doc_meta"):
        # the crawl-metadata sidecar purges with its docs: erasure
        # removes the victim's timestamps/host too, not just its text
        txn.write(_masked(spark, catalog, "doc_meta"), "doc_meta")
    txn.write_rows(spark, "doc_tombstones", [], TOMBSTONES)
    if fault is not None:
        fault()
    txn.commit()
    if has_index and catalog.table_exists("index_segments"):
        stats = catalog.read_rows("stats")[0]
        avgdl = float(stats["avgdl"]) or 1.0
        rng = catalog.read(spark, "index").agg(
            F.min("shard").alias("lo"),
            F.max("shard").alias("hi")).collect()[0]
        if rng["lo"] is not None:
            now = _dt.datetime.now(_dt.timezone.utc).replace(tzinfo=None)
            txn2 = catalog.transaction()
            txn2.write_rows(spark, "index_segments",
                            [("purge", int(rng["lo"]), int(rng["hi"]),
                              avgdl, int(stats["n_docs"]), now)],
                            INDEX_SEGMENTS)
            txn2.commit()
    return n


def reindex(spark: SparkSession, catalog: Catalog,
            bm25: BM25Config = BM25Config(),
            index_cfg: IndexConfig = IndexConfig(),
            segment_id: str = "reindex") -> int:
    """Merge all index segments back into ONE: re-encode the whole
    postings table at the CURRENT avgdl and atomically replace index +
    dictionary + index_segments (single row, scale factor 1) in one
    transaction.  Returns the number of segments merged away.

    This is the background-merge step of the segment lifecycle
    (streaming/incremental.py ``maintain_index``): per-batch segments
    keep queries current with zero rebuild latency, but segment count —
    and with it the per-term dictionary delta rows, the bound_scale
    list, and the bound inflation slack that makes pruning admissible
    yet looser than freshly-encoded bounds — grows with stream age.
    Periodic reindex resets all three, exactly as Lucene's segment
    merges do.  Queries keep serving the old snapshot until the single
    pointer swap; results are unchanged by construction (same postings,
    same stats — only the physical layout and bound tightness move).
    Old snapshots' files are reclaimed by expire_snapshots + vacuum."""
    from ..operators.compress import build_compressed_index
    from ..operators.postings import dictionary_table

    n_segments = (len(catalog.read_rows("index_segments", ["segment_id"]))
                  if catalog.table_exists("index_segments") else 0)
    stats = catalog.read_rows("stats")[0]
    avgdl = float(stats["avgdl"]) or 1.0
    postings = catalog.read(spark, "postings")
    index = build_compressed_index(postings, avgdl, bm25, index_cfg)
    txn = catalog.transaction()
    # same (shard, term, chunk)-sorted layout the batch builder's encode
    # stage writes (TABLE_SORT): WAND's pushed In(term) keeps pruning
    # row groups after the merge
    txn.write(index.repartitionByRange(
        max(1, spark.sparkContext.defaultParallelism // 4),
        "shard", "term", "chunk")
        .sortWithinPartitions("shard", "term", "chunk"), "index")
    dictionary = dictionary_table(postings).persist()
    try:
        n_files = max(1, spark.sparkContext.defaultParallelism // 4)
        txn.write(dictionary.repartitionByRange(n_files, "term")
                  .sortWithinPartitions("term"), "dictionary")
        # the reversed projection collapses from per-segment delta rows
        # back to one row per term in the same transaction (plans/rank.py
        # rdictionary_table) — wildcard expansion and idf lookups reset
        # together, exactly like a Lucene segment merge
        from .rank import rdictionary_table
        txn.write(rdictionary_table(dictionary), "rdictionary")
        txn.commit()
    finally:
        dictionary.unpersist()
    # shard range only known after the index materialized: record the
    # merged segment in a follow-up commit (readers between the two
    # commits see a correct index with a stale-but-admissible scale
    # list, since factor >= 1 only loosens pruning, never results)
    rng = catalog.read(spark, "index").agg(
        F.min("shard").alias("lo"), F.max("shard").alias("hi")).collect()[0]
    import datetime as _dt2
    now = _dt2.datetime.now(_dt2.timezone.utc).replace(tzinfo=None)
    txn2 = catalog.transaction()
    txn2.write_rows(spark, "index_segments",
                    [(segment_id, int(rng["lo"]), int(rng["hi"]), avgdl,
                      int(stats["n_docs"]), now)], INDEX_SEGMENTS)
    txn2.commit()
    return max(0, n_segments - 1)

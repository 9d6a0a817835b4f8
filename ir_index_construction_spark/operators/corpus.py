"""Corpus ingest: defrag -> validity filter -> dedup -> dense doc ids.

Covers SURVEY.md §2 O1-O5.  Everything except the urllib defrag is
native or Arrow-vectorized.

Scale design (SURVEY.md §4.3): the whole O4+O5 tail — first-occurrence
dedup AND dense deterministic id assignment — costs exactly ONE shuffle
of the corpus.  ``repartitionByRange(url)`` co-locates equal urls and
globally orders ranges; within each sorted partition duplicates are
adjacent, so the same Arrow pass that attaches ids drops them (keep
earliest ``warc_ts``).  A window-function dedup would add a second full
shuffle of the html payload; at 100 TB that is the difference between
one corpus pass and two.  doc_id = cumulative count of distinct urls in
partitions left of mine + my local rank, i.e. the global url rank —
deterministic across runs and cluster sizes (range boundaries are
sampled, but the rank is boundary-invariant).  Only one tiny count per
partition ever reaches the driver.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark import StorageLevel
from pyspark.sql import DataFrame, functions as F

from ..functions.udfs import url_parts_udf
from ..text.normalize import EXT_BLACKLIST_PATTERN


def defrag_and_filter(documents: DataFrame) -> DataFrame:
    """defrag + is_valid_url (indexer.py:95-150): one Arrow pass for the
    urllib semantics, native whole-stage-codegen'd predicates."""
    parts = documents.withColumn("_p", url_parts_udf(F.col("url")))
    return (
        parts
        .withColumn("url", F.col("_p.url"))
        # '...=txt' rejection: split('=')[-1] == 'txt' (indexer.py:130-132)
        .filter(F.element_at(F.split(F.col("url"), "="), -1) != "txt")
        .filter(F.col("_p.scheme").isin("http", "https"))
        # blacklist matched with re.match semantics == rlike '^...' anchor
        .filter(~F.col("_p.path").rlike("^" + EXT_BLACKLIST_PATTERN))
        .drop("_p")
    )


# url host extraction — the same expression collapse_by_domain keys on
# (plans/query.py), so "source" means one thing engine-wide
DOMAIN_RE = r"^[a-z][a-z0-9+.-]*://([^/?#]+)"


def doc_meta_table(with_ids: DataFrame) -> DataFrame:
    """doc_meta(doc_id, warc_ts, lang, source) — the crawl-metadata
    sidecar of the docs table (schemas.DOC_META).  One projection of the
    id-assigned corpus frame: source is the url host, derived JVM-side.
    The metadata query family (filtered search, date facets, recency
    decay) serves from this table instead of a caller-supplied dims
    frame — a production engine answers "when was this topic crawled"
    from its own catalog."""
    return with_ids.select(
        "doc_id", "warc_ts", "lang",
        F.regexp_extract("url", DOMAIN_RE, 1).alias("source"))


class _IdPassHandle:
    """Owns the id pass's persisted frames; unpersist() frees them all.
    ``n_docs`` is the number of ids the pass assigned (the row count of
    its with_ids frame), summed from the per-partition counts the pass
    already collects — so callers need no count job."""

    def __init__(self, *dfs, n_docs: int | None = None):
        self._dfs = [d for d in dfs if d is not None]
        self.n_docs = n_docs

    def unpersist(self, blocking: bool = False):
        for d in self._dfs:
            try:
                d.unpersist(blocking=blocking)
            except Exception:
                pass


def dedup_assign_ids(df: DataFrame, sort_cols: list | None = None,
                     id_partitions: int | None = None,
                     stats_out: dict | None = None,
                     cache_input: bool = False) -> tuple:
    """First-occurrence dedup + dense deterministic doc_id for any
    DataFrame with a ``url`` column.  Returns (with_ids, persisted_handle);
    caller owns ``handle.unpersist()`` once with_ids is materialized.

    One shuffle of df total: range-partition by url + in-partition sort
    (url, warc_ts, ...) -> persist (freezes the sampled range boundaries
    so the count and attach passes see the same partitioning) -> per-
    partition distinct-url counts (tiny collect) -> Arrow pass that drops
    adjacent duplicate urls (keep first = earliest warc_ts) and attaches
    doc_id = global url rank (boundary-invariant, stable across runs and
    cluster sizes).

    stats_out (optional dict) receives {'n_rows', 'n_distinct_keys'}
    where keys = the first two sort_cols — measured on the SAME pass as
    the id offsets, so callers can detect exact-key duplicates (e.g. two
    crawl rows with identical url AND warc_ts) without any extra scan
    and only pay a dedup shuffle when one actually exists.

    cache_input=True persists df BEFORE the range exchange: the range
    partitioner's sampling pass and the exchange itself each evaluate
    the child plan, so without a cache the upstream scan + url UDF run
    twice.  Only set it for THIN projections (the batch build's
    (url, warc_ts) id pass) — never for frames carrying html.
    """
    spark = df.sparkSession
    if sort_cols is None:
        sort_cols = ["url", "warc_ts"]
    if id_partitions is None:
        id_partitions = max(spark.sparkContext.defaultParallelism, 8)

    if cache_input:
        df = df.persist(StorageLevel.MEMORY_AND_DISK)
    part = (
        df.repartitionByRange(id_partitions, "url")
        .sortWithinPartitions(*sort_cols)
        .withColumn("_pid", F.spark_partition_id())
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    key_cols = sort_cols[:2]

    # per-partition counts WITHOUT a shuffle (round 6, guide §2.4): the
    # partition is already sorted by sort_cols, so equal urls — and
    # equal (url, warc_ts) keys — are adjacent, and "distinct" is a
    # boundary count over one Arrow pass.  The former
    # groupBy(_pid).agg(countDistinct(url), countDistinct(url, warc_ts))
    # planned an Expand (x3 row streams) feeding a full exchange; this
    # map-only pass also materializes the persisted `part` as a side
    # effect, exactly like the old counting job did.
    key2 = key_cols[1] if len(key_cols) > 1 else None

    def part_counts(batches):
        pid = None
        n_rows = n_urls = n_keys = 0
        last_url = last_k2 = None
        for pdf in batches:
            if len(pdf) == 0:
                continue
            pid = int(pdf["_pid"].iloc[0])
            urls = pdf["url"].to_numpy()
            n_rows += len(pdf)
            url_new = np.empty(len(pdf), bool)
            url_new[0] = (last_url is None) or (urls[0] != last_url)
            url_new[1:] = urls[1:] != urls[:-1]
            n_urls += int(url_new.sum())
            if key2 is None:
                n_keys = n_urls
            else:
                k2 = pdf[key2].to_numpy()
                key_new = url_new.copy()
                key_new[0] = key_new[0] or (k2[0] != last_k2)
                key_new[1:] |= k2[1:] != k2[:-1]
                n_keys += int(key_new.sum())
                last_k2 = k2[-1]
            last_url = urls[-1]
        if pid is not None:
            yield pd.DataFrame({"_pid": [pid], "n": [n_urls],
                                "n_rows": [n_rows], "n_keys": [n_keys]})

    rows = part.select("_pid", *key_cols).mapInPandas(
        part_counts, schema="_pid int, n long, n_rows long, n_keys long"
    ).collect()
    counts = {r["_pid"]: r["n"] for r in rows}
    if stats_out is not None:
        stats_out["n_rows"] = sum(r["n_rows"] for r in rows)
        stats_out["n_distinct_keys"] = sum(r["n_keys"] for r in rows)
    offsets = {}
    acc = 0
    for pid in sorted(counts):
        offsets[pid] = acc
        acc += counts[pid]
    bc = spark.sparkContext.broadcast(offsets)

    # fresh StructType: StructType.add MUTATES the DataFrame's cached
    # schema object, which would leak a phantom doc_id column into every
    # later use of the same input DataFrame in this session
    from pyspark.sql.types import LongType, StructField, StructType
    out_schema = StructType(
        list(df.schema.fields) + [StructField("doc_id", LongType(), False)])
    out_cols = [f.name for f in out_schema.fields]

    def dedup_and_attach(batches):
        local = 0
        last_url = None
        for pdf in batches:
            if len(pdf) == 0:
                continue
            base = bc.value[int(pdf["_pid"].iloc[0])]
            urls = pdf["url"].to_numpy()
            keep = np.ones(len(pdf), bool)
            if len(pdf) > 1:
                keep[1:] = urls[1:] != urls[:-1]
            if last_url is not None:
                keep[0] = urls[0] != last_url
            last_url = urls[-1]
            pdf = pdf[keep].drop(columns=["_pid"])
            pdf["doc_id"] = np.arange(base + local, base + local + len(pdf),
                                      dtype=np.int64)
            local += len(pdf)
            yield pdf[out_cols]

    handle = _IdPassHandle(part, df if cache_input else None, n_docs=acc)
    return part.mapInPandas(dedup_and_attach, schema=out_schema), handle


def dedup_assign_ids_payload(cleaned: DataFrame,
                             id_partitions: int | None = None) -> tuple:
    """First-occurrence dedup + dense ids for a frame CARRYING the html
    payload, without ever shuffling — or twice scanning — the payload on
    the common path (round 6, guide §8 "decide with small rows, move big
    rows once").

    The direct ``dedup_assign_ids(cleaned, [url, warc_ts, html])`` pays
    for its range exchange twice on the payload: the range partitioner's
    sampling pass executes the full child (scan + url UDF, all columns)
    once for bounds, then the exchange itself moves every page's html.
    Instead: run the id machinery on the THIN (url, warc_ts) projection
    (columnar scan skips html entirely; the projection is cached), then
    attach ids by an inner join on (url, warc_ts) — Catalyst/AQE
    broadcasts the thin side at small scale (html never shuffles) or
    shuffle-joins at cluster scale (html moves exactly once, same as the
    old exchange, but without the second scan).

    Identical output: the join key (url, warc_ts) identifies the
    survivor exactly when no two rows share it.  The thin pass measures
    that for free (stats n_rows vs n_distinct_keys, same mechanism the
    batch build uses); in the dirty-crawl case — rows with identical
    (url, warc_ts) but different html — it falls back to the original
    payload-sorted range pass, whose (url, warc_ts, html) sort order is
    the documented deterministic-survivor contract.  Returns
    (with_ids, handle) with the same schema/column order as the direct
    call (join keys lead in both layouts); on both paths
    ``handle.n_docs`` is with_ids' row count (one row per distinct
    url)."""
    stats: dict = {}
    key_ids, handle = dedup_assign_ids(
        cleaned.select("url", "warc_ts"), ["url", "warc_ts"],
        id_partitions, stats_out=stats, cache_input=True)
    if stats["n_rows"] > stats["n_distinct_keys"]:
        handle.unpersist(blocking=True)         # rare dirty-data path
        return dedup_assign_ids(cleaned, ["url", "warc_ts", "html"],
                                id_partitions)
    return cleaned.join(key_ids, ["url", "warc_ts"], "inner"), handle


def ingest(documents: DataFrame, id_partitions: int | None = None) -> tuple:
    """Full O1-O5 chain over raw documents: defrag + filter + dedup +
    dense ids.  Returns (with_ids, persisted_handle).

    Used by the resumable builder (which checkpoints the prepared corpus
    with html for per-batch re-tokenization).  The batch build uses the
    tokenize-first path in plans/build.py instead, which never shuffles
    or caches html; this path uses the thin-id-pass + key-join attach
    (dedup_assign_ids_payload) so the html is read once and only
    shuffles if the optimizer picks a shuffle join at scale."""
    cleaned = defrag_and_filter(documents)
    return dedup_assign_ids_payload(cleaned, id_partitions)

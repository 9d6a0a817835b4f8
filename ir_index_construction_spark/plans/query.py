"""Query-time top-k retrieval plans.

Two physical strategies with identical semantics (tested against each
other and against the pure-Python oracle):

  * bm25_topk_exhaustive — pure native DataFrame plan over the flat
    postings table: broadcast the (tiny) query terms, score every
    candidate posting with a whole-stage-codegen'd BM25 expression, one
    hash-agg shuffle keyed on doc_id, TakeOrderedAndProject for top-k.
    This is the oracle-SQL-expressible path (DuckDB cross-check).

  * wand path (operators/topk.py) — block-max WAND over the compressed
    document-sharded index: shard-local scorer, no shuffle, global
    TakeOrdered merge.  The scale path.

Boolean AND (searcher.py:194-197): candidate must match ALL distinct
query terms; any term with zero postings empties the result before any
job launches (driver-side early exit against the dictionary —
searcher.py:153-155).
"""

from __future__ import annotations

from collections import Counter

import numpy as np
import pandas as pd
import pyarrow.compute as pc
from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.window import Window

from ..config import BM25Config
from ..schemas import PHRASE_TOPK, TOPK
from ..text.normalize import parse_query
import math


def empty_topk(spark: SparkSession) -> DataFrame:
    """An empty TOPK page that collects with no Spark job: a one-row
    Arrow local relation limited to none, which the optimizer folds into
    an empty local table scan.  ``createDataFrame([], TOPK)`` (and an
    empty pandas frame, which falls back to it) is an RDD scan whose
    collect is one job, ~300 ms warm on local[2]."""
    row = pd.DataFrame({"rank": [0], "doc_id": [0], "url": [""],
                        "score": [0.0]})
    return spark.createDataFrame(row, TOPK).limit(0)


def doc_id_frame(spark: SparkSession, doc_ids) -> DataFrame:
    """A (doc_id long) frame of ``doc_ids`` (a tombstone set, a result
    page), sorted.  Built from a pandas frame, so Arrow ships it to the
    JVM as a local relation: no Spark job, where a list of tuples runs
    one job to pickle its rows."""
    ids = np.asarray(sorted(int(i) for i in doc_ids), dtype=np.int64)
    return spark.createDataFrame(pd.DataFrame({"doc_id": ids}),
                                 "doc_id long")


def phrase_topk_indexed(
    positions: DataFrame,
    docs: DataFrame,
    query: str,
    n_docs: int,
    avgdl: float,
    k: int = 10,
    bm25: BM25Config = BM25Config(),
    exclude_ids=None,
    pre_parsed: list | None = None,
    df_cache: dict | None = None,
) -> DataFrame:
    """Exact-phrase top-k over the catalog's positional index
    (BuildConfig.positions).  Returns PHRASE_TOPK (rank, doc_id, url,
    ptf, score).

    ``df_cache`` (caller-owned, snapshot-bound — same contract as
    ``idf_cache`` on the term paths): maps a phrase's term tuple to its
    matched-doc count, so a long-lived query service pays the df_p job
    once per phrase lifetime and a steady-state phrase query runs ONE
    Spark job (match + score + rank).  The cache is only valid for one
    immutable catalog state (tombstoning commits a new snapshot, so
    exclusion changes invalidate it with it).

    The query is normalized + stemmed with the SAME parse the OR/AND
    paths use, so a phrase matches exactly when its words would match as
    terms and additionally sit adjacent in the kept-token stream (the
    position convention of text/normalize.doc_term_positions).
    ``pre_parsed`` bypasses parse_query with an explicit stemmed term
    sequence (unstemmed indexes / programmatic callers).

    Plan: pruned positions scan (static IN list -> parquet row-group stats
    on the term-sorted layout) -> optional broadcast anti-join against
    the deletion set (tombstones mask phrase results exactly like WAND's
    exclude_ids) -> ONE doc_id hash agg building per-offset position
    arrays -> array_intersect of offset-shifted arrays = phrase starts
    (operators/phrase.py) -> join the (small) matched set against docs
    for doc_len/url (AQE broadcasts the matched side) -> BM25
    virtual-term scoring (tf = start count, df = matching docs) ->
    TakeOrderedAndProject.  Two jobs total (df_p, then the scored
    top-k) — the df_p pass reuses the same pruned scan; no caching is
    held across queries.
    """
    from ..operators.phrase import phrase_match

    spark = positions.sparkSession
    terms = pre_parsed if pre_parsed is not None else parse_query(query)[0]
    if not terms or n_docs == 0 or avgdl == 0:
        return spark.createDataFrame([], PHRASE_TOPK)
    if exclude_ids:
        dead = doc_id_frame(spark, exclude_ids)
        positions = positions.join(F.broadcast(dead), "doc_id", "left_anti")
    matched = phrase_match(positions, list(terms),
                           pos_col="positions", plural=True)
    key = tuple(terms)
    if df_cache is not None and key in df_cache:
        df_p = df_cache[key]
    else:
        df_p = matched.count()
        if df_cache is not None:
            df_cache[key] = df_p
    if df_p == 0:
        return spark.createDataFrame([], PHRASE_TOPK)
    idf = math.log((n_docs - df_p + 0.5) / (df_p + 0.5) + 1.0)
    k1, b = bm25.k1, bm25.b
    w = (F.col("ptf") * F.lit(k1 + 1.0)) / (
        F.col("ptf")
        + F.lit(k1) * (F.lit(1.0 - b)
                       + F.lit(b) * (F.col("doc_len") / F.lit(avgdl)))
    )
    scored = (
        matched.join(docs.select("doc_id", "url", "doc_len"), "doc_id")
        .select("doc_id", "url", "ptf", (F.lit(idf) * w).alias("score"))
    )
    topk = scored.orderBy(
        F.col("score").desc(), F.col("doc_id").asc()).limit(k)
    win = Window.orderBy(F.col("score").desc(), F.col("doc_id").asc())
    return (
        topk.withColumn("rank", F.row_number().over(win).cast("int"))
        .select("rank", "doc_id", "url", "ptf", "score")
    )


class TermStatsCache:
    """Term df/idf cache for a long-lived query service, BOUND to one
    immutable index snapshot: ``for_snapshot(snapshot_id)`` returns the
    per-term dict to pass as ``idf_cache=``; when the catalog advances
    (rebuild, incremental append -> new snapshot id) the cache empties
    itself, so the service can never serve stale idf against a newer
    index.  ``snapshot_id`` is whatever identifies the catalog state —
    the catalog record's ``catalog_id`` is the natural key."""

    def __init__(self):
        self._snapshot = None
        self._terms: dict = {}

    def for_snapshot(self, snapshot_id) -> dict:
        if snapshot_id != self._snapshot:
            self._snapshot = snapshot_id
            self._terms = {}
        return self._terms


def phrase_topk_batch(
    positions: DataFrame,
    docs: DataFrame,
    queries: dict,
    n_docs: int,
    avgdl: float,
    k: int = 10,
    bm25: BM25Config = BM25Config(),
    exclude_ids=None,
    pre_parsed: dict | None = None,
) -> DataFrame:
    """Score a whole phrase WORKLOAD in one pass: ``queries`` maps
    query_id -> phrase string.  Returns (query_id, rank, doc_id, url,
    ptf, score), rank <= k per query — row- and score-identical to
    running phrase_topk_indexed per query (pytest-asserted), at a
    per-phrase cost that amortizes the scan and job floor exactly like
    wand_topk_batch does for term queries.

    Two jobs for the whole set, ONE positional scan: job 1 materializes
    the matched set (query_id, doc_id, ptf) into a MEMORY_AND_DISK
    cache while collecting per-query matched-doc counts (df_p; one row
    per query comes back to the driver, so idf is computed with the
    same Python float ops as the single-phrase path — bit-identical
    scores); job 2 scores + rank-windows FROM THE CACHE
    (hash-partitioned on query_id), so the pruned positions scan and
    the phrase match never run twice.  The matched set is bounded by
    the workload's hit count (disk-backed if a common-word phrase blows
    past storage memory) and is unpersisted before returning — the
    final page (<= |queries| * k rows) is materialized here, which is
    what lets the cache be released deterministically.  The
    phrase->term map is broadcast; the positions scan is pruned to the
    union of all phrases' terms."""
    from pyspark import StorageLevel

    from ..operators.phrase import phrase_match_batch

    spark = positions.sparkSession
    parsed = pre_parsed if pre_parsed is not None else {
        qid: parse_query(q)[0] for qid, q in queries.items()}
    parsed = {qid: list(t) for qid, t in parsed.items() if t}
    out_schema = ("query_id string, rank int, doc_id long, url string, "
                  "ptf long, score double")
    if not parsed or n_docs == 0 or avgdl == 0:
        return spark.createDataFrame([], out_schema)
    if exclude_ids:
        dead = doc_id_frame(spark, exclude_ids)
        positions = positions.join(F.broadcast(dead), "doc_id", "left_anti")
    occ = phrase_match_batch(positions, parsed,
                             pos_col="positions", plural=True)
    occ = occ.persist(StorageLevel.MEMORY_AND_DISK)
    try:
        dfp = {r["query_id"]: r["df_p"] for r in
               occ.groupBy("query_id")
               .agg(F.count("*").alias("df_p")).collect()}
        if not dfp:
            return spark.createDataFrame([], out_schema)
        idf_df = F.broadcast(spark.createDataFrame(
            [(qid, math.log((n_docs - df + 0.5) / (df + 0.5) + 1.0))
             for qid, df in dfp.items()],
            "query_id string, idf double"))
        k1, b = bm25.k1, bm25.b
        w = (F.col("ptf") * F.lit(k1 + 1.0)) / (
            F.col("ptf")
            + F.lit(k1) * (F.lit(1.0 - b)
                           + F.lit(b) * (F.col("doc_len") / F.lit(avgdl)))
        )
        scored = (
            occ.join(idf_df, "query_id")
            .join(docs.select("doc_id", "url", "doc_len"), "doc_id")
            .select("query_id", "doc_id", "url", "ptf",
                    (F.col("idf") * w).alias("score"))
        )
        win = Window.partitionBy("query_id").orderBy(
            F.col("score").desc(), F.col("doc_id").asc())
        page = (
            scored.withColumn("rank", F.row_number().over(win).cast("int"))
            .filter(F.col("rank") <= k)
            .select("query_id", "rank", "doc_id", "url", "ptf", "score")
            .collect()
        )
    finally:
        occ.unpersist()
    return spark.createDataFrame(page, out_schema)


def term_in(terms):
    """``F.col("term").isin(terms)`` built in ONE driver-to-JVM call.

    ``Column.isin`` makes a py4j round trip per literal: 140-460 ms for
    the ~400 terms of a 1000-query batch (local[2] on an idle 4-vCPU
    host), and more whenever the host is busy, since each round trip
    waits on both processes being scheduled.  The IN list is instead
    sent as one SQL expression and parsed in the JVM; it yields the
    same ``In(term, ...)`` expression, so the same scan pushdown and
    plan.  Strings only: backslash and quote are escaped as Spark's SQL
    parser reads them (``spark.sql.parser.escapedStringLiterals`` at
    its default)."""
    terms = list(terms)
    if not terms:
        return F.lit(False)
    quoted = ", ".join(
        "'" + t.replace("\\", "\\\\").replace("'", "\\'") + "'"
        for t in terms)
    return F.expr(f"`term` IN ({quoted})")


def idf_lookup_frame(dictionary: DataFrame, terms) -> DataFrame:
    """The (term, df) rows of ``terms``: one dictionary scan with the
    terms pushed into it as ``In(term)`` (row-group pruning on the
    term-sorted files), no join and no exchange."""
    return dictionary.filter(term_in(sorted(terms))).select("term", "df")


def _term_df_rows(dictionary, terms):
    """(term, df) rows of ``terms`` from ``dictionary``: a Spark frame
    (one pushed-down scan job, ``idf_lookup_frame``) or a pyarrow
    dataset over a snapshot's dictionary files (read on the driver with
    the same In filter, no job)."""
    if isinstance(dictionary, DataFrame):
        return [(r["term"], r["df"])
                for r in idf_lookup_frame(dictionary, terms).collect()]
    table = dictionary.to_table(columns=["term", "df"],
                                filter=pc.field("term").isin(sorted(terms)))
    return zip(table.column("term").to_pylist(),
               table.column("df").to_pylist())


def query_term_idf(spark: SparkSession, dictionary, terms,
                   n_docs: int, cache: dict | None = None) -> dict:
    """Driver-side df lookup for the query terms: a pushed-down scan of
    the dictionary for <10 terms, its rows summed per term on the
    driver.  ``dictionary`` is the Spark frame (ONE Spark job) or a
    pyarrow dataset over the same snapshot's files (no job; the query
    service's driver route).  Returns {term: (df, idf)} for terms
    present.

    `cache` (optional, caller-owned, e.g. a long-lived query service /
    REPL): terms already looked up — INCLUDING absent ones, stored as
    None — skip the lookup entirely; only genuinely new terms pay one.
    The reference loads its whole dictionary into driver
    memory at startup (searcher.py); this caches only the queried
    working set, which is what fits when the dictionary has 10^9 terms.
    A cache is only valid for one immutable index snapshot (idf depends
    on n_docs) — discard it on catalog refresh."""
    wanted = set(terms)
    missing = wanted if cache is None else {t for t in wanted if t not in cache}
    looked_up: dict = {}
    if missing:
        # sum over rows: an incrementally-maintained dictionary holds one
        # delta row per segment per term (batches index disjoint docs, so
        # per-segment dfs sum exactly to the global df); a full-build
        # dictionary has one row per term and the sum is the identity.
        # Integer sums, so the driver's sum equals Spark's exactly.
        dfs: dict = {}
        for term, df in _term_df_rows(dictionary, missing):
            dfs[term] = dfs.get(term, 0) + df
        for t, df in dfs.items():
            looked_up[t] = (
                df, math.log((n_docs - df + 0.5) / (df + 0.5) + 1.0))
        if cache is not None:
            for t in missing:
                cache[t] = looked_up.get(t)   # None = known-absent
    if cache is None:
        return looked_up
    return {t: cache[t] for t in wanted if cache.get(t) is not None}


def expand_prefix(dictionary: DataFrame, prefix: str,
                  max_expansions: int = 50,
                  cache: dict | None = None) -> list:
    """Dictionary prefix scan -> the df-heaviest matching terms (the
    expansion set for a wildcard query).  StartsWith pushes into the
    term-sorted parquet dictionary scan (row-group pruning), df is
    summed per term (segment-delta dictionaries hold one row per
    segment), and the cap is deterministic (df DESC, term ASC) —
    Lucene's max_expansions contract.  The prefix is matched verbatim
    against the indexed (stemmed) vocabulary: wildcard terms bypass the
    analyzer, as in every mainstream engine.

    ``cache``: a snapshot-bound dict (TermStatsCache.for_snapshot) — a
    repeat wildcard against the same immutable snapshot skips the
    expansion job entirely, so a steady-state prefix query costs ONE
    Spark job, same contract as idf_cache."""
    if not prefix:
        return []
    key = ("prefix", prefix, max_expansions)
    if cache is not None and key in cache:
        return cache[key]
    rows = (
        dictionary.filter(F.col("term").startswith(prefix))
        .groupBy("term").agg(F.sum("df").alias("df"))
        .orderBy(F.col("df").desc(), F.col("term").asc())
        .limit(max_expansions).collect()
    )
    terms = [r["term"] for r in rows]
    if cache is not None:
        cache[key] = terms
    return terms


def prefix_topk(index: DataFrame, dictionary: DataFrame, docs: DataFrame,
                prefix: str, n_docs: int, avgdl: float, k: int = 10,
                bm25: BM25Config = BM25Config(), weighted: bool = False,
                max_expansions: int = 50, idf_cache: dict | None = None,
                exclude_ids=None, bound_scale=None,
                expansion_cache: dict | None = None) -> DataFrame:
    """Prefix (wildcard) top-k over the compressed index: expand the
    prefix against the dictionary, then run the expansion as an OR-mode
    WAND query (pre_parsed bypasses query stemming — the expansion IS
    the indexed vocabulary).  Two driver steps, both bounded: the
    expansion collect (<= max_expansions rows) and the regular top-k
    job; at 100 TB the index scan is pruned to the expansion terms
    exactly like any multi-term query."""
    from ..operators.topk import wand_topk

    terms = expand_prefix(dictionary, prefix.lower().rstrip("*"),
                          max_expansions, cache=expansion_cache)
    spark = index.sparkSession
    if not terms:
        return empty_topk(spark)
    return wand_topk(index, dictionary, docs, "", n_docs, avgdl, k=k,
                     bm25=bm25, weighted=weighted,
                     pre_parsed=(terms, False), idf_cache=idf_cache,
                     exclude_ids=exclude_ids, bound_scale=bound_scale)


_REGEX_META = set(".*+?[](){}|\\^$")


def regex_literal_prefix(pattern: str) -> str:
    """The longest literal prefix of a regex (chars before the first
    metacharacter, leading '^' dropped) — the pushdown handle: a
    StartsWith on it prunes the term-sorted dictionary scan before the
    JVM regex runs, so '^eng.*' style patterns never scan the whole
    vocabulary.  A char FOLLOWED by a quantifier must not be part of
    the literal prefix ('ab*' matches 'a'), hence the one-char
    lookahead."""
    p = pattern[1:] if pattern.startswith("^") else pattern
    out = []
    for i, ch in enumerate(p):
        if ch in _REGEX_META:
            break
        if i + 1 < len(p) and p[i + 1] in "*+?{":
            break
        out.append(ch)
    return "".join(out)


def expand_regex(dictionary: DataFrame, pattern: str,
                 max_expansions: int = 50,
                 cache: dict | None = None) -> list:
    """Dictionary regex scan -> the df-heaviest matching terms (Lucene
    RegexpQuery semantics: the pattern must match the WHOLE term, so it
    is wrapped as ^(?:...)$ — same as Lucene's implicit anchoring).
    Pushdown: the pattern's literal prefix becomes a StartsWith that
    prunes the term-sorted dictionary scan; the regex itself runs
    JVM-side (rlike, codegen) only on the surviving row groups.  Cap
    and cache contracts are identical to expand_prefix (df DESC, term
    ASC; snapshot-bound)."""
    if not pattern:
        return []
    key = ("regex", pattern, max_expansions)
    if cache is not None and key in cache:
        return cache[key]
    scan = dictionary
    lit = regex_literal_prefix(pattern)
    if lit:
        scan = scan.filter(F.col("term").startswith(lit))
    rows = (
        scan.filter(F.col("term").rlike(f"^(?:{pattern})$"))
        .groupBy("term").agg(F.sum("df").alias("df"))
        .orderBy(F.col("df").desc(), F.col("term").asc())
        .limit(max_expansions).collect()
    )
    terms = [r["term"] for r in rows]
    if cache is not None:
        cache[key] = terms
    return terms


def regex_topk(index: DataFrame, dictionary: DataFrame, docs: DataFrame,
               pattern: str, n_docs: int, avgdl: float, k: int = 10,
               bm25: BM25Config = BM25Config(), weighted: bool = False,
               max_expansions: int = 50, idf_cache: dict | None = None,
               exclude_ids=None, bound_scale=None,
               expansion_cache: dict | None = None) -> DataFrame:
    """Regex top-k over the compressed index (Lucene RegexpQuery /
    Kibana's /pattern/ box): expand the pattern against the indexed
    vocabulary, then run the expansion as OR-mode WAND — the exact
    prefix_topk shape, with the regex-with-literal-prefix-pushdown
    expansion instead of a pure StartsWith."""
    from ..operators.topk import wand_topk

    terms = expand_regex(dictionary, pattern.lower(), max_expansions,
                         cache=expansion_cache)
    spark = index.sparkSession
    if not terms:
        return empty_topk(spark)
    return wand_topk(index, dictionary, docs, "", n_docs, avgdl, k=k,
                     bm25=bm25, weighted=weighted,
                     pre_parsed=(terms, False), idf_cache=idf_cache,
                     exclude_ids=exclude_ids, bound_scale=bound_scale)


def expand_fuzzy(dictionary: DataFrame, term: str, max_edits: int = 1,
                 prefix_len: int = 1, max_expansions: int = 50,
                 cache: dict | None = None) -> list:
    """Dictionary fuzzy scan -> indexed terms within ``max_edits``
    Levenshtein edits of ``term`` (Lucene FuzzyQuery semantics).  The
    first ``prefix_len`` characters must match exactly — Lucene's
    ``prefixLength`` — which pushes a StartsWith predicate into the
    term-sorted parquet dictionary scan (row-group pruning); a length
    band ``|len(t) - len(q)| <= max_edits`` prunes further before the
    O(len²) DP edit distance runs (both are codegen'd native exprs —
    Spark's ``levenshtein`` is JVM-side).  df is summed per term
    (segment-delta dictionaries hold one row per segment) and the cap
    is deterministic: distance ASC, then df DESC, then term ASC —
    closest first, popular first among equally close.  Like wildcard
    terms, the fuzzy term is matched verbatim against the indexed
    (stemmed) vocabulary: it bypasses the analyzer, as in every
    mainstream engine.  The dictionary is vocabulary-sized (millions of
    rows at 100 TB corpus scale, not corpus-sized), so this full
    expansion scan is a small embarrassingly-parallel job.

    ``cache``: a snapshot-bound dict (TermStatsCache.for_snapshot) — a
    repeat fuzzy term against the same immutable snapshot skips the
    expansion job, same contract as expand_prefix/idf_cache."""
    q = term.lower().rstrip("~")
    if not q:
        return []
    key = ("fuzzy", q, max_edits, prefix_len, max_expansions)
    if cache is not None and key in cache:
        return cache[key]
    cand = dictionary.filter(
        F.abs(F.length("term") - F.lit(len(q))) <= max_edits)
    if prefix_len > 0:
        cand = cand.filter(F.col("term").startswith(q[:prefix_len]))
    rows = (
        cand.groupBy("term").agg(F.sum("df").alias("df"))
        .withColumn("dist", F.levenshtein(F.col("term"), F.lit(q)))
        .filter(F.col("dist") <= max_edits)
        .orderBy(F.col("dist").asc(), F.col("df").desc(),
                 F.col("term").asc())
        .limit(max_expansions).collect()
    )
    terms = [r["term"] for r in rows]
    if cache is not None:
        cache[key] = terms
    return terms


def fuzzy_topk(index: DataFrame, dictionary: DataFrame, docs: DataFrame,
               term: str, n_docs: int, avgdl: float, k: int = 10,
               bm25: BM25Config = BM25Config(), weighted: bool = False,
               max_edits: int = 1, prefix_len: int = 1,
               max_expansions: int = 50, idf_cache: dict | None = None,
               exclude_ids=None, bound_scale=None,
               expansion_cache: dict | None = None) -> DataFrame:
    """Fuzzy top-k over the compressed index: expand the term against
    the dictionary within ``max_edits`` Levenshtein edits, then run the
    expansion as an OR-mode WAND query (pre_parsed bypasses query
    stemming — the expansion IS the indexed vocabulary).  Same two
    bounded driver steps as prefix_topk: the expansion collect
    (<= max_expansions rows) and one regular top-k job with the index
    scan pruned to the expansion terms.  Query surface: a single
    ``term~`` token (tools/submit_query.py)."""
    from ..operators.topk import wand_topk

    terms = expand_fuzzy(dictionary, term, max_edits=max_edits,
                         prefix_len=prefix_len,
                         max_expansions=max_expansions,
                         cache=expansion_cache)
    spark = index.sparkSession
    if not terms:
        return empty_topk(spark)
    return wand_topk(index, dictionary, docs, "", n_docs, avgdl, k=k,
                     bm25=bm25, weighted=weighted,
                     pre_parsed=(terms, False), idf_cache=idf_cache,
                     exclude_ids=exclude_ids, bound_scale=bound_scale)


def suggest_candidates(dictionary: DataFrame, queries: list,
                       max_edits: int = 1,
                       prefix_len: int = 1) -> DataFrame:
    """The suggestion candidate frame for a batch of misspelled terms:
    (q, term, df, dist) rows within ``max_edits`` of any query term.
    The queries are grouped by their LITERAL prefix and each group gets
    its own startswith(lit)-pruned dictionary scan — a per-row
    startswith(col) inside a broadcast nested-loop join cannot reach
    the parquet row-group stats (round-4 VERDICT #3), a literal can.
    The unioned scans + the length-band join + the edit distance are
    one job for the whole batch; distinct-prefix count is bounded by
    the query's term count.  prefix_len=0 degrades to the unpruned
    (vocabulary-sized) scan, as in Lucene's prefixLength=0."""
    spark = dictionary.sparkSession
    if not queries:
        # public plan-layer function: an empty batch returns an empty
        # candidate frame with the contract schema instead of raising
        # IndexError on cands[0] (ADVICE r5)
        return spark.createDataFrame(
            [], "q string, term string, df bigint, dist int")
    by_pfx: dict = {}
    for t in queries:
        by_pfx.setdefault(t[:prefix_len], []).append(t)
    cands = []
    for pfx in sorted(by_pfx):
        scan = dictionary
        if pfx:
            scan = scan.filter(F.col("term").startswith(pfx))
        qdf = spark.createDataFrame(
            [(t, len(t)) for t in by_pfx[pfx]], "q string, qlen int")
        cands.append(
            scan.groupBy("term").agg(F.sum("df").alias("df"))
            .join(F.broadcast(qdf),
                  F.abs(F.length("term") - F.col("qlen")) <= max_edits)
            .withColumn("dist", F.levenshtein(F.col("term"), F.col("q")))
            .filter(F.col("dist") <= max_edits)
            .select("q", "term", "df", "dist")
        )
    cand = cands[0]
    for c in cands[1:]:
        cand = cand.unionByName(c)
    return cand


def suggest_terms(dictionary: DataFrame, terms: list, max_edits: int = 1,
                  prefix_len: int = 1, cache: dict | None = None) -> dict:
    """Spell suggestion ("did you mean") for a parsed query: each term
    ABSENT from the dictionary maps to its closest indexed term by the
    fuzzy-expansion ranking (distance ASC, df DESC — i.e. the most
    popular of the closest); present terms map to themselves, absent
    terms with nothing in radius map to None.  One dictionary
    presence-check job + one bounded expansion per misspelled term
    (cacheable per snapshot like any expansion).  Suggestions are in
    the INDEXED (stemmed) vocabulary — display text, the way a search
    page shows them."""
    wanted = sorted(set(terms))
    if not wanted:
        return {}
    present = {r["term"] for r in dictionary
               .filter(term_in(wanted))
               .select("term").distinct().collect()}
    out = {t: t for t in wanted if t in present}
    missing = []
    for t in wanted:
        if t in present:
            continue
        key = ("fuzzy", t, max_edits, prefix_len, 1)
        if cache is not None and key in cache:
            out[t] = cache[key][0] if cache[key] else None
        else:
            out[t] = None            # default until the batch job fills it
            missing.append(t)
    if missing:
        # ONE job for every misspelled term, with the prefix pin pushed
        # into the parquet scan: the per-row startswith(col) a broadcast
        # nested-loop join would need cannot prune row groups (round-4
        # VERDICT #3), so the misspellings are grouped by their LITERAL
        # prefix and each group gets its own startswith(lit)-pruned
        # dictionary scan — the unioned scans, the length-band join, the
        # per-term rank window, and the final collect are still one job.
        # Distinct-prefix count is bounded by the query's term count, so
        # the union stays a handful of pruned vocabulary scans.
        cand = suggest_candidates(dictionary, missing,
                                  max_edits=max_edits,
                                  prefix_len=prefix_len)
        win = Window.partitionBy("q").orderBy(
            F.col("dist").asc(), F.col("df").desc(), F.col("term").asc())
        best = (cand.withColumn("_rn", F.row_number().over(win))
                .filter(F.col("_rn") == 1).select("q", "term").collect())
        for r in best:
            out[r["q"]] = r["term"]
        if cache is not None:
            for t in missing:
                key = ("fuzzy", t, max_edits, prefix_len, 1)
                cache[key] = [out[t]] if out[t] is not None else []
    return out


def explain_score(postings: DataFrame, dictionary: DataFrame, query: str,
                  doc_id: int, n_docs: int, avgdl: float,
                  bm25: BM25Config = BM25Config(), weighted: bool = False,
                  pre_parsed: tuple | None = None,
                  idf_cache: dict | None = None) -> DataFrame:
    """Per-term score breakdown for ONE (query, doc) pair — the Lucene
    ``Explanation`` analogue a relevance engineer asks for when a doc
    ranks surprisingly: (term, tf, imp, dl, df, mult, idf, w,
    contribution), where ``w`` is the BM25 tf-normalization
    tf·(k1+1)/(tf + k1·(1-b+b·dl/avgdl)) (× imp/10 when ``weighted``)
    and ``contribution = mult·idf·w`` — the exact addend the scorers
    accumulate (operators/topk.py, plans/query.bm25_topk_exhaustive),
    so the contributions sum to the doc's ranked score.

    One tiny job: the postings scan prunes on BOTH the static term
    IN list (row-group stats on the term-sorted layout) and the doc_id
    equality; the <=10-row term/idf side broadcasts.  Terms absent from
    the doc (or the dictionary) simply have no row — a boolean query's
    explanation with fewer rows than distinct terms is itself the
    explanation (the AND failed here)."""
    spark = postings.sparkSession
    terms, _ = pre_parsed if pre_parsed is not None else parse_query(query)
    empty = spark.createDataFrame(
        [], "term string, tf int, imp int, dl int, df long, mult int,"
            " idf double, w double, contribution double")
    if not terms or n_docs == 0 or avgdl == 0:
        return empty
    tf_idf = query_term_idf(spark, dictionary, terms, n_docs, cache=idf_cache)
    counts = Counter(terms)
    present = [t for t in counts if t in tf_idf]
    if not present:
        return empty
    terms_df = spark.createDataFrame(
        [(t, counts[t], int(tf_idf[t][0]), tf_idf[t][1]) for t in present],
        "term string, mult int, df long, idf double")
    k1, b = bm25.k1, bm25.b
    w = (F.col("tf") * F.lit(k1 + 1.0)) / (
        F.col("tf")
        + F.lit(k1) * (F.lit(1.0 - b) + F.lit(b) * (F.col("dl") / F.lit(avgdl)))
    )
    if weighted:
        w = w * (F.col("imp") / F.lit(10.0))
    rows = (
        postings.filter((F.col("doc_id") == int(doc_id))
                        & term_in(present))
        .join(F.broadcast(terms_df), "term")
    )
    return rows.select(
        "term", "tf", "imp", "dl", "df", "mult", "idf", w.alias("w"),
        ((F.col("mult") * F.col("idf")) * w).alias("contribution"))


def mlt_terms(postings: DataFrame, dictionary: DataFrame, doc_id: int,
              n_docs: int, max_terms: int = 10) -> list:
    """The seed document's term vector ranked by tf·idf — the query an
    Elasticsearch/Lucene more-like-this derives from a document.  One
    small job: the postings scan is pruned by the doc_id min/max
    row-group stats (the index layout is doc-sharded, so a single doc's
    postings cluster in few files), the per-term df joins in from the
    dictionary, and the cap is deterministic (tf·idf DESC, term ASC).
    At 10^12-doc scale a dedicated forward index (doc -> term vector,
    e.g. the positional table re-keyed) would replace this scan; the
    plan shape downstream is identical."""
    seed = postings.filter(F.col("doc_id") == int(doc_id)).select("term", "tf")
    d = dictionary.groupBy("term").agg(F.sum("df").alias("df"))
    rows = (
        seed.join(d, "term")
        .withColumn("idf", F.log(
            (F.lit(float(n_docs)) - F.col("df") + 0.5)
            / (F.col("df") + 0.5) + 1.0))
        .withColumn("w", F.col("tf") * F.col("idf"))
        .orderBy(F.col("w").desc(), F.col("term").asc())
        .limit(max_terms).collect()
    )
    return [r["term"] for r in rows]


def more_like_this(index: DataFrame, postings: DataFrame,
                   dictionary: DataFrame, docs: DataFrame, doc_id: int,
                   n_docs: int, avgdl: float, k: int = 10,
                   bm25: BM25Config = BM25Config(),
                   weighted: bool = False, max_terms: int = 10,
                   idf_cache: dict | None = None, exclude_ids=None,
                   bound_scale=None) -> DataFrame:
    """More-like-this: rank the corpus by BM25 similarity to a seed
    document.  The seed's top tf·idf terms (mlt_terms) run as an
    OR-mode WAND query; the seed itself is masked through the same
    exclude_ids path tombstones use, so backfill keeps the result at k
    live docs.  Two bounded driver steps (<= max_terms expansion rows +
    one top-k job), exactly the prefix/fuzzy shape."""
    from ..operators.topk import wand_topk

    terms = mlt_terms(postings, dictionary, doc_id, n_docs, max_terms)
    spark = index.sparkSession
    if not terms:
        return empty_topk(spark)
    excl = frozenset(exclude_ids or ()) | {int(doc_id)}
    return wand_topk(index, dictionary, docs, "", n_docs, avgdl, k=k,
                     bm25=bm25, weighted=weighted,
                     pre_parsed=(terms, False), idf_cache=idf_cache,
                     exclude_ids=excl, bound_scale=bound_scale)


def facet_counts(ranked: DataFrame, dims: DataFrame, keys: list) -> DataFrame:
    """Facet aggregation over a RANKED result set — the per-category
    counts a Solr/Elasticsearch search page attaches to its results.
    ``ranked`` is a TOPK frame (rank, doc_id, url, score); ``dims`` is a
    doc-keyed dimension table carrying the facet columns.  The ranked
    side is <= k rows, so it broadcasts into the dimension join and the
    facet agg runs over <= k rows — never the full scored set (the
    expensive cut already happened inside top-k selection).  Returns
    one row per facet value: n_docs, best_rank, top_score."""
    joined = dims.join(
        F.broadcast(ranked.select("doc_id", "rank", "score")), "doc_id")
    return joined.groupBy(*keys).agg(
        F.count("*").cast("long").alias("n_docs"),
        F.min("rank").cast("long").alias("best_rank"),
        F.max("score").alias("top_score"))


def facet_by_domain(ranked: DataFrame) -> DataFrame:
    """Domain facet over a ranked result using only the engine's own
    docs columns: the facet key is the url's host (the engine stores no
    other document metadata by design — callers with a richer dimension
    table use facet_counts directly)."""
    dims = ranked.select(
        "doc_id",
        F.regexp_extract("url", r"^[a-z][a-z0-9+.-]*://([^/?#]+)", 1)
        .alias("domain"))
    return facet_counts(ranked, dims, ["domain"])


def facet_date_histogram(scored: DataFrame, dims: DataFrame,
                         ts_col: str = "warc_ts",
                         granularity: str = "month") -> DataFrame:
    """Date-histogram aggregation over a search's MATCH SET — the
    Elasticsearch ``date_histogram`` attached to a query ("when was
    this topic crawled/published?").  Unlike ``facet_counts`` (which
    summarizes a <=k ranked page), a histogram is only meaningful over
    every hit, so ``scored`` is the full (doc_id, score) candidate
    frame from ``_scored_candidates``/WAND-without-cut, and the plan is
    one broadcast-free hash agg keyed on the derived bucket: the
    dimension join shuffles doc_id once, the agg is partial+final, and
    the bucket count (months/weeks in the crawl window) is tiny so the
    result collects safely at any corpus scale.

    ``dims`` carries (doc_id, ``ts_col``: timestamp/date).  Returns one
    row per bucket: ``bucket`` ('yyyy-MM'-style string, sortable),
    ``n_docs``, ``avg_score``, ``top_score``."""
    fmt = {"year": "yyyy", "month": "yyyy-MM", "week": "yyyy-MM-dd",
           "day": "yyyy-MM-dd"}[granularity]
    bucket = F.date_format(F.date_trunc(granularity, F.col(ts_col)), fmt)
    joined = dims.select("doc_id", bucket.alias("bucket")).join(
        scored.select("doc_id", "score"), "doc_id")
    return joined.groupBy("bucket").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.round(F.avg("score"), 6).alias("avg_score"),
        F.round(F.max("score"), 6).alias("top_score"))


def recency_boosted_topk(scored: DataFrame, dims: DataFrame,
                         docs: DataFrame, k: int = 10,
                         ts_col: str = "warc_ts",
                         origin: str = "2025-01-01",
                         half_life_days: float = 90.0) -> DataFrame:
    """Recency-decayed ranking — the Elasticsearch ``function_score``
    exponential date decay (multiply mode): fresh pages outrank stale
    ones at equal relevance.  ``final = base * 0.5^(age/half_life)``
    with ``age = max(0, days(origin - date))`` — a doc exactly
    ``half_life_days`` old keeps half its BM25 score, future-dated docs
    decay nothing.

    ``scored`` is the FULL (doc_id, score) candidate frame from
    ``_scored_candidates`` — the decay must apply before the cut (a
    pre-cut page could consist entirely of stale docs that fresh
    lower-BM25 docs now outrank; same backfill-before-cut rule as
    tombstones/NOT/collapse).  Plan: one doc_id-keyed dimension join
    (dims is data-sized, so this shuffles once), decay arithmetic
    JVM-side, TakeOrderedAndProject k on the boosted score, broadcast
    url back-join, rank window over <=k rows.

    The decay constant ``ln(0.5)/half_life`` is computed driver-side in
    Python so an oracle embedding the same literal reproduces the exact
    double.  Returns (rank, doc_id, url, base_score, age_days, score)
    — ``score`` is the boosted value the page is ranked by, base/age
    kept so the decay itself is checkable."""
    lam = math.log(0.5) / float(half_life_days)
    aged = scored.select("doc_id", "score").join(
        dims.select(
            "doc_id",
            F.greatest(
                F.lit(0),
                F.datediff(F.to_date(F.lit(origin)), F.col(ts_col)),
            ).cast("int").alias("age_days")),
        "doc_id")
    boosted = aged.select(
        "doc_id",
        F.round("score", 6).alias("base_score"),
        "age_days",
        F.round(F.col("score") * F.exp(F.lit(lam) * F.col("age_days")), 6)
        .alias("_final"))
    topk = boosted.orderBy(
        F.col("_final").desc(), F.col("doc_id").asc()).limit(k)
    ranked = docs.join(F.broadcast(topk), "doc_id", "inner").withColumn(
        "rank",
        F.row_number().over(
            Window.orderBy(F.col("_final").desc(), F.col("doc_id").asc())
        ).cast("long"))
    return ranked.select("rank", "doc_id", "url", "base_score",
                         "age_days", F.col("_final").alias("score"))


def _scored_candidates(postings: DataFrame, dictionary: DataFrame,
                       query: str, n_docs: int, avgdl: float,
                       bm25: BM25Config = BM25Config(),
                       weighted: bool = False,
                       pre_parsed: tuple | None = None,
                       idf_cache: dict | None = None,
                       exclude_ids=None,
                       min_imp: int | None = None,
                       doc_filter: DataFrame | None = None,
                       boosts: dict | None = None,
                       min_match: int | None = None) -> DataFrame | None:
    """The shared scoring core of the exhaustive query plans: parse ->
    idf lookup -> term-pruned postings scan -> broadcast term join ->
    one (doc_id) hash agg.  Returns a (doc_id, score, _nt) frame, or
    None when the query can produce no result (empty/absent-AND-term).
    Float op order matches codec.bm25_tf_norm / the oracle exactly —
    every consumer (top-k, NOT, zones, collapse) ranks on bit-identical
    scores.

    doc_filter: optional frame with a ``doc_id`` column — metadata/ACL
    filtered search (language, license, tenant, date-partition...).
    Matches LEFT-SEMI join against it BEFORE the agg, so only allowed
    docs are ever scored and top-k backfills correctly.  The filter is
    data-sized in general, so this is a shuffle semi-join; a caller
    holding a provably small set should pass F.broadcast(frame).

    boosts: optional {stemmed term: weight} (Lucene ``term^2.5``) —
    multiplies that term's idf, same contract as wand_topk(boosts=).

    min_match: Elasticsearch ``minimum_should_match`` — in OR mode keep
    only docs matching at least this many DISTINCT query terms (the
    ``_nt`` column the agg already computes); boolean mode ignores it
    (AND is already the all-terms case).  Applied AFTER the agg: which
    docs qualify depends on their full term-match set, so it cannot
    prune the scan — but it shrinks everything downstream (top-k heap,
    back-join)."""
    spark = postings.sparkSession
    terms, is_bool = pre_parsed if pre_parsed is not None else parse_query(query)
    if not terms or n_docs == 0 or avgdl == 0:
        return None

    tf_idf = query_term_idf(spark, dictionary, terms, n_docs, cache=idf_cache)
    counts = Counter(terms)
    present = [t for t in counts if t in tf_idf]
    if is_bool and len(present) < len(counts):
        return None                       # absent AND-term -> empty
    if not present:
        return None

    # built from pandas, so the frame crosses into the JVM as one Arrow
    # batch; createDataFrame(list) pickles the rows through a Python
    # worker job instead.  Broadcast-joined and collected on local[2],
    # 4 vCPUs: 2.6 s (list) vs 0.9 s (pandas) as a fresh JVM's first
    # such join, 540-660 ms vs 280-400 ms warm
    terms_df = spark.createDataFrame(pd.DataFrame({
        "term": present,
        "mult": np.array([counts[t] for t in present], dtype=np.int32),
        "idf": [tf_idf[t][1] * (boosts.get(t, 1.0) if boosts else 1.0)
                for t in present],
    }), "term string, mult int, idf double")

    k1, b = bm25.k1, bm25.b
    # same float op order as codec.bm25_tf_norm / the oracle:
    # w = tf*(k1+1)/(tf + k1*(1-b+b*dl/avgdl)); [w *= imp/10.0 if
    # weighted]; contrib = (mult*idf)*w
    w = (F.col("tf") * F.lit(k1 + 1.0)) / (
        F.col("tf")
        + F.lit(k1) * (F.lit(1.0 - b) + F.lit(b) * (F.col("dl") / F.lit(avgdl)))
    )
    if weighted:
        w = w * (F.col("imp") / F.lit(10.0))
    contrib = (F.col("mult") * F.col("idf")) * w
    # explicit IN filter before the broadcast join: the join would not
    # push term predicates into the parquet scan; the static filter does
    # (row-group stats on the term-sorted layout skip non-query terms)
    matches = (
        postings.filter(term_in(present))
        .join(F.broadcast(terms_df), "term", "inner")
    )
    if min_imp is not None:
        matches = matches.filter(F.col("imp") >= min_imp)
    if exclude_ids:
        dead = doc_id_frame(spark, exclude_ids)
        matches = matches.join(F.broadcast(dead), "doc_id", "left_anti")
    if doc_filter is not None:
        matches = matches.join(
            doc_filter.select("doc_id"), "doc_id", "left_semi")
    scores = matches.groupBy("doc_id").agg(
        F.sum(contrib).alias("score"),
        F.count("*").alias("_nt"),        # (term,doc) unique -> distinct terms
    )
    if is_bool:
        scores = scores.filter(F.col("_nt") == len(present))
    elif min_match is not None and min_match > 1:
        scores = scores.filter(F.col("_nt") >= min_match)
    return scores


def bm25_topk_exhaustive(
    postings: DataFrame,
    dictionary: DataFrame,
    docs: DataFrame,
    query: str,
    n_docs: int,
    avgdl: float,
    k: int = 10,
    bm25: BM25Config = BM25Config(),
    weighted: bool = False,
    pre_parsed: tuple | None = None,
    idf_cache: dict | None = None,
    exclude_ids=None,
    negated: list | None = None,
    min_imp: int | None = None,
    after: tuple | None = None,
    doc_filter: DataFrame | None = None,
    boosts: dict | None = None,
    min_match: int | None = None,
) -> DataFrame:
    """Returns TOPK (rank, doc_id, url, score).

    ``negated``: NOT-terms — every doc containing any of them is
    excluded from the result (query surface: ``-term``, parsed by
    text/normalize.parse_query_with_negation).  The exclusion is a
    left-anti join of the scored candidates against a term-pruned
    postings scan, applied BEFORE top-k selection so backfill is
    correct.  NOT routes through this exhaustive plan rather than WAND:
    the excluded-doc set is data-sized (a stopword negation excludes
    most of the corpus), so it must stay distributed — it cannot ship
    to the shard scorers as a driver-side set the way the bounded
    tombstone list (exclude_ids) does.

    weighted=True multiplies each (term, doc) contribution by imp/10 —
    BM25 x tag-importance, the reference's zone-weighted ranking
    (searcher.py:123-143) on the engine's BM25 base.  pre_parsed=(terms,
    is_bool) bypasses parse_query for unstemmed indexes.  idf_cache: a
    caller-owned dict for a long-lived query service — repeat terms skip
    the dictionary-lookup job (see query_term_idf).  exclude_ids:
    deletion set (tombstoned doc_ids) filtered out with a broadcast
    anti-join before scoring — merge-on-read delete semantics between
    purge cycles, same contract as wand_topk(exclude_ids=).

    ``min_imp``: zone-restricted (fielded) search — keep only (term,
    doc) matches whose zone importance reaches ``min_imp`` (the term
    occurs in a tag at least that heavy: 20 = title, 18 = h1, ... per
    text/extract.IMPORTANT_TAGS), e.g. an ``in:title`` query.  tf stays
    the full-document tf (the zone gates WHICH matches qualify, not how
    they weigh — combine with weighted=True for zone-boosted scoring).
    In boolean mode every distinct term must qualify IN ZONE.  Zone
    restriction routes through this exhaustive plan by design: the
    compressed index's block-max bounds are not zone-conditional, so
    WAND pruning cannot stay exact under an imp filter.

    after=(score, doc_id): search-after pagination cursor — keep only
    docs strictly after the cursor in (score DESC, doc_id ASC) order,
    filtered BEFORE top-k selection; rank restarts at 1 for the page.
    Same contract as wand_topk(after=).

    doc_filter: optional allowed-docs frame (doc_id column) — metadata/
    ACL filtered search, semi-joined before scoring (see
    _scored_candidates).

    boosts / min_match: per-term Lucene clause weights and
    Elasticsearch minimum_should_match — see _scored_candidates.
    min_match routes through this exhaustive plan by design: WAND's
    upper bound assumes every remaining term may contribute, which is
    no longer a tight pruning bound when only >=m-term docs qualify
    (a correct-but-loose bound would score everything anyway)."""
    scores = _scored_candidates(postings, dictionary, query, n_docs,
                                avgdl, bm25, weighted, pre_parsed,
                                idf_cache, exclude_ids, min_imp,
                                doc_filter, boosts, min_match)
    spark = postings.sparkSession
    if scores is None:
        return empty_topk(spark)
    if negated:
        neg_docs = (
            postings.filter(term_in(sorted(set(negated))))
            .select("doc_id").distinct()
        )
        scores = scores.join(neg_docs, "doc_id", "left_anti")
    if after is not None:
        cs, cd = float(after[0]), int(after[1])
        scores = scores.filter(
            (F.col("score") < cs)
            | ((F.col("score") == cs) & (F.col("doc_id") > cd)))

    topk = (
        scores.select("doc_id", "score")
        .orderBy(F.col("score").desc(), F.col("doc_id").asc())
        .limit(k)                          # TakeOrderedAndProject
    )
    ranked = docs.join(F.broadcast(topk), "doc_id", "inner").withColumn(
        "rank",
        F.row_number().over(
            Window.orderBy(F.col("score").desc(), F.col("doc_id").asc())
        ).cast("int"),
    )
    return ranked.select("rank", "doc_id", "url", "score")


def collapse_by_domain(postings: DataFrame, dictionary: DataFrame,
                       docs: DataFrame, query: str, n_docs: int,
                       avgdl: float, k: int = 10,
                       bm25: BM25Config = BM25Config(),
                       weighted: bool = False,
                       pre_parsed: tuple | None = None,
                       idf_cache: dict | None = None,
                       exclude_ids=None,
                       per_domain: int = 1) -> DataFrame:
    """Field-collapsed top-k (Elasticsearch ``collapse`` / the classic
    web-search "one result per site" clustering): the BEST-scoring
    ``per_domain`` docs per url host, then the top ``k`` rows overall.
    ``per_domain=1`` (default) is strict collapse — one row per host;
    ``per_domain>1`` is diversified top-k (the "at most two results per
    site" SERP rule): duplicates-by-host are capped, not eliminated.
    Returns TOPK (rank, doc_id, url, score) — ``rank`` is the page
    position.

    Collapse runs over the FULL scored candidate set, not a pre-cut
    page: cutting to k docs first could hand the whole page to one
    dominant domain and under-fill after collapsing (the same
    backfill-before-cut rule tombstones and NOT-terms follow).  Plan:
    the shared exhaustive scoring core -> docs join for the url ->
    per-domain rank window HASH-PARTITIONED on domain (a domain's
    candidates co-locate; never a single global window) -> rn<=cap ->
    TakeOrderedAndProject k."""
    scores = _scored_candidates(postings, dictionary, query, n_docs,
                                avgdl, bm25, weighted, pre_parsed,
                                idf_cache, exclude_ids)
    spark = postings.sparkSession
    if scores is None:
        return empty_topk(spark)
    cand = (
        docs.join(scores.select("doc_id", "score"), "doc_id", "inner")
        .withColumn("domain", F.regexp_extract(
            "url", r"^[a-z][a-z0-9+.-]*://([^/?#]+)", 1))
    )
    best = (
        cand.withColumn("_rn", F.row_number().over(
            Window.partitionBy("domain").orderBy(
                F.col("score").desc(), F.col("doc_id").asc())))
        .filter(F.col("_rn") <= int(per_domain))
    )
    topk = best.orderBy(
        F.col("score").desc(), F.col("doc_id").asc()).limit(k)
    return (
        topk.withColumn("rank", F.row_number().over(
            Window.orderBy(F.col("score").desc(), F.col("doc_id").asc())
        ).cast("int"))
        .select("rank", "doc_id", "url", "score")
    )


def mixed_topk(positions: DataFrame, postings: DataFrame,
               dictionary: DataFrame, docs: DataFrame, query: str,
               n_docs: int, avgdl: float, k: int = 10,
               bm25: BM25Config = BM25Config(),
               idf_cache: dict | None = None,
               df_cache: dict | None = None,
               exclude_ids=None) -> DataFrame:
    """Mixed phrase+term query — the Lucene query-language shape
    ``"machine learning" tutorial``: every clause is an OR addend, the
    quoted spans scoring as phrase virtual terms (tf = start count,
    df = matching-doc count, exactly phrase_topk_indexed's scoring) and
    the loose terms as plain BM25 (exactly bm25_topk_exhaustive's
    scoring core).  A doc matching ANY clause is a candidate; per-doc
    score = sum of clause contributions.  Returns TOPK (rank, doc_id,
    url, score).

    Plan: one term-pruned postings agg for the loose terms + one pruned
    positions agg per phrase (both the shapes their single-clause plans
    use), unioned, then ONE (doc_id) sum and TakeOrderedAndProject.
    The phrase side needs df_p driver-side for its idf — one count()
    job per uncached phrase (``df_cache``: the snapshot-bound cache
    phrase_topk_indexed uses, so a service pays it once per phrase
    lifetime).  Tombstones (exclude_ids) mask BOTH clause kinds before
    any aggregation, so backfill is correct."""
    from ..operators.phrase import phrase_match
    from ..text.normalize import parse_mixed_query

    spark = postings.sparkSession
    phrases, terms = parse_mixed_query(query)
    if n_docs == 0 or avgdl == 0 or (not phrases and not terms):
        return empty_topk(spark)

    k1, b = bm25.k1, bm25.b
    parts = []
    if terms:
        scores = _scored_candidates(postings, dictionary, "", n_docs,
                                    avgdl, bm25, False, (terms, False),
                                    idf_cache, exclude_ids)
        if scores is not None:
            parts.append(scores.select("doc_id", "score"))

    if phrases and exclude_ids:
        dead = doc_id_frame(spark, exclude_ids)
        positions = positions.join(F.broadcast(dead), "doc_id", "left_anti")
    for p_terms in phrases:
        matched = phrase_match(positions, list(p_terms),
                               pos_col="positions", plural=True)
        key = tuple(p_terms)
        if df_cache is not None and key in df_cache:
            df_p = df_cache[key]
        else:
            df_p = matched.count()
            if df_cache is not None:
                df_cache[key] = df_p
        if df_p == 0:
            continue
        idf = math.log((n_docs - df_p + 0.5) / (df_p + 0.5) + 1.0)
        w = (F.col("ptf") * F.lit(k1 + 1.0)) / (
            F.col("ptf")
            + F.lit(k1) * (F.lit(1.0 - b)
                           + F.lit(b) * (F.col("doc_len") / F.lit(avgdl)))
        )
        parts.append(
            matched.join(docs.select("doc_id", "doc_len"), "doc_id")
            .select("doc_id", (F.lit(idf) * w).alias("score")))

    if not parts:
        return empty_topk(spark)
    allc = parts[0]
    for extra in parts[1:]:
        allc = allc.unionByName(extra)
    total = allc.groupBy("doc_id").agg(F.sum("score").alias("score"))
    topk = total.orderBy(
        F.col("score").desc(), F.col("doc_id").asc()).limit(k)
    return (
        docs.join(F.broadcast(topk), "doc_id", "inner")
        .withColumn("rank", F.row_number().over(
            Window.orderBy(F.col("score").desc(), F.col("doc_id").asc())
        ).cast("int"))
        .select("rank", "doc_id", "url", "score")
    )

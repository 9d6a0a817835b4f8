"""Positional retrieval: exact-phrase and proximity (NEAR/w) matching.

The reference engine has no positional index (its postings carry only
tf/imp — indexer.py:15-41), so this family is beyond-reference search
capability (SURVEY.md §2.2): the operators a reference user would need
the moment their queries grow quotes ("exact phrase") or NEAR
semantics.

Two tiers, same pattern as BM25 (plans/query.py):

  * Oracle tier (this module's *_topk over the raw documents table) —
    unstemmed O8 tokens with ordinal positions, SQL-expressible, value-
    hash-checked against DuckDB (q47/q48).
  * Engine tier (``phrase_match_positions`` + plans/query.py
    ``phrase_topk_indexed``) — stemmed kept-token positions served from
    the catalog's ``positions`` table (built opt-in by the IndexBuilder
    and maintained per micro-batch by the streaming path).

Plan shape (the part that must hold at 100 TB): the positions scan is
filtered to the phrase's terms with a static IN list (pushed to
parquet row-group stats on the term-sorted layout — identical to the
postings pruning in plans/query.py:154), then ONE hash aggregation
keyed on doc_id builds per-offset position arrays; phrase starts are
``array_intersect`` of the offset-shifted arrays — JVM-side array
expressions, no self-joins, no Python.  An m-term phrase is m-1
intersections over arrays whose lengths are the per-doc tfs, not a
(m-way join) x (positions table) blow-up.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.window import Window

from ..config import BM25Config
from ..plans.query import doc_id_frame, term_in


def token_positions(docs: DataFrame, text_col: str = "text",
                    id_col: str = "doc_id") -> DataFrame:
    """O8-normalized tokens with 0-based ordinal positions:
    (doc_id, pos, term).  Native posexplode — the positional twin of
    entry_queries._tokens (same normalization, so q47/q48 compose with
    every other unstemmed oracle query)."""
    return (
        docs.select(
            id_col,
            F.posexplode(
                F.split(
                    F.trim(F.regexp_replace(
                        F.lower(F.col(text_col)), "[^a-z0-9\\s]", " ")),
                    r"\s+",
                )
            ).alias("pos", "term"),
        )
        .filter(F.col("term") != "")
    )


def _offset_arrays(positions: DataFrame, terms: list,
                   pos_col: str = "pos", plural: bool = False) -> DataFrame:
    """One hash agg: per doc, the set of positions of terms[i] shifted
    left by i (column _p<i>).  ``plural=True`` means ``pos_col`` is an
    ARRAY of positions per (term, doc) row (the catalog layout) rather
    than one row per occurrence."""
    aggs = []
    for i, t in enumerate(terms):
        if plural:
            shifted = F.when(
                F.col("term") == t,
                F.transform(F.col(pos_col), lambda p: p - F.lit(i)))
            # collect_list skips non-matching (null) rows; flatten merges
            # the (at most one, but per-segment possibly several) arrays
            aggs.append(F.flatten(F.collect_list(shifted)).alias(f"_p{i}"))
        else:
            shifted = F.when(F.col("term") == t, F.col(pos_col) - F.lit(i))
            aggs.append(F.collect_list(shifted).alias(f"_p{i}"))
    return (
        positions.filter(term_in(sorted(set(terms))))
        .groupBy("doc_id").agg(*aggs)
    )


def phrase_match(positions: DataFrame, phrase_terms: list,
                 pos_col: str = "pos", plural: bool = False) -> DataFrame:
    """(doc_id, ptf): docs containing the exact phrase, with its
    occurrence count.  ptf = |intersect_i (positions(term_i) - i)| —
    the count of valid start positions.  Position lists are per-doc
    distinct, so array_intersect's set semantics are exact here."""
    agg = _offset_arrays(positions, phrase_terms, pos_col, plural)
    starts = reduce(F.array_intersect,
                    [F.col(f"_p{i}") for i in range(len(phrase_terms))])
    return (
        agg.select("doc_id", F.size(starts).cast("long").alias("ptf"))
        .filter(F.col("ptf") > 0)
    )


def proximity_match(positions: DataFrame, term_a: str, term_b: str,
                    window: int, pos_col: str = "pos",
                    plural: bool = False) -> DataFrame:
    """(doc_id, n_pairs, min_dist): docs where term_a and term_b occur
    within ``window`` tokens.  min_dist = min |pos_a - pos_b| over all
    occurrence pairs; n_pairs counts pairs within the window.  All
    array expressions — the per-doc pair scan is O(tf_a * tf_b) inside
    whole-stage codegen, never a row-level self-join."""
    agg = _offset_arrays(positions, [term_a, term_b], pos_col, plural)
    pa, pb = F.col("_p0"), F.col("_p1")
    # _offset_arrays shifted _p1 by -1 (phrase semantics); undo for
    # symmetric distances
    pb = F.transform(pb, lambda p: p + F.lit(1))
    dist = F.transform(
        pa, lambda x: F.array_min(F.transform(pb, lambda y: F.abs(y - x))))
    n_pairs = F.aggregate(
        F.transform(pa, lambda x: F.size(
            F.filter(pb, lambda y: F.abs(y - x) <= F.lit(window)))),
        F.lit(0), lambda acc, n: acc + n)
    return (
        agg.filter((F.size(pa) > 0) & (F.size(F.col("_p1")) > 0))
        .select(
            "doc_id",
            n_pairs.cast("long").alias("n_pairs"),
            F.array_min(dist).cast("long").alias("min_dist"),
        )
        .filter(F.col("min_dist") <= window)
    )


def phrase_match_batch(positions: DataFrame, phrases: dict,
                       pos_col: str = "pos",
                       plural: bool = False) -> DataFrame:
    """(query_id, doc_id, ptf) for a whole phrase WORKLOAD in one plan.

    Relational start-position formulation (equivalent to the
    array_intersect path, proven row-identical in pytest): a start s is
    a phrase occurrence for query q iff every (term_i, s+i) of q is
    present, i.e. grouping the (qid, doc, pos - offset) rows must see
    ALL of q's offsets.  One pruned scan serves every phrase; the only
    wide exchanges are the two hash aggs, keyed on (qid, doc, start)
    then (qid, doc) — both partial-agg'd map-side.  The term->(qid,
    offset) map is broadcast (bounded by total workload terms).

    The per-start offset count is a plain count(*) (round 6): the
    grouped rows (qid, doc, offset, start) are UNIQUE by construction —
    the positions table holds one row per (term, doc) per snapshot
    (each doc is tokenized in exactly one batch/build commit, and
    compaction rewrites rows unchanged), position ordinals are distinct
    within a doc, and each (qid, offset) names one term — so
    countDistinct(offset) == count(*), and dropping the distinct drops
    the extra exchange its two-level aggregate plans as (guide §2.4;
    the invariant is pinned by the segment-append identity test in
    tests/test_phrase.py)."""
    spark = positions.sparkSession
    qmap = [(qid, t, i) for qid, terms in phrases.items()
            for i, t in enumerate(terms)]
    qmap_df = F.broadcast(spark.createDataFrame(
        qmap, "query_id string, term string, offset int"))
    m_df = F.broadcast(spark.createDataFrame(
        [(qid, len(terms)) for qid, terms in phrases.items()],
        "query_id string, m int"))
    all_terms = sorted({t for _, t, _ in qmap})
    j = positions.filter(term_in(all_terms)).join(qmap_df, "term")
    if plural:
        j = j.select("query_id", "doc_id", "offset",
                     F.explode(pos_col).alias("p"))
    else:
        j = j.select("query_id", "doc_id", "offset",
                     F.col(pos_col).alias("p"))
    starts = (
        j.select("query_id", "doc_id",
                 (F.col("p") - F.col("offset")).alias("start"))
        .groupBy("query_id", "doc_id", "start")
        .agg(F.count("*").alias("_no"))
        .join(m_df, "query_id")
        .filter(F.col("_no") == F.col("m"))
    )
    return (
        starts.groupBy("query_id", "doc_id")
        .agg(F.count("*").cast("long").alias("ptf"))
    )


def snippet_windows(positions: DataFrame, doc_ids, terms: list,
                    width: int = 30, pos_col: str = "pos",
                    plural: bool = False) -> DataFrame:
    """Highlight support: for each doc in ``doc_ids``, the best
    fixed-``width`` token window over the query terms — (doc_id,
    win_start, n_hits, hit_positions).  n_hits counts query-term
    occurrences inside [win_start, win_start + width); the best window
    always starts at a hit, so scanning candidate starts = scanning the
    matched positions (the standard snippet-seeding trick).  Ties break
    to the earliest window.  The caller slices the document's token
    stream by these offsets to render the snippet — the engine returns
    spans, like any search backend's highlighter.

    ``doc_ids`` is either a Python iterable of ids (the collected
    top-k page — the serving path) or a DataFrame with a ``doc_id``
    column (a top-k subplan composed in the same job — the driver's
    q58 search+highlight plan); both broadcast into the semi-join.

    Plan: pruned positions scan -> broadcast semi-join on the (top-k
    sized) doc list -> one per-doc agg; the window scan is an
    O(hits^2) array expression inside codegen, bounded by the doc's
    query-term hits, never a self-join."""
    spark = positions.sparkSession
    if isinstance(doc_ids, DataFrame):
        ids = F.broadcast(doc_ids.select("doc_id"))
    else:
        ids = F.broadcast(doc_id_frame(spark, doc_ids))
    p = positions.filter(term_in(sorted(set(terms)))).join(
        ids, "doc_id", "left_semi")
    if plural:
        allp = F.array_sort(F.flatten(F.collect_list(F.col(pos_col))))
    else:
        allp = F.array_sort(F.collect_list(F.col(pos_col)))
    agg = p.groupBy("doc_id").agg(allp.alias("_ps"))
    ps = F.col("_ps")
    hits_at = F.transform(
        ps, lambda x: F.size(F.filter(
            ps, lambda y: (y >= x) & (y < x + F.lit(width)))))
    # argmax with earliest-start tie-break: fold (best_hits, best_start)
    best = F.aggregate(
        F.zip_with(hits_at, ps, lambda h, s: F.struct(
            h.alias("h"), s.alias("s"))),
        F.struct(F.lit(-1).alias("h"), F.lit(-1).alias("s")),
        lambda acc, x: F.when(x["h"] > acc["h"], x).otherwise(acc),
    )
    return agg.select(
        "doc_id",
        best["s"].cast("long").alias("win_start"),
        best["h"].cast("long").alias("n_hits"),
        F.filter(ps, lambda y: (y >= best["s"])
                 & (y < best["s"] + F.lit(width))).alias("hit_positions"),
    )


def phrase_bm25_topk(docs: DataFrame, phrase_terms: list, k: int = 10,
                     bm25: BM25Config = BM25Config()) -> DataFrame:
    """Oracle-tier phrase search over a raw documents(doc_id, text)
    frame: BM25 scoring the phrase as ONE virtual term (tf = occurrence
    count, df = matching-doc count) — the standard way a phrase enters
    the ranking function.  Returns (rank, doc_id, ptf, score)."""
    spark = docs.sparkSession
    pos = token_positions(docs)
    matched = phrase_match(pos, phrase_terms)
    dl = pos.groupBy("doc_id").agg(F.count("*").alias("dl"))
    n_docs = docs.count()
    total_tokens = pos.count()
    avgdl = (total_tokens / n_docs) if n_docs else 1.0
    df_p = matched.count()
    if df_p == 0 or n_docs == 0:
        return spark.createDataFrame(
            [], "rank long, doc_id long, ptf long, score double")
    import math
    idf = math.log((n_docs - df_p + 0.5) / (df_p + 0.5) + 1.0)
    k1, b = bm25.k1, bm25.b
    w = (F.col("ptf") * F.lit(k1 + 1.0)) / (
        F.col("ptf")
        + F.lit(k1) * (F.lit(1.0 - b) + F.lit(b) * (F.col("dl") / F.lit(avgdl)))
    )
    scored = (
        matched.join(dl, "doc_id")
        .select("doc_id", "ptf", F.round(F.lit(idf) * w, 6).alias("score"))
    )
    topk = scored.orderBy(
        F.col("score").desc(), F.col("doc_id").asc()).limit(k)
    win = Window.orderBy(F.col("score").desc(), F.col("doc_id").asc())
    return (
        topk.withColumn("rank", F.row_number().over(win).cast("long"))
        .select("rank", "doc_id", "ptf", "score")
    )


def proximity_topk(docs: DataFrame, term_a: str, term_b: str,
                   window: int, k: int = 15) -> DataFrame:
    """Oracle-tier proximity search: docs where the two terms co-occur
    within ``window`` tokens, ranked by in-window pair count (desc) then
    closest distance.  Returns (rank, doc_id, n_pairs, min_dist)."""
    matched = proximity_match(token_positions(docs), term_a, term_b, window)
    order = [F.col("n_pairs").desc(), F.col("min_dist").asc(),
             F.col("doc_id").asc()]
    topk = matched.orderBy(*order).limit(k)
    win = Window.orderBy(*order)
    return (
        topk.withColumn("rank", F.row_number().over(win).cast("long"))
        .select("rank", "doc_id", "n_pairs", "min_dist")
    )

"""Second-phase and alternative ranking modes + wildcard expansion.

Beyond-reference query surface (the reference engine scores BM25 only,
searcher.py:123-143); these are the remaining staples of a production
fulltext engine, each expressed as a composition of the existing scoring
cores so every mode inherits their scale properties:

  * wildcard queries (Lucene ``WildcardQuery`` — ``te*m``, ``*ing``,
    ``wor?``) with pushdown-aware dictionary expansion, including the
    reversed-dictionary trick for leading wildcards;
  * LM-Dirichlet ranking (Zhai & Lafferty 2001; Lucene
    ``LMDirichletSimilarity``) as an alternative scorer over the same
    postings;
  * per-document term vectors (Elasticsearch ``_termvectors``);
  * two-phase retrieval with a phrase-adjacency rescorer (Elasticsearch
    ``rescore`` with a ``match_phrase`` window).

All driver-facing twins live in entry_queries (q71-q74); the functions
here are the indexed/catalog path exercised by pytest.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.window import Window

from ..config import BM25Config
from .query import (
    _REGEX_META,
    _scored_candidates,
    doc_id_frame,
    empty_topk,
    expand_prefix,
    term_in,
)

# ---------------------------------------------------------------------------
# wildcard expansion
# ---------------------------------------------------------------------------

_GLOB_META = set("*?")


def glob_to_regex(pattern: str) -> str:
    """Lucene wildcard syntax -> anchored-regex body: ``*`` matches any
    run (including empty), ``?`` exactly one char; everything else is
    literal (regex metacharacters escaped)."""
    out = []
    for ch in pattern:
        if ch == "*":
            out.append(".*")
        elif ch == "?":
            out.append(".")
        elif ch in _REGEX_META:
            out.append("\\" + ch)
        else:
            out.append(ch)
    return "".join(out)


def reversed_dictionary(dictionary: DataFrame) -> DataFrame:
    """(rterm, term, df) — the reversed-term projection of the
    dictionary (Lucene/Solr ``ReversedWildcardFilter``).  A deployment
    persists this once per snapshot SORTED BY rterm next to the
    term-sorted dictionary, so a leading wildcard becomes a StartsWith
    on rterm with the same row-group pruning a prefix query gets.
    Derived lazily here; the build cost is one projection of the
    (tiny, vocabulary-sized) dictionary."""
    return dictionary.select(
        F.reverse(F.col("term")).alias("rterm"), "term", "df")


def rdictionary_table(dictionary: DataFrame,
                      n_files: int | None = None) -> DataFrame:
    """The PERSISTED layout of the reversed dictionary: range-partitioned
    and sorted by rterm, so the parquet files carry rterm min/max
    row-group stats and a leading wildcard's reversed suffix prunes the
    scan as a pushed StringStartsWith — the same physics the term-sorted
    dictionary gives a trailing-* prefix query.  Written by the batch
    builder's stats stage, segment-delta'd by the streaming index
    maintainer, and rewritten by reindex (one projection of the
    vocabulary-sized dictionary each time — negligible next to the
    encode stage it rides along with)."""
    spark = dictionary.sparkSession
    n = n_files or max(1, spark.sparkContext.defaultParallelism // 4)
    return (reversed_dictionary(dictionary)
            .repartitionByRange(n, "rterm")
            .sortWithinPartitions("rterm"))


def expand_wildcard(dictionary: DataFrame, pattern: str,
                    max_expansions: int = 50,
                    cache: dict | None = None,
                    rdictionary: DataFrame | None = None) -> list:
    """Wildcard pattern -> the df-heaviest matching indexed terms
    (Lucene ``WildcardQuery`` with the ``max_expansions`` rewrite cap;
    df DESC, term ASC — the same deterministic contract as
    expand_prefix/expand_regex).  The pattern matches the WHOLE term
    and is matched verbatim against the indexed (stemmed) vocabulary —
    wildcard terms bypass the analyzer, as in every mainstream engine.

    Pushdown by pattern shape:
      * no metacharacter        -> exact dictionary lookup;
      * ``lit*`` (trailing-only) -> StartsWith prefix scan
                                    (delegates to expand_prefix);
      * ``*lit`` (leading-only)  -> StartsWith on the REVERSED
        dictionary when ``rdictionary`` is supplied (row-group pruning,
        the scale path) else an EndsWith full-vocabulary scan (still
        JVM codegen, and the dictionary is vocabulary-sized — millions
        of rows, not corpus-sized — so the fallback is a bounded cost);
      * anything else            -> longest-literal-prefix StartsWith +
        anchored rlike, exactly the expand_regex shape.

    All-metacharacter patterns (``*``, ``?*``...) are rejected with an
    empty expansion: a match-all term query is a scan misuse, same
    stance as Elasticsearch's ``allow_leading_wildcard``-style guards.

    ``cache``: snapshot-bound expansion cache (TermStatsCache) — repeat
    wildcards against the same immutable snapshot skip the job."""
    if not pattern:
        return []
    p = pattern.lower()
    core = "".join(ch for ch in p if ch not in _GLOB_META)
    if not core:
        return []
    key = ("wildcard", p, max_expansions)
    if cache is not None and key in cache:
        return cache[key]

    meta_at = [i for i, ch in enumerate(p) if ch in _GLOB_META]
    if not meta_at:
        scan = dictionary.filter(F.col("term") == p)
    elif meta_at == [len(p) - 1] and p[-1] == "*":
        terms = expand_prefix(dictionary, p[:-1], max_expansions)
        if cache is not None:
            cache[key] = terms
        return terms
    elif meta_at == [0] and p[0] == "*":
        suffix = p[1:]
        if rdictionary is not None:
            scan = (rdictionary
                    .filter(F.col("rterm").startswith(suffix[::-1]))
                    .select("term", "df"))
        else:
            scan = dictionary.filter(F.col("term").endswith(suffix))
    else:
        lit = p[: meta_at[0]]
        scan = dictionary
        if lit:
            scan = scan.filter(F.col("term").startswith(lit))
        scan = scan.filter(F.col("term").rlike(f"^(?:{glob_to_regex(p)})$"))
    rows = (
        scan.groupBy("term").agg(F.sum("df").alias("df"))
        .orderBy(F.col("df").desc(), F.col("term").asc())
        .limit(max_expansions).collect()
    )
    terms = [r["term"] for r in rows]
    if cache is not None:
        cache[key] = terms
    return terms


def wildcard_topk(index: DataFrame, dictionary: DataFrame, docs: DataFrame,
                  pattern: str, n_docs: int, avgdl: float, k: int = 10,
                  bm25: BM25Config = BM25Config(), weighted: bool = False,
                  max_expansions: int = 50, idf_cache: dict | None = None,
                  exclude_ids=None, bound_scale=None,
                  expansion_cache: dict | None = None,
                  rdictionary: DataFrame | None = None) -> DataFrame:
    """Wildcard top-k over the compressed index: expand against the
    vocabulary (pushdown per pattern shape, see expand_wildcard), then
    run the expansion as an OR-mode WAND query — the exact
    prefix_topk/regex_topk plan shape."""
    from ..operators.topk import wand_topk

    terms = expand_wildcard(dictionary, pattern, max_expansions,
                            cache=expansion_cache, rdictionary=rdictionary)
    spark = index.sparkSession
    if not terms:
        return empty_topk(spark)
    return wand_topk(index, dictionary, docs, "", n_docs, avgdl, k=k,
                     bm25=bm25, weighted=weighted,
                     pre_parsed=(terms, False), idf_cache=idf_cache,
                     exclude_ids=exclude_ids, bound_scale=bound_scale)


# ---------------------------------------------------------------------------
# LM-Dirichlet ranking
# ---------------------------------------------------------------------------


def lm_dirichlet_topk(postings: DataFrame, dictionary: DataFrame,
                      docs: DataFrame, query: str, n_docs: int,
                      total_tokens: float, k: int = 10, mu: float = 2000.0,
                      pre_parsed: tuple | None = None,
                      cf_cache: dict | None = None,
                      exclude_ids=None) -> DataFrame:
    """Query-likelihood ranking with Dirichlet-prior smoothing (Zhai &
    Lafferty, SIGIR 2001; Lucene ``LMDirichletSimilarity``).  Per
    matched (term, doc):

        score_t(d) = log(1 + tf / (mu * cf_t / T)) + log(mu / (dl + mu))

    summed over query terms (a term's query multiplicity multiplies its
    addend, the same ``mult`` contract as the BM25 core).  cf_t is the
    COLLECTION frequency (total tf of the term corpus-wide) and T the
    total token count — Lucene's totalTermFreq / sumTotalTermFreq pair.
    Scores are raw log-likelihood deltas vs the background model and
    may be negative (Lucene clamps at 0 to satisfy its non-negative
    score contract; we keep the raw value — ordering is identical and
    the SQL oracle can reproduce it exactly).

    Plan: cf comes from the dictionary (which already stores exact
    per-term cf next to df — one term-pruned lookup of <= |q| rows,
    collected driver-side like every term-stats lookup; df is summed
    per term because segment-delta dictionaries hold one row per
    segment) -> term-pruned postings scan (isin pushdown, identical to
    the BM25 core) -> broadcast term join -> one (doc_id) hash agg ->
    TakeOrderedAndProject -> broadcast url back-join.  Boolean mode
    (AND) requires every distinct term, same as _scored_candidates.

    ``cf_cache``: snapshot-bound dict — a long-lived query service
    skips the cf job for repeat terms (contract of query_term_idf)."""
    from ..text.normalize import parse_query

    spark = postings.sparkSession
    terms, is_bool = pre_parsed if pre_parsed is not None else parse_query(query)
    if not terms or n_docs == 0 or total_tokens <= 0:
        return empty_topk(spark)

    from collections import Counter
    counts = Counter(terms)
    need = sorted(counts)
    cf = {}
    if cf_cache is not None:
        cf = {t: cf_cache[("cf", t)] for t in need if ("cf", t) in cf_cache}
    missing = [t for t in need if t not in cf]
    if missing:
        rows = (dictionary.filter(term_in(missing))
                .groupBy("term").agg(F.sum("cf").alias("cf")).collect())
        for r in rows:
            cf[r["term"]] = int(r["cf"])
            if cf_cache is not None:
                cf_cache[("cf", r["term"])] = int(r["cf"])
    present = [t for t in counts if t in cf]
    if not present or (is_bool and len(present) < len(counts)):
        return empty_topk(spark)

    terms_df = spark.createDataFrame(
        [(t, counts[t], float(cf[t])) for t in present],
        "term string, mult int, cf double",
    )
    # float op order is the oracle contract: p = cf/T; addend =
    # mult * (ln(1 + tf/(mu*p)) + ln(mu/(dl+mu)))
    p_c = F.col("cf") / F.lit(float(total_tokens))
    addend = F.col("mult") * (
        F.log(F.lit(1.0) + F.col("tf") / (F.lit(mu) * p_c))
        + F.log(F.lit(mu) / (F.col("dl") + F.lit(mu)))
    )
    matches = (
        postings.filter(term_in(present))
        .join(F.broadcast(terms_df), "term", "inner")
    )
    if exclude_ids:
        dead = doc_id_frame(spark, exclude_ids)
        matches = matches.join(F.broadcast(dead), "doc_id", "left_anti")
    scores = matches.groupBy("doc_id").agg(
        F.sum(addend).alias("score"),
        F.count("*").alias("_nt"),
    )
    if is_bool:
        scores = scores.filter(F.col("_nt") == len(present))
    topk = (
        scores.select("doc_id", "score")
        .orderBy(F.col("score").desc(), F.col("doc_id").asc())
        .limit(k)
    )
    ranked = docs.join(F.broadcast(topk), "doc_id", "inner").withColumn(
        "rank",
        F.row_number().over(
            Window.orderBy(F.col("score").desc(), F.col("doc_id").asc())
        ).cast("int"),
    )
    return ranked.select("rank", "doc_id", "url", "score")


# ---------------------------------------------------------------------------
# term vectors
# ---------------------------------------------------------------------------


def _flat_positions(positions: DataFrame) -> DataFrame:
    """Accept either positional layout — the flat (doc_id, term, pos)
    oracle-tier shape or the catalog's plural (term, doc_id, positions
    array) shape (sources/catalog.py, same dual contract as
    operators/phrase.py) — and return the flat shape.  The explode is a
    native Generate; callers prune (by term/doc) BEFORE flattening so
    only surviving rows explode."""
    if "pos" in positions.columns:
        return positions.select("doc_id", "term", "pos")
    return positions.select(
        "doc_id", "term", F.explode("positions").alias("pos"))


def term_vector(positions: DataFrame, doc_id: int) -> DataFrame:
    """Per-document term vector (Elasticsearch ``_termvectors``): one
    row per distinct term of ``doc_id`` with its tf and sorted 0-based
    positions array — the inspection/debug surface of a positional
    index.  Plan: one doc_id-pruned scan of the positions table (the
    predicate pushes into the scan; on a doc-sharded positional layout
    this touches one shard) -> one hash agg.  Output: (term, tf,
    positions), deterministic regardless of scan order (positions are
    sort_array'd)."""
    return (
        _flat_positions(positions.filter(F.col("doc_id") == int(doc_id)))
        .groupBy("term")
        .agg(
            F.count("*").cast("long").alias("tf"),
            F.sort_array(F.collect_list(F.col("pos").cast("long")))
            .alias("positions"),
        )
        .select("term", "tf", "positions")
    )


# ---------------------------------------------------------------------------
# two-phase rescore
# ---------------------------------------------------------------------------


def rescore_topk(positions: DataFrame, postings: DataFrame,
                 dictionary: DataFrame, docs: DataFrame, query: str,
                 n_docs: int, avgdl: float, first_n: int = 50, k: int = 10,
                 weight: float = 0.5, bm25: BM25Config = BM25Config(),
                 pre_parsed: tuple | None = None,
                 idf_cache: dict | None = None,
                 exclude_ids=None) -> DataFrame:
    """Two-phase retrieval (Elasticsearch ``rescore``, Lucene
    QueryRescorer): a cheap first pass selects the BM25 OR-mode top
    ``first_n`` candidates, then an expensive second pass recomputes
    only those — here a phrase-adjacency boost over the positional
    index:

        score = score_bm25 + weight * ln(1 + ptf)

    where ptf counts occurrences of any ADJACENT consecutive-query-term
    pair (``t_i t_{i+1}`` at positions p, p+1) in the doc — the
    ``match_phrase`` rescorer shape.  Docs where the query terms never
    appear adjacent keep their first-pass score (ln(1+0) = 0).

    Scale shape: phase 1 is the shared exhaustive core ->
    TakeOrderedAndProject (first_n rows reach the driver-side plan, no
    data to the driver); phase 2 prunes the positions scan BOTH by term
    (isin pushdown) and by candidate doc (broadcast semi-join against
    the <= first_n winners) — the expensive operator runs on a bounded
    candidate set no matter the corpus size, which is the entire point
    of rescore windows.  Returns (rank, doc_id, url, ptf, score_first,
    score) ordered by the rescored score, ties by doc_id."""
    from ..text.normalize import parse_query

    spark = postings.sparkSession
    terms, is_bool = pre_parsed if pre_parsed is not None else parse_query(query)
    pairs = sorted({(a, b) for a, b in zip(terms, terms[1:]) if a != b})
    scores = _scored_candidates(postings, dictionary, query, n_docs,
                                avgdl, bm25, pre_parsed=(terms, is_bool),
                                idf_cache=idf_cache,
                                exclude_ids=exclude_ids)
    if scores is None:
        return spark.createDataFrame(
            [], "rank int, doc_id long, url string, ptf long, "
                "score_first double, score double")
    first = (
        scores.select("doc_id", F.col("score").alias("score_first"))
        .orderBy(F.col("score_first").desc(), F.col("doc_id").asc())
        .limit(first_n)
    )

    if pairs:
        pair_terms = sorted({t for p in pairs for t in p})
        pos = _flat_positions(
            positions.filter(term_in(pair_terms))
            .join(F.broadcast(first.select("doc_id")), "doc_id", "left_semi")
        )
        pairs_df = spark.createDataFrame(pairs, "t0 string, t1 string")
        p0 = pos.join(F.broadcast(pairs_df), pos["term"] == F.col("t0"))
        p1 = pos.select(
            F.col("doc_id").alias("doc_id1"),
            F.col("term").alias("term1"),
            (F.col("pos") - 1).alias("pos1"),
        )
        m = p0.join(
            p1,
            (F.col("doc_id") == F.col("doc_id1"))
            & (F.col("t1") == F.col("term1"))
            & (F.col("pos") == F.col("pos1")),
            "inner",
        )
        occ = m.groupBy("doc_id").agg(F.count("*").cast("long").alias("ptf"))
        cand = first.join(occ, "doc_id", "left").fillna(0, subset=["ptf"])
    else:
        cand = first.withColumn("ptf", F.lit(0).cast("long"))

    rescored = cand.withColumn(
        "score",
        F.col("score_first")
        + F.lit(float(weight)) * F.log(F.lit(1.0) + F.col("ptf")),
    )
    topk = (
        rescored.orderBy(F.col("score").desc(), F.col("doc_id").asc())
        .limit(k)
    )
    ranked = docs.join(F.broadcast(topk), "doc_id", "inner").withColumn(
        "rank",
        F.row_number().over(
            Window.orderBy(F.col("score").desc(), F.col("doc_id").asc())
        ).cast("int"),
    )
    return ranked.select("rank", "doc_id", "url", "ptf",
                         "score_first", "score")

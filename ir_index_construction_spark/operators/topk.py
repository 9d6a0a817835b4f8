"""Block-max WAND top-k over the compressed document-sharded index.

`make_scorer` is the one shard scorer behind single queries
(`wand_topk`) and query workloads (`wand_topk_batch`).  It is
set-at-a-time BMW: document-at-a-time WAND is a per-doc Python loop,
the slow path the engine avoids, so the same block pruning runs as
vectorized numpy.  Per shard, over a list of query specs:

  1. DECODE each query term present in the shard ONCE (`term_scores`,
     the only place `weighted` and `exclude_ids` apply); every spec
     containing the term reads the same arrays.
  2. PRUNE, only in a one-spec make_scorer call (a single OR query;
     wand_topk_batch never prunes).  SEED:
     fully score the highest-(mult*idf) term; with >= k postings,
     theta = its kth best score, a lower bound on the shard's kth best
     FULL score.  SWEEP: block j of term t holds doc ids in
     (prev_block_last, block_last]; adding every block's bound
     (ub = mult*idf*block_max_tf_norm) over its interval gives each
     elementary doc-id interval's upper-bound coverage.  A block whose
     MAX coverage is STRICTLY below theta is never decoded (strict: an
     equal-ub doc can still win its tie on doc_id, SURVEY.md §7.2 #4).
  3. ACCUMULATE each spec with one bincount in QUERY-TERM ORDER
     (bit-identical float sums to the oracle), then apply the AND
     filter, the search-after cursor and the shard top k by (score
     DESC, doc_id ASC).  The global merge is a TakeOrderedAndProject
     (single query) or a per-query rank window (workload).

Why only one spec prunes: a workload's specs share each term's decode,
so pruning would still decode the union of their selections and would
add a seed decode and a sweep per spec.  On the benchmark's 576-doc
catalog (4-vCPU VM, local[2]) single queries decode every block anyway
(blocks_decoded_ratio 1.0), while the workload scorer's 0.56-0.79 ms
per query is 25-36% of a 1,000-query batch's wall.  Pruning is
lossless given valid bounds, so the rule changes cost, never results;
a workload also carries no segment bound scales, so it must not prune
even when it holds one query.

Term cursors are columnar (_shard_cursors): one stable (term, chunk)
sort of the shard's columns concatenates every chunk's block_last_doc
and block-max arrays once, and each term's cursor holds views of its
contiguous range (block_last, block_ub, block_prev = the previous
block's last doc, or first_doc - 1 at a term's first block) plus its
chunks' payloads.  No per-term pandas group, sort or row tuples, which
cost ~1 ms per term; decode and arithmetic are unchanged, so scores
are too.

Boolean AND: no pruning (a seed theta over non-candidates could
over-prune); candidates must match all distinct terms, and a term with
zero global postings empties the result before any job launches.

wand_topk_driver runs the same scorer on the driver, with no Spark
job, for queries whose postings fit a budget (the query service's
route for small queries).
"""

from __future__ import annotations

from collections import Counter

import numpy as np
import pandas as pd
import pyarrow.compute as pc
import pyarrow.dataset as ds
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.window import Window

from ..config import BM25Config
from ..functions.codec import bm25_tf_norm, decode_chunk
from ..plans.query import empty_topk, query_term_idf, term_in
from ..schemas import TOPK
from ..text.normalize import parse_query

_LOCAL_SCHEMA = "doc_id long, score double"


def _sparse_table(values: np.ndarray):
    """O(n log n) range-max structure; query(l, r) inclusive, vectorized."""
    tables = [values]
    j = 1
    n = len(values)
    while (1 << j) <= n:
        prev = tables[-1]
        half = 1 << (j - 1)
        m = n - (1 << j) + 1
        tables.append(np.maximum(prev[:m], prev[half:half + m]))
        j += 1

    def query(lo: np.ndarray, hi: np.ndarray) -> np.ndarray:
        out = np.empty(len(lo), np.float64)
        span = hi - lo + 1
        jj = np.int64(np.floor(np.log2(span)))
        for level in np.unique(jj):
            m = jj == level
            t = tables[int(level)]
            out[m] = np.maximum(t[lo[m]], t[hi[m] - (1 << int(level)) + 1])
        return out

    return query


class _TermCursor:
    """All chunks of one term within one shard: views into the shard's
    block tables (_shard_cursors).  block_ub holds the stored
    (unweighted or weighted) block-max tf-norm bounds."""

    __slots__ = ("payloads", "chunk_lasts", "block_last", "block_ub",
                 "block_prev", "chunk_offsets", "n_postings")

    def __init__(self, payloads, chunk_lasts, block_last, block_ub,
                 block_prev, chunk_offsets, n_postings: int):
        self.payloads = payloads            # per chunk, in chunk order
        self.chunk_lasts = chunk_lasts      # per chunk block_last_doc
        self.block_last = block_last
        self.block_ub = block_ub
        self.block_prev = block_prev
        self.chunk_offsets = chunk_offsets  # chunk i: blocks [o[i], o[i+1])
        self.n_postings = n_postings

    def decode(self, sel: np.ndarray | None, with_imp: bool = False):
        """Decode selected blocks (None = all) across chunks.  with_imp
        skips the imp stream entirely for plain-BM25 queries."""
        docs, tfs, dls, imps = [], [], [], []
        o = self.chunk_offsets
        for i, (payload, lasts) in enumerate(zip(self.payloads,
                                                 self.chunk_lasts)):
            csel = None if sel is None else sel[o[i]:o[i + 1]]
            if csel is not None and not csel.any():
                continue
            d, t, l, im = decode_chunk(payload, lasts, csel,
                                       with_imp=with_imp)
            docs.append(d)
            tfs.append(t)
            dls.append(l)
            imps.append(im)
        if not docs:
            z = np.zeros(0, np.int64)
            return z, z, z, z
        return (np.concatenate(docs), np.concatenate(tfs),
                np.concatenate(dls), np.concatenate(imps))


def _shard_cursors(pdf: pd.DataFrame, weighted: bool = False) -> dict:
    """{term: _TermCursor} over one shard's index rows, built from ONE
    stable (term, chunk) sort of the columns and array slices: the
    shard's block tables are concatenated once, and each term's cursor
    holds views of its contiguous range (no per-term frame, sort or
    row objects)."""
    codes, terms = pd.factorize(pdf["term"])
    order = np.lexsort((pdf["chunk"].to_numpy(), codes))
    codes = codes[order]
    starts = np.flatnonzero(np.r_[True, codes[1:] != codes[:-1]])
    bounds = np.r_[starts, len(codes)]
    lasts = [np.asarray(v, np.int64)
             for v in pdf["block_last_doc"].to_numpy()[order]]
    ub_col = "block_max_wscore" if weighted else "block_max_score"
    block_last = np.concatenate(lasts)
    block_ub = np.concatenate(
        [np.asarray(v, np.float64) for v in pdf[ub_col].to_numpy()[order]])
    off = np.zeros(len(lasts) + 1, np.int64)
    np.cumsum([len(v) for v in lasts], out=off[1:])
    # a block's doc range is (prev_block_last, block_last]; a term's
    # first block starts after its first chunk's first_doc - 1
    block_prev = np.empty_like(block_last)
    block_prev[1:] = block_last[:-1]
    block_prev[off[starts]] = pdf["first_doc"].to_numpy(np.int64)[order][
        starts] - 1
    n_postings = np.add.reduceat(
        pdf["n_postings"].to_numpy(np.int64)[order], starts)
    payloads = pdf["payload"].to_numpy()[order]
    cursors = {}
    for j, (s, e) in enumerate(zip(bounds[:-1], bounds[1:])):
        b0, b1 = off[s], off[e]
        cursors[terms[codes[s]]] = _TermCursor(
            payloads[s:e], lasts[s:e], block_last[b0:b1], block_ub[b0:b1],
            block_prev[b0:b1], off[s:e + 1] - b0, int(n_postings[j]))
    return cursors


def make_scorer(specs: list, k: int, avgdl: float, bm25: BM25Config,
                weighted: bool = False, exclude_ids=None, bound_scale=None,
                after: tuple | None = None, stats: dict | None = None):
    """The shard scorer behind wand_topk and wand_topk_batch.

    specs: [(query_id, ordered_terms, {term: (mult, idf)}, is_bool,
    n_required)]; ordered_terms are a query's distinct terms in query
    order (the float-sum order contract with the oracle).  Returns
    score_shard(pdf) -> [(query_id, doc_ids, scores)]: each spec's
    shard-local top k by (score DESC, doc_id ASC), specs without a hit
    in the shard left out.  A spec's rows are bit-identical whether it
    is scored alone or in a workload.  Only a one-spec call prunes
    (module docstring).  `stats` is a local-mode instrumentation dict
    (blocks_total/blocks_decoded).

    weighted=True scores BM25 x tag-importance (contribution x imp/10,
    the reference's tf-idf x s semantics — searcher.py:123-143 — on the
    engine's BM25 base); pruning then uses the block_max_wscore bound,
    which is exact for the weighted score.

    exclude_ids: deletion set (tombstoned doc_ids) dropped at decode —
    a deleted doc never enters a top k, and the seed threshold counts
    surviving docs only, so pruning never cuts a block whose best live
    doc belongs in the top k.

    bound_scale: [(min_shard, max_shard, factor), ...] per index
    SEGMENT (schemas.INDEX_SEGMENTS).  A segment's block-max bounds were
    encoded at its build-time avgdl; once the corpus avgdl has grown,
    true scores can exceed them, and max(1, avgdl_now/built_avgdl)
    restores a valid bound (w grows at most proportionally with avgdl).
    Only the pruning bound scales: scores always use avgdl_now, so
    results are identical to a full rebuild.

    after: search-after page cursor (score, doc_id), the last row of
    the previous page.  Only docs STRICTLY after it in (score DESC,
    doc_id ASC) order qualify, applied to the final sums before the
    shard top k (so backfill is correct).  A cursor disables pruning:
    theta lower-bounds the k-th best UNFILTERED score, which can exceed
    every page-2 score (lossless pruning under a cursor would need
    block-MIN metadata the index doesn't carry).  Scores are
    deterministic per snapshot, so a cursor compares exactly."""
    return _scorer(specs, k, avgdl, bm25, weighted, exclude_ids, bound_scale,
                   after, stats, prune=len(specs) == 1)


def _scorer(specs, k, avgdl, bm25, weighted, exclude_ids, bound_scale,
            after, stats, prune: bool):
    """make_scorer's body; prune=False decodes every block."""
    k1, b = bm25.k1, bm25.b
    exclude = (np.asarray(sorted(exclude_ids), dtype=np.int64)
               if exclude_ids is not None and len(exclude_ids) else None)
    scale_ranges = [(int(lo), int(hi), float(s))
                    for lo, hi, s in bound_scale or () if float(s) != 1.0]

    def term_scores(cursor: _TermCursor, selection):
        """(doc_ids, tf-norm x importance) of the selected blocks
        (None = all), deleted docs dropped."""
        d, t, l, i = cursor.decode(selection, with_imp=weighted)
        w = bm25_tf_norm(t, l, avgdl, k1, b)
        if weighted:
            w = w * (i.astype(np.float64) / 10.0)
        if exclude is not None:
            keep = ~np.isin(d, exclude)
            d, w = d[keep], w[keep]
        return d, w

    def block_selection(pdf, cursors: dict, terms: list, meta: dict) -> dict:
        """{term: kept-block mask} from one OR spec's seed threshold, or
        {} (decode every block) when no threshold applies."""
        if len(terms) < 2 or after is not None:
            return {}
        weight = {t: meta[t][0] * meta[t][1] for t in terms}
        seed = max(terms, key=lambda t: (weight[t], t))
        if cursors[seed].n_postings < k:
            return {}
        s = weight[seed] * term_scores(cursors[seed], None)[1]
        if len(s) < k:
            return {}
        theta = float(np.partition(s, len(s) - k)[len(s) - k])

        ub_scale = 1.0
        if scale_ranges:
            shard = int(pdf["shard"].iloc[0])
            ub_scale = next((sc for lo, hi, sc in scale_ranges
                             if lo <= shard <= hi), 1.0)
        cs = [cursors[t] for t in terms]
        starts = np.concatenate([c.block_prev + 1 for c in cs])
        ends = np.concatenate([c.block_last for c in cs])
        ubs = np.concatenate([c.block_ub * (weight[t] * ub_scale)
                              for t, c in zip(terms, cs)])
        pos = np.concatenate([starts, ends + 1])
        delta = np.concatenate([ubs, -ubs])
        order = np.argsort(pos, kind="stable")
        cum = np.cumsum(delta[order])
        uniq, cnt = np.unique(pos[order], return_counts=True)
        cov = cum[np.cumsum(cnt) - 1]       # coverage on [uniq[i], uniq[i+1])
        rmax = _sparse_table(cov)
        keep = {}
        for t, c in zip(terms, cs):
            lo = np.searchsorted(uniq, c.block_prev + 1, "right") - 1
            hi = np.searchsorted(uniq, c.block_last, "right") - 1
            keep[t] = rmax(lo, hi) >= theta      # prune only strictly-below
        return keep

    def score_shard(pdf: pd.DataFrame) -> list:
        cursors = _shard_cursors(pdf, weighted)
        active = []
        for qid, ordered, meta, is_bool, n_required in specs:
            present = [t for t in ordered if t in cursors]
            if present and not (is_bool and len(present) < n_required):
                active.append((qid, present, meta, is_bool, n_required))
        if not active:
            return []
        selections = {}
        if prune and not active[0][3]:
            selections = block_selection(pdf, cursors, active[0][1],
                                         active[0][2])
        needed = dict.fromkeys(t for spec in active for t in spec[1])
        if stats is not None:
            for t in needed:
                nb, sel = len(cursors[t].block_last), selections.get(t)
                stats["blocks_total"] = stats.get("blocks_total", 0) + nb
                stats["blocks_decoded"] = stats.get("blocks_decoded", 0) + (
                    nb if sel is None else int(sel.sum()))
        decoded = {t: term_scores(cursors[t], selections.get(t))
                   for t in needed}

        hits = []
        for qid, present, meta, is_bool, n_required in active:
            docs_cat = np.concatenate([decoded[t][0] for t in present])
            scores_cat = np.concatenate(
                [(meta[t][0] * meta[t][1]) * decoded[t][1] for t in present])
            uniq_docs, inv = np.unique(docs_cat, return_inverse=True)
            sums = np.bincount(inv, weights=scores_cat,
                               minlength=len(uniq_docs))
            keep = None
            if is_bool:                # (term,doc) unique => count == #terms
                keep = np.bincount(inv, minlength=len(uniq_docs)) == n_required
            if after is not None:
                cs, cd = float(after[0]), int(after[1])
                m = (sums < cs) | ((sums == cs) & (uniq_docs > cd))
                keep = m if keep is None else keep & m
            if keep is not None:
                uniq_docs, sums = uniq_docs[keep], sums[keep]
            if len(uniq_docs):
                order = np.lexsort((uniq_docs, -sums))[:k]
                hits.append((qid, uniq_docs[order], sums[order]))
        return hits

    return score_shard


_NO_HITS = (np.zeros(0, np.int64), np.zeros(0, np.float64))


def make_shard_scorer(term_meta: dict, ordered_terms: list, k: int,
                      is_bool: bool, avgdl: float, bm25: BM25Config,
                      stats: dict | None = None, weighted: bool = False,
                      exclude_ids=None, bound_scale=None,
                      after: tuple | None = None):
    """One query's make_scorer: shard rows -> (doc_id, score) frame of
    the shard's top k.  term_meta: {term: (mult, idf)}; ordered_terms:
    distinct terms in query order."""
    score = make_scorer(
        [(None, ordered_terms, term_meta, is_bool, len(ordered_terms))],
        k, avgdl, bm25, weighted=weighted, exclude_ids=exclude_ids,
        bound_scale=bound_scale, after=after, stats=stats)

    def score_shard(pdf: pd.DataFrame) -> pd.DataFrame:
        hits = score(pdf)
        docs, scores = hits[0][1:] if hits else _NO_HITS
        return pd.DataFrame({"doc_id": docs, "score": scores})

    return score_shard


def _query_specs(spark, dictionary, parsed: dict, n_docs: int,
                 avgdl: float, idf_cache: dict | None = None,
                 boosts: dict | None = None) -> list:
    """make_scorer specs for {query_id: (terms, is_bool)}: one idf
    lookup for the union of the terms (query_term_idf: a Spark job over
    a dictionary frame, none over a pyarrow dataset), then _specs.  An
    empty corpus has no specs, and makes no lookup."""
    union = sorted({t for terms, _ in parsed.values() for t in terms})
    if not union or n_docs == 0 or avgdl == 0:
        return []
    tf_idf = query_term_idf(spark, dictionary, union, n_docs, cache=idf_cache)
    return _specs(parsed, tf_idf, boosts)


def _specs(parsed: dict, tf_idf: dict, boosts: dict | None = None) -> list:
    """Per query its distinct terms in query order with {term:
    (multiplicity, idf x boost)}, from the {term: (df, idf)} lookup.
    Queries with an empty result are left out: no known term, or a
    boolean query missing any term (searcher.py:153-155)."""
    specs = []
    for qid, (terms, is_bool) in parsed.items():
        counts = Counter(terms)
        ordered = [t for t in dict.fromkeys(terms) if t in tf_idf]
        if not ordered or (is_bool and len(ordered) < len(counts)):
            continue
        meta = {t: (counts[t],
                    tf_idf[t][1] * (boosts.get(t, 1.0) if boosts else 1.0))
                for t in ordered}
        specs.append((qid, ordered, meta, is_bool, len(ordered)))
    return specs


def wand_topk(index: DataFrame, dictionary: DataFrame, docs: DataFrame,
              query: str, n_docs: int, avgdl: float, k: int = 10,
              bm25: BM25Config = BM25Config(), weighted: bool = False,
              pre_parsed: tuple | None = None,
              idf_cache: dict | None = None,
              exclude_ids=None, bound_scale=None,
              after: tuple | None = None,
              boosts: dict | None = None) -> DataFrame:
    """TOPK (rank, doc_id, url, score) via the compressed index.

    Plan: term-filtered scan of the index (parquet row-group pruning on
    the term-sorted layout) -> shard-local BMW scorer (no shuffle of
    postings; groupBy(shard) moves only the query terms' chunk rows,
    which are already co-partitioned by shard on disk) -> global
    TakeOrderedAndProject over <= k rows per shard -> broadcast back-join
    for urls.

    weighted=True ranks by BM25 x tag-importance (imp/10 multiplier, the
    reference's searcher.py:123-143 zone semantics on the BM25 base).
    pre_parsed=(terms, is_bool) bypasses parse_query (e.g. for indexes
    built without stemming, where the query must not be stemmed).

    exclude_ids: optional deletion set (tombstoned doc_ids, see
    plans/maintenance.py) applied DURING shard scoring — the
    merge-on-read query path between purge cycles.  Bounded by takedown
    volume, it ships to executors inside the scorer closure (a
    deletion-bitmap analogue); correct under-k backfill is preserved
    because exclusion happens before per-shard top-k selection, and the
    idf/avgdl corpus stats intentionally stay those of the committed
    index (matching a rebuilt-minus-deletions index requires the
    rebuild).

    after=(score, doc_id): search-after pagination cursor — the last
    row of the previous page; returns the NEXT k results (rank restarts
    at 1 for the page).  See make_scorer for the pruning
    contract.

    boosts: optional {stemmed term: weight} (text/normalize.
    parse_boosted_query, the Lucene ``term^2.5`` clause weight) —
    multiplies that term's idf in the scorer metadata.  WAND pruning
    stays exact because the block-max bound and the true contribution
    are BOTH (mult*idf)*tf_norm: scaling idf scales them together."""
    spark = index.sparkSession
    terms, is_bool = pre_parsed if pre_parsed is not None else parse_query(query)
    specs = _query_specs(spark, dictionary, {None: (terms, is_bool)}, n_docs,
                         avgdl, idf_cache, boosts)
    if not specs:
        return empty_topk(spark)
    _, ordered, term_meta, is_bool, _ = specs[0]
    rows = index.filter(term_in(ordered))
    scorer = make_shard_scorer(term_meta, ordered, k, is_bool, avgdl, bm25,
                               weighted=weighted, exclude_ids=exclude_ids,
                               bound_scale=bound_scale, after=after)
    local = rows.groupBy("shard").applyInPandas(scorer, _LOCAL_SCHEMA)
    topk = local.orderBy(F.col("score").desc(), F.col("doc_id").asc()).limit(k)
    return (
        docs.join(F.broadcast(topk), "doc_id", "inner")
        .withColumn("rank", F.row_number().over(
            Window.orderBy(F.col("score").desc(), F.col("doc_id").asc())
        ).cast("int"))
        .select("rank", "doc_id", "url", "score")
    )


class DriverIndex:
    """pyarrow datasets over ONE catalog snapshot's live index,
    dictionary and docs files: what wand_topk_driver reads.  Open it
    once per snapshot; files are immutable, so a later commit never
    changes what it reads."""

    __slots__ = ("index", "dictionary", "docs")

    def __init__(self, files: dict):
        self.index, self.dictionary, self.docs = (
            ds.dataset(files[t], format="parquet")
            for t in ("index", "dictionary", "docs"))


def wand_topk_driver(spark, tables: DriverIndex, query: str, n_docs: int,
                     avgdl: float, max_postings: int, k: int = 10,
                     bm25: BM25Config = BM25Config(),
                     weighted: bool = False,
                     pre_parsed: tuple | None = None,
                     idf_cache: dict | None = None,
                     exclude_ids=None, bound_scale=None,
                     after: tuple | None = None,
                     boosts: dict | None = None) -> DataFrame | None:
    """wand_topk's rows computed on the driver with no Spark job, or
    None when the query's postings (the summed df of its present terms)
    exceed ``max_postings``.  The route is chosen by the query's
    postings, never by corpus size; a query with no postings (no known
    term, an AND missing a term) gets its empty page here at any budget.

    Same pieces as wand_topk's plan, read with pyarrow: the idf lookup
    over ``tables.dictionary`` (query_term_idf, so a None return leaves
    the terms in ``idf_cache`` for the wand_topk that follows), the
    query's index rows by a ``term`` In filter (row-group pruning on the
    term-sorted files), make_shard_scorer per shard with the same specs,
    a (score DESC, doc_id ASC) top k, and urls by a ``doc_id`` In filter
    on docs.  The scorer and its inputs are wand_topk's, so rows are
    identical by construction.  The <= k rows come back as
    ``createDataFrame(pandas)``, an Arrow local relation, and an empty
    page as empty_topk: neither runs a job when collected."""
    terms, is_bool = pre_parsed if pre_parsed is not None else parse_query(query)
    if not terms or n_docs == 0 or avgdl == 0:
        return empty_topk(spark)
    tf_idf = query_term_idf(spark, tables.dictionary, sorted(set(terms)),
                            n_docs, cache=idf_cache)
    specs = _specs({None: (terms, is_bool)}, tf_idf, boosts)
    if not specs:
        return empty_topk(spark)
    _, ordered, term_meta, is_bool, _ = specs[0]
    if sum(tf_idf[t][0] for t in ordered) > max_postings:
        return None
    rows = tables.index.to_table(
        filter=pc.field("term").isin(ordered)).to_pandas()
    scorer = make_shard_scorer(term_meta, ordered, k, is_bool, avgdl, bm25,
                               weighted=weighted, exclude_ids=exclude_ids,
                               bound_scale=bound_scale, after=after)
    shard = rows["shard"].to_numpy()
    by_shard = np.argsort(shard, kind="stable")
    cuts = np.flatnonzero(np.diff(shard[by_shard])) + 1
    local = [scorer(rows.iloc[i]) for i in np.split(by_shard, cuts)
             if len(i)]
    if not local:
        return empty_topk(spark)
    doc_ids = np.concatenate([h["doc_id"].to_numpy() for h in local])
    scores = np.concatenate([h["score"].to_numpy() for h in local])
    top = np.lexsort((doc_ids, -scores))[:k]
    urls = tables.docs.to_table(
        columns=["doc_id", "url"],
        filter=pc.field("doc_id").isin(doc_ids[top])).to_pandas()
    page = pd.DataFrame({"doc_id": doc_ids[top], "score": scores[top]}) \
        .merge(urls, on="doc_id", how="inner")
    if page.empty:
        return empty_topk(spark)
    page.insert(0, "rank", np.arange(1, len(page) + 1, dtype=np.int32))
    return spark.createDataFrame(page[["rank", "doc_id", "url", "score"]],
                                 TOPK)


_BATCH_LOCAL_SCHEMA = "query_id string, doc_id long, score double"


def make_batch_shard_scorer(specs: list, k: int, avgdl: float,
                            bm25: BM25Config, weighted: bool = False,
                            exclude_ids=None):
    """A query workload's make_scorer: shard rows -> (query_id, doc_id,
    score) frame of every query's shard top k.  Each term is decoded
    once per shard and reused by every query that contains it, so a
    workload's Zipfian term overlap amortizes decode across queries.
    Never prunes, even for a one-query workload: it carries no segment
    bound scales, and an older segment's stale block-max bounds could
    cut a top-k doc."""
    score = _scorer(specs, k, avgdl, bm25, weighted, exclude_ids, None, None,
                    None, prune=False)

    def score_shard(pdf: pd.DataFrame) -> pd.DataFrame:
        hits = score(pdf) or [(None, *_NO_HITS)]
        return pd.DataFrame({
            "query_id": np.concatenate(
                [np.full(len(d), q, dtype=object) for q, d, _ in hits]),
            "doc_id": np.concatenate([d for _, d, _ in hits]),
            "score": np.concatenate([s for _, _, s in hits])})

    return score_shard


def wand_topk_batch(index: DataFrame, dictionary: DataFrame, docs: DataFrame,
                    queries: dict, n_docs: int, avgdl: float, k: int = 10,
                    bm25: BM25Config = BM25Config(), weighted: bool = False,
                    pre_parsed: dict | None = None,
                    idf_cache: dict | None = None,
                    exclude_ids=None) -> DataFrame:
    """Evaluate a query WORKLOAD in one Spark job: (query_id, rank,
    doc_id, url, score), rank-partitioned per query, each query's rows
    bit-identical to its single-query wand_topk() result.

    Per-query wand_topk pays fixed per-job costs (driver scheduling,
    Python-worker round trip, broadcast) that dominate latency once the
    index is pruned well; on a 1000-executor cluster that is a whole
    scheduling wave per query.  A training-data pipeline scoring 10^4 mined
    queries needs the batch shape: ONE term-filtered index scan over the
    union of all query terms, the same shard scorer with every query per
    shard (terms decoded once, reused across queries), one window rank
    over <= n_queries x n_shards x k rows, one broadcast url back-join,
    and one dictionary lookup job for the union term set.

    queries: {query_id: query_text}.  pre_parsed: {query_id: (terms,
    is_bool)} bypasses parse_query (unstemmed indexes).  Queries whose
    terms are all absent (or boolean queries missing any term —
    searcher.py:153-155) contribute zero rows, exactly like their
    single-query empty result."""
    spark = index.sparkSession
    parsed = {qid: (pre_parsed[qid] if pre_parsed and qid in pre_parsed
                    else parse_query(text))
              for qid, text in queries.items()}
    specs = _query_specs(spark, dictionary, parsed, n_docs, avgdl, idf_cache)
    if not specs:
        return spark.createDataFrame([], "query_id string, rank int, doc_id"
                                         " long, url string, score double")
    needed = sorted({t for _, ordered, *_ in specs for t in ordered})
    rows = index.filter(term_in(needed))
    scorer = make_batch_shard_scorer(specs, k, avgdl, bm25, weighted=weighted,
                                     exclude_ids=exclude_ids)
    local = rows.groupBy("shard").applyInPandas(scorer, _BATCH_LOCAL_SCHEMA)
    win = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("doc_id").asc())
    topk = (local.withColumn("rank", F.row_number().over(win).cast("int"))
            .filter(F.col("rank") <= k))
    return (
        docs.join(F.broadcast(topk), "doc_id", "inner")
        .select("query_id", "rank", "doc_id", "url", "score")
    )

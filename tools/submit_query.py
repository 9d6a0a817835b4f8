"""spark-submit entry point for BM25 top-k queries against a built
catalog — one-shot or interactive REPL (parity with the reference's
query loop, /root/reference/searcher.py:202-219, which prompts, prints
the ranked URLs and the elapsed milliseconds until an empty line quits).

    spark-submit --py-files dist/engine.zip tools/submit_query.py \
        --catalog /data/index_catalog [--query "machine learning"] [-k 10]
        [--mode wand|exhaustive|phrase|prefix|fuzzy|regex|wildcard|
                significant|mlt|related]
        [--weighted] [--zone title] [--after SCORE:DOC_ID]
        [--scorer bm25|lm] [--rescore N] [--termvectors DOC_ID]
        [--batch queries.txt]

--batch FILE evaluates every line of FILE as one query workload
(operators/topk.py wand_topk_batch: one index scan for the union of
its terms, scored on the driver when that union's postings fit the
driver-route budget, else as one Spark plan) and prints per-query
blocks — the shape for scoring a mined query set against the corpus.

Query surfaces (each also selected by syntax where noted): exact
phrase ("double quoted"), mixed phrase+term ('"a b" c' — a partially
quoted query; every clause an OR-mode BM25 addend), prefix wildcard
(trailing *), fuzzy
(trailing ~), whole-term regex (/slash-wrapped/ — Lucene RegexpQuery,
dictionary expansion with literal-prefix pushdown), significant terms
of a result page (--mode significant — Elasticsearch's
significant_terms with the JLH heuristic over the query's top-100
docs), NOT-terms (-term), per-term boosts (term^2.5 — Lucene
clause weights, wand + exhaustive), minimum_should_match (--min-match
M: OR-mode queries keep only docs matching >= M distinct terms; runs
on the exhaustive plan), zone restriction (--zone title =
in:title), more-like-this (--mode mlt, query is a doc_id), related
terms (--mode related, PMI partners), search-after deep pagination
(--after SCORE:DOC_ID, the last row of the previous page), a per-term
score breakdown (--explain DOC_ID, the Lucene Explanation analogue),
field collapsing (--collapse [CAP], at most CAP results per url
host — CAP=1 strict collapse, CAP>1 diversified top-k), general
wildcards (--mode wildcard, auto-selected for single tokens carrying
'*'/'?' — leading '*er' and infix 'm?chine' shapes; trailing-* stays on
the prefix plan), LM-Dirichlet ranking (--scorer lm, mu=2000 query
likelihood instead of BM25), two-phase rescoring (--rescore N: BM25
first pass cut at N, phrase-adjacency boost on that window only), term
vectors (--termvectors DOC_ID: tf + sorted 0-based positions per term),
and a "did you mean" line on zero-hit term queries.

Without --query, enters the REPL:

    query> machine learning
      1      4.6633  https://ics.example.edu/page/42/214
      ...
    [12.3 ms]
    query>
"""

from __future__ import annotations

import argparse
import math
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))


def doc_meta_coverage_warning(doc_meta_df, docs_df, n_docs) -> str | None:
    """Coverage check for the crawl-metadata sidecar (ADVICE r5): a
    legacy catalog can hold doc_meta rows for only a subset of docs
    (batch-built before the sidecar existed, then extended by streaming
    drains).  The metadata modes semi-join / inner-join on doc_meta, so
    every metadata-less doc silently vanishes from --filter /
    --facet-date / --recency results while plain queries still return
    it.  One count per snapshot, run by its first metadata query, makes
    that gap loud.
    Only doc_meta ids that are in ``docs_df`` count (a semi-join), so
    orphan meta rows cannot mask missing ones.  Returns the warning
    text, or None when coverage is complete."""
    n_meta = (doc_meta_df.select("doc_id").distinct()
              .join(docs_df.select("doc_id"), "doc_id", "left_semi")
              .count())
    if n_meta >= n_docs:
        return None
    return (f"WARNING: doc_meta covers only {n_meta} of {n_docs} docs; "
            "metadata queries (--filter/--facet-date/--recency) will "
            "exclude the docs without metadata — reindex to backfill "
            "the sidecar")


def _half_life(v):
    # a degenerate half-life must error, not ZeroDivisionError in
    # recency_boosted_topk (0), silently invert decay into growth,
    # ranking stale docs UP (negative), or silently switch recency off
    # (inf) — ADVICE r5, mirroring --collapse's _collapse_cap guard
    fv = float(v)
    if not (math.isfinite(fv) and fv > 0):      # also rejects NaN
        raise argparse.ArgumentTypeError(
            f"--recency HALF_LIFE_DAYS must be finite and > 0 (got {v})")
    return fv


class QueryService:
    """Steady-state query service: loads stats/docs/dictionary/index
    frames ONCE per catalog snapshot (round-2 ADVICE: the REPL used to
    re-read tables and collect() stats every iteration), and binds the
    term-stats cache to the snapshot id so a rebuild behind the running
    service invalidates cached idf instead of serving stale values.
    Snapshot staleness is detected by one cheap pointer read per query;
    frames reload only when the catalog actually advanced, and every
    table is read as of that one catalog commit.

    Plain ``wand`` queries route by cost.  After the idf lookup (read on
    the driver from the snapshot's dictionary files), a query whose
    terms hold at most operators/topk.py ``LOCAL_POSTINGS_BUDGET``
    postings is scored on the driver (wand_topk_driver: pyarrow reads of
    the snapshot's index and docs files, the same shard scorer, no Spark
    job); a larger one runs wand_topk's Spark plan.  A query with no
    postings (no known term, an AND missing a term) gets its empty page
    on the driver whatever the budget.  A ``run_batch`` workload routes
    the same way inside wand_topk_batch, by its union of terms.  Every
    other mode runs its Spark plan."""

    def __init__(self, spark, cat):
        from ir_index_construction_spark.plans.query import TermStatsCache

        self.spark = spark
        self.cat = cat
        self._catalog_id = object()      # != any real id -> first refresh
        self._tsc = TermStatsCache()
        self._psc = TermStatsCache()     # phrase df_p cache (same contract)
        self._esc = TermStatsCache()     # prefix/fuzzy expansion cache
        self._cfc = TermStatsCache()     # LM collection-frequency cache
        self._f: dict = {}

    def _refresh(self):
        from ir_index_construction_spark.operators.topk import DriverIndex

        cur = self.cat._catalog_current()
        cid = cur["catalog_id"] if cur else None
        if cid != self._catalog_id:
            self._catalog_id = cid
            # every table as of the commit `cur` names: a commit landing
            # during the reload cannot tear the snapshot
            snaps = self.cat.snapshots(cur)
            stats = self.cat.read_rows("stats",
                                       snapshot=snaps.get("stats"))[0]
            self._f = {
                "n_docs": stats["n_docs"],
                "avgdl": float(stats["avgdl"]),
                "docs": self.cat.read(self.spark, "docs", snaps.get("docs")),
                "dictionary": self.cat.read(self.spark, "dictionary",
                                            snaps.get("dictionary")),
            }
            # rdictionary: the rterm-sorted reversed projection written
            # by build/reindex/segment commits — leading wildcards prune
            # its scan instead of endswith-scanning the full vocabulary.
            # doc_meta: the crawl-metadata sidecar (warc_ts/lang/source)
            # the filtered/facet/recency modes serve from — the catalog
            # is self-sufficient, no caller-supplied dims frame.
            for t in ("index", "postings", "positions", "rdictionary",
                      "doc_meta"):
                if t in snaps:
                    self._f[t] = self.cat.read(self.spark, t, snaps[t])
            # doc_meta coverage is checked by the first metadata query
            # of this snapshot (see run): only those queries lose docs
            # without metadata, and the check costs four Spark jobs
            self._f["meta_checked"] = False
            # the driver route's view of the same snapshot: its live
            # files, opened as pyarrow datasets once per snapshot
            local = ("index", "dictionary", "docs")
            self._f["files"] = {t: self.cat.files(t, snaps[t])
                                for t in local if t in snaps}
            self._f["local"] = None
            if all(self._f["files"].get(t) for t in local):
                self._f["local"] = DriverIndex(self._f["files"])
            # tombstoned doc_ids (plans/maintenance.py): bounded by
            # takedown volume, loaded once per snapshot, applied to
            # every query until a purge commits a new snapshot
            # per-segment block-max bound inflation: a segment encoded
            # at a lower avgdl than today's needs its bounds scaled by
            # avgdl_now/built_avgdl to stay valid upper bounds (see
            # make_scorer bound_scale)
            self._f["bound_scale"] = None
            if "index_segments" in snaps:
                bs = [(r["min_shard"], r["max_shard"],
                       max(1.0, self._f["avgdl"] / r["built_avgdl"]))
                      for r in self.cat.read_rows(
                          "index_segments", snapshot=snaps["index_segments"])
                      if r["built_avgdl"] > 0]
                self._f["bound_scale"] = bs or None
            self._f["exclude_ids"] = None
            if "doc_tombstones" in snaps:
                ids = frozenset(
                    r["doc_id"] for r in self.cat.read_rows(
                        "doc_tombstones", ["doc_id"],
                        snapshot=snaps["doc_tombstones"]))
                self._f["exclude_ids"] = ids or None
        return self._f, self._tsc.for_snapshot(cid)

    def run(self, query: str, k: int, mode: str, weighted: bool,
            zone: str | None = None, after: tuple | None = None,
            collapse: int = 0, synonyms: dict | None = None,
            min_match: int | None = None, scorer: str = "bm25",
            rescore: int | None = None, rescore_weight: float = 2.0,
            meta_filter: dict | None = None,
            date_facet: str | None = None,
            recency: float | None = None,
            recency_origin: str = "2025-01-01"):
        from pyspark.sql import functions as F

        from ir_index_construction_spark.operators import topk
        from ir_index_construction_spark.operators.topk import (
            wand_topk, wand_topk_driver)
        from ir_index_construction_spark.plans.query import (
            bm25_topk_exhaustive, collapse_by_domain, doc_id_frame,
            fuzzy_topk, more_like_this, phrase_topk_indexed, prefix_topk)

        f, idf_cache = self._refresh()
        # metadata query family (--filter / --facet-date / --recency):
        # served from the catalog's own doc_meta sidecar (warc_ts/lang/
        # source, written with docs at build + streaming, purged with
        # them) — no caller-supplied dims frame
        if meta_filter or date_facet or recency is not None:
            if "doc_meta" not in f:
                raise SystemExit(
                    "metadata queries need the doc_meta table: rebuild the "
                    "catalog (or drain one micro-batch) with a builder that "
                    "writes the crawl-metadata sidecar")
            if not f["meta_checked"]:
                f["meta_checked"] = True
                warn = doc_meta_coverage_warning(f["doc_meta"], f["docs"],
                                                 f["n_docs"])
                if warn:
                    print(warn, file=sys.stderr)
        doc_filter = None
        if meta_filter:
            m = f["doc_meta"]
            for key, val in meta_filter.items():
                if key == "lang":
                    m = m.filter(F.col("lang") == val)
                elif key == "source":
                    m = m.filter(F.col("source") == val)
                elif key == "since":
                    m = m.filter(
                        F.col("warc_ts") >= F.lit(val).cast("timestamp"))
                elif key == "until":
                    m = m.filter(
                        F.col("warc_ts") < F.lit(val).cast("timestamp"))
                else:
                    raise SystemExit(
                        f"unknown --filter key {key!r} "
                        "(lang / source / since / until)")
            doc_filter = m.select("doc_id")
        if date_facet is not None or recency is not None:
            from ir_index_construction_spark.plans.query import (
                _scored_candidates, empty_topk, facet_date_histogram,
                recency_boosted_topk)

            scored = _scored_candidates(
                f["postings"], f["dictionary"], query, f["n_docs"],
                f["avgdl"], weighted=weighted, idf_cache=idf_cache,
                exclude_ids=f["exclude_ids"], doc_filter=doc_filter)
            if date_facet is not None:
                spark = self.spark
                if scored is None:
                    return spark.createDataFrame(
                        [], "bucket string, n_docs long, "
                            "avg_score double, top_score double")
                return facet_date_histogram(scored, f["doc_meta"],
                                            granularity=date_facet)
            if scored is None:
                return empty_topk(self.spark)
            return recency_boosted_topk(
                scored, f["doc_meta"], f["docs"], k=k,
                origin=recency_origin, half_life_days=recency)
        if doc_filter is not None and mode not in ("wand", "exhaustive"):
            raise SystemExit(
                "--filter applies to term queries (wand/exhaustive "
                "modes) — it routes through the exhaustive plan's "
                "doc_filter semi-join")
        # --scorer lm = LM-Dirichlet query likelihood instead of BM25
        # (plans/rank.lm_dirichlet_topk) on plain term queries.  T (total
        # collection tokens) is one dictionary agg, computed lazily and
        # held per snapshot like every other corpus stat; per-term cf is
        # snapshot-cached like idf.
        if scorer == "lm":
            from pyspark.sql import functions as F

            from ir_index_construction_spark.plans.rank import (
                lm_dirichlet_topk)

            if self._f.get("total_tokens") is None:
                self._f["total_tokens"] = float(
                    f["dictionary"].agg(F.sum("cf")).collect()[0][0] or 0.0)
            return lm_dirichlet_topk(
                f["postings"], f["dictionary"], f["docs"], query,
                f["n_docs"], self._f["total_tokens"], k=k,
                cf_cache=self._cfc.for_snapshot(self._catalog_id),
                exclude_ids=f["exclude_ids"])
        # --rescore N = two-phase retrieval (Elasticsearch rescore):
        # BM25 OR first pass cut at N candidates, phrase-adjacency boost
        # recomputed only for that bounded window (plans/rank.rescore_topk)
        if rescore:
            if "positions" not in self._f:
                raise SystemExit(
                    "--rescore needs a positional index: rebuild the "
                    "catalog with BuildConfig(positions=True)")
            from ir_index_construction_spark.plans.rank import rescore_topk

            return rescore_topk(
                f["positions"], f["postings"], f["dictionary"], f["docs"],
                query, f["n_docs"], f["avgdl"], first_n=rescore, k=k,
                weight=rescore_weight, idf_cache=idf_cache,
                exclude_ids=f["exclude_ids"])
        # --collapse [CAP] = at most CAP results per url host (CAP=1
        # is strict "one result per site" collapsing, CAP>1 the
        # diversified SERP rule); runs over the FULL scored candidate
        # set on the exhaustive plan — a pre-cut page could under-fill
        if collapse:
            return collapse_by_domain(
                f["postings"], f["dictionary"], f["docs"], query,
                f["n_docs"], f["avgdl"], k=k, weighted=weighted,
                idf_cache=idf_cache, exclude_ids=f["exclude_ids"],
                per_domain=int(collapse))
        # --zone TAG = fielded search: only matches whose zone
        # importance reaches the tag's weight qualify (in:title etc.).
        # Routes through the exhaustive plan — the compressed index's
        # block-max bounds are not zone-conditional, so WAND pruning
        # cannot stay exact under an imp filter.
        if zone is not None:
            from ir_index_construction_spark.text.extract import (
                IMPORTANT_TAGS)

            return bm25_topk_exhaustive(
                f["postings"], f["dictionary"], f["docs"], query,
                f["n_docs"], f["avgdl"], k=k, weighted=weighted,
                idf_cache=idf_cache, exclude_ids=f["exclude_ids"],
                min_imp=IMPORTANT_TAGS[zone])
        # a fully-quoted query is an exact-phrase search (requires a
        # positional build — BuildConfig.positions); tombstones apply
        # exactly as in the other modes
        quoted = len(query) >= 2 and query[0] == query[-1] == '"' \
            and '"' not in query[1:-1]
        if mode == "phrase" or quoted:
            if "positions" not in self._f:
                raise SystemExit(
                    "phrase queries need a positional index: rebuild the "
                    "catalog with BuildConfig(positions=True)")
            return phrase_topk_indexed(
                f["positions"], f["docs"], query.strip('"'),
                f["n_docs"], f["avgdl"], k=k,
                exclude_ids=f["exclude_ids"],
                df_cache=self._psc.for_snapshot(self._catalog_id))
        # a PARTIALLY quoted query is the mixed query language:
        # '"machine learning" tutorial' — phrase clauses + loose terms,
        # every clause an OR-mode BM25 addend (plans/query.mixed_topk)
        if '"' in query and mode in ("wand", "exhaustive"):
            if "positions" not in self._f:
                raise SystemExit(
                    "mixed phrase+term queries need a positional index: "
                    "rebuild the catalog with BuildConfig(positions=True)")
            from ir_index_construction_spark.plans.query import mixed_topk

            return mixed_topk(
                f["positions"], f["postings"], f["dictionary"], f["docs"],
                query, f["n_docs"], f["avgdl"], k=k, idf_cache=idf_cache,
                df_cache=self._psc.for_snapshot(self._catalog_id),
                exclude_ids=f["exclude_ids"])
        # a single trailing-* token is a prefix (wildcard) query: the
        # prefix expands against the (stemmed) dictionary and runs as
        # OR-mode WAND — same tombstone/segment handling as plain WAND
        if mode == "prefix" or (query.endswith("*") and " " not in query):
            return prefix_topk(f["index"], f["dictionary"], f["docs"],
                               query, f["n_docs"], f["avgdl"], k=k,
                               weighted=weighted, idf_cache=idf_cache,
                               exclude_ids=f["exclude_ids"],
                               bound_scale=f["bound_scale"],
                               expansion_cache=self._esc.for_snapshot(
                                   self._catalog_id))
        # a single trailing-~ token is a fuzzy query (Lucene FuzzyQuery):
        # the term expands against the (stemmed) dictionary within one
        # Levenshtein edit and runs as OR-mode WAND
        if mode == "fuzzy" or (query.endswith("~") and " " not in query):
            return fuzzy_topk(f["index"], f["dictionary"], f["docs"],
                              query, f["n_docs"], f["avgdl"], k=k,
                              weighted=weighted, idf_cache=idf_cache,
                              exclude_ids=f["exclude_ids"],
                              bound_scale=f["bound_scale"],
                              expansion_cache=self._esc.for_snapshot(
                                  self._catalog_id))
        # a /slash-wrapped/ query is a regex query (Lucene RegexpQuery,
        # Kibana's /pattern/ box): the pattern expands against the
        # (stemmed) dictionary — the literal-prefix pushdown prunes the
        # term-sorted scan — and runs as OR-mode WAND
        slashed = len(query) >= 2 and query[0] == query[-1] == "/" \
            and " " not in query
        # a single token carrying '*' or '?' beyond the trailing-* shape
        # (which the prefix plan above already took) is a wildcard query
        # (Lucene WildcardQuery): leading '*er', infix 'm?chine' —
        # shape-aware dictionary expansion, then OR-mode WAND.  A
        # /slash-wrapped/ token is NOT a wildcard even when the regex
        # body contains '*' — the regex route below owns that syntax.
        wild = query and " " not in query and not slashed \
            and any(c in query for c in "*?")
        if mode == "wildcard" or (wild and mode not in ("regex",)):
            from ir_index_construction_spark.plans.rank import wildcard_topk

            return wildcard_topk(f["index"], f["dictionary"], f["docs"],
                                 query, f["n_docs"], f["avgdl"], k=k,
                                 weighted=weighted, idf_cache=idf_cache,
                                 exclude_ids=f["exclude_ids"],
                                 bound_scale=f["bound_scale"],
                                 expansion_cache=self._esc.for_snapshot(
                                     self._catalog_id),
                                 rdictionary=f.get("rdictionary"))
        if mode == "regex" or slashed:
            from ir_index_construction_spark.plans.query import regex_topk

            return regex_topk(f["index"], f["dictionary"], f["docs"],
                              query.strip("/"), f["n_docs"], f["avgdl"],
                              k=k, weighted=weighted, idf_cache=idf_cache,
                              exclude_ids=f["exclude_ids"],
                              bound_scale=f["bound_scale"],
                              expansion_cache=self._esc.for_snapshot(
                                  self._catalog_id))
        # significant: the query runs as WAND top-100 and the result
        # page becomes the FOREGROUND doc set; output is its significant
        # terms (Elasticsearch significant_terms, JLH heuristic) —
        # "what is this result set about".  The page's doc_ids are a
        # <=100-row driver-side scalar list by construction.
        if mode == "significant":
            from ir_index_construction_spark.operators.cooccur import (
                significant_terms)

            page = wand_topk(f["index"], f["dictionary"], f["docs"],
                             query, f["n_docs"], f["avgdl"], k=100,
                             idf_cache=idf_cache,
                             exclude_ids=f["exclude_ids"],
                             bound_scale=f["bound_scale"])
            ids = [r["doc_id"] for r in page.select("doc_id").collect()]
            fg = doc_id_frame(self.spark, ids)
            return significant_terms(f["postings"], f["dictionary"],
                                     f["n_docs"], fg, n_fg=len(ids),
                                     top_n=k)
        # related: the query is a term; list its top PMI co-occurrence
        # partners from the postings relation ("related searches")
        if mode == "related":
            from ir_index_construction_spark.operators.cooccur import (
                related_terms)
            from ir_index_construction_spark.text.normalize import parse_query

            terms, _ = parse_query(query)
            if not terms:
                return related_terms(f["postings"], f["dictionary"],
                                     f["n_docs"], "")   # empty frame
            return related_terms(f["postings"], f["dictionary"],
                                 f["n_docs"], terms[0], top_n=k)
        # mlt: the query is a doc_id; rank the corpus by BM25 similarity
        # to that document's top tf-idf terms, seed masked from results
        if mode == "mlt":
            return more_like_this(
                f["index"], f["postings"], f["dictionary"], f["docs"],
                int(query), f["n_docs"], f["avgdl"], k=k,
                weighted=weighted, idf_cache=idf_cache,
                exclude_ids=f["exclude_ids"], bound_scale=f["bound_scale"])
        # a parenthesized or NOT-bearing query is the nested boolean
        # expression language — "(a OR b) AND NOT c" with precedence
        # NOT > AND > OR (plans/boolquery.py); runs as ONE conditional
        # hash agg on the exhaustive tier, prohibited clauses gate but
        # never score (Lucene MUST_NOT)
        if "(" in query or query.startswith("NOT ") or " NOT " in query:
            from ir_index_construction_spark.plans.boolquery import (
                bool_query_topk)

            return bool_query_topk(f["postings"], f["dictionary"],
                                   f["docs"], query, f["n_docs"],
                                   f["avgdl"], k=k, idf_cache=idf_cache,
                                   exclude_ids=f["exclude_ids"])
        # '-term' negations route to the exhaustive plan: the excluded
        # doc set is data-sized, so it stays a distributed anti-join
        # (see bm25_topk_exhaustive's negated docstring)
        from ir_index_construction_spark.text.normalize import (
            expand_synonyms, parse_query_with_negation)

        terms, is_bool, neg = parse_query_with_negation(query)
        # 'term^2.5' boosts (Lucene clause weights): strip the suffixes
        # off the non-negated words, keep the stemmed-term weight map —
        # it must happen at parse time, before query_normalize turns
        # '^' into a space
        boosts = None
        pre = None
        if "^" in query:
            from ir_index_construction_spark.text.normalize import (
                parse_boosted_query)

            pos_raw = " ".join(w for w in query.split()
                               if not (w.startswith("-") and len(w) > 1))
            terms, is_bool, boosts = parse_boosted_query(pos_raw)
            boosts = boosts or None
            pre = (terms, is_bool)
        # --synonyms: OR-mode expansion in the indexed vocabulary (each
        # member scores with its own idf); originals keep multiplicity
        if synonyms:
            terms = expand_synonyms(terms, synonyms)
            pre = (terms, is_bool)
        if neg:
            return bm25_topk_exhaustive(
                f["postings"], f["dictionary"], f["docs"], query,
                f["n_docs"], f["avgdl"], k=k, weighted=weighted,
                pre_parsed=(terms, is_bool), idf_cache=idf_cache,
                exclude_ids=f["exclude_ids"], negated=neg,
                boosts=boosts, min_match=min_match,
                doc_filter=doc_filter)
        # --min-match routes to the exhaustive plan: which docs qualify
        # depends on their full term-match set, which WAND's pruning
        # bound does not model (see bm25_topk_exhaustive docstring).
        # --filter likewise: the allowed-docs set is data-sized, so it
        # stays a distributed semi-join on the exhaustive plan.
        if mode == "wand" and min_match is None and doc_filter is None:
            kw = dict(k=k, weighted=weighted, idf_cache=idf_cache,
                      pre_parsed=pre, boosts=boosts,
                      exclude_ids=f["exclude_ids"],
                      bound_scale=f["bound_scale"], after=after)
            if f["local"] is not None:
                page = wand_topk_driver(
                    self.spark, f["local"], query, f["n_docs"], f["avgdl"],
                    topk.LOCAL_POSTINGS_BUDGET, **kw)
                if page is not None:
                    return page
            return wand_topk(f["index"], f["dictionary"], f["docs"],
                             query, f["n_docs"], f["avgdl"], **kw)
        return bm25_topk_exhaustive(f["postings"], f["dictionary"],
                                    f["docs"], query, f["n_docs"],
                                    f["avgdl"], k=k, weighted=weighted,
                                    idf_cache=idf_cache, pre_parsed=pre,
                                    exclude_ids=f["exclude_ids"],
                                    after=after, boosts=boosts,
                                    min_match=min_match,
                                    doc_filter=doc_filter)

    def run_batch(self, queries: dict, k: int, mode: str, weighted: bool):
        """Evaluate a query workload {query_id: text} over
        the current snapshot, tombstoned docs excluded as in run().
        Mode "phrase" runs phrase_topk_batch (quotes optional), any
        other mode wand_topk_batch.  Returns (query_id, rank, doc_id,
        url, score) rows; phrase rows also carry ptf."""
        f, idf_cache = self._refresh()
        if mode == "phrase":
            if "positions" not in f:
                raise SystemExit(
                    "phrase queries need a positional index: rebuild the "
                    "catalog with BuildConfig(positions=True)")
            from ir_index_construction_spark.plans.query import (
                phrase_topk_batch)

            return phrase_topk_batch(
                f["positions"], f["docs"],
                {qid: q.strip('"') for qid, q in queries.items()},
                f["n_docs"], f["avgdl"], k=k, exclude_ids=f["exclude_ids"])
        from ir_index_construction_spark.operators.topk import wand_topk_batch

        return wand_topk_batch(f["index"], f["dictionary"], f["docs"],
                               queries, f["n_docs"], f["avgdl"], k=k,
                               weighted=weighted, idf_cache=idf_cache,
                               exclude_ids=f["exclude_ids"])

    def explain(self, query: str, doc_id: int, weighted: bool = False):
        """Per-term BM25 breakdown for one (query, doc) pair — the
        Lucene Explanation analogue (plans/query.explain_score); the
        contributions sum to the doc's ranked score."""
        from ir_index_construction_spark.plans.query import explain_score

        f, idf_cache = self._refresh()
        return explain_score(f["postings"], f["dictionary"], query,
                             doc_id, f["n_docs"], f["avgdl"],
                             weighted=weighted, idf_cache=idf_cache)

    def term_vectors(self, doc_id: int):
        """One document's term vector — (term, tf, sorted 0-based
        positions) over the positional index (plans/rank.term_vector;
        the Elasticsearch _termvectors analogue)."""
        from ir_index_construction_spark.plans.rank import term_vector

        f, _ = self._refresh()
        if "positions" not in f:
            raise SystemExit(
                "--termvectors needs a positional index: rebuild the "
                "catalog with BuildConfig(positions=True)")
        return term_vector(f["positions"], doc_id)

    def suggest(self, query: str) -> str | None:
        """'did you mean' for a zero-hit query: each absent term's
        closest indexed neighbor (plans/query.py suggest_terms).
        Returns the corrected display string, or None when every term
        is already indexed or nothing is in edit radius."""
        from ir_index_construction_spark.plans.query import suggest_terms
        from ir_index_construction_spark.text.normalize import parse_query

        f, _ = self._refresh()
        terms, _ = parse_query(query)
        if not terms:
            return None
        m = suggest_terms(f["dictionary"], terms,
                          cache=self._esc.for_snapshot(self._catalog_id))
        if all(m.get(t) == t for t in terms):
            return None
        fixed = [m.get(t) or t for t in terms]
        return " ".join(fixed) if fixed != terms else None


def print_results(rows):
    if not rows:
        print("  (no results)")
        return
    if "bucket" in rows[0].__fields__:         # date-facet schema
        for r in rows:
            print(f"  {r['bucket']:12} n={r['n_docs']:<7} "
                  f"avg={r['avg_score']:.4f} top={r['top_score']:.4f}")
        return
    if "jlh" in rows[0].__fields__:            # significant-terms schema
        for r in rows:
            print(f"  {r['term']:24} fg={r['n_fg_term']:<6} "
                  f"df={r['df']:<6} jlh={r['jlh']:.4f}")
        return
    if "url" not in rows[0].__fields__:        # related-terms schema
        for r in rows:
            print(f"  {r['term_b']:24} n_both={r['n_both']:<6} "
                  f"pmi={r['pmi']:.4f}")
        return
    for r in rows:
        print(f"{r['rank']:3}  {r['score']:10.4f}  {r['url']}")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--catalog", required=True)
    ap.add_argument("--query", default=None,
                    help="one-shot query; omit for the interactive REPL")
    ap.add_argument("-k", type=int, default=10)
    ap.add_argument("--mode",
                    choices=["wand", "exhaustive", "phrase", "prefix",
                             "fuzzy", "regex", "wildcard", "significant",
                             "mlt", "related"],
                    default="wand",
                    help="phrase = exact-phrase top-k over the positional "
                         "index (a \"double-quoted\" query selects it "
                         "automatically); prefix = wildcard expansion "
                         "against the dictionary (a single trailing-* "
                         "token selects it automatically); fuzzy = "
                         "Levenshtein<=1 expansion (trailing ~); regex = "
                         "whole-term regex expansion (a /slash-wrapped/ "
                         "query selects it automatically); significant = "
                         "JLH significant terms of the query's top-100 "
                         "result page; mlt = "
                         "more-like-this, --query is a seed doc_id")
    ap.add_argument("--weighted", action="store_true",
                    help="rank by BM25 x tag-importance (imp/10)")
    ap.add_argument("--zone", default=None,
                    choices=["title", "h1", "h2", "h3", "strong", "b"],
                    help="fielded search: only matches whose zone "
                         "importance reaches this tag's weight qualify "
                         "(in:title etc.); runs on the exhaustive plan")
    ap.add_argument("--synonyms", default=None, metavar="FILE",
                    help="JSON {term: [synonym, ...]} in the indexed "
                         "vocabulary; query terms expand OR-mode, each "
                         "member scoring with its own idf")
    ap.add_argument("--min-match", default=None, type=int, metavar="M",
                    dest="min_match",
                    help="minimum_should_match: OR-mode queries keep only "
                         "docs matching at least M distinct query terms "
                         "(runs on the exhaustive plan)")
    def _collapse_cap(v):
        # a degenerate CAP must error, not silently disable (0) or
        # return an empty page (negative) — ADVICE r4
        iv = int(v)
        if iv < 1:
            raise argparse.ArgumentTypeError(
                f"--collapse CAP must be >= 1 (got {iv})")
        return iv

    ap.add_argument("--collapse", nargs="?", const=1, default=0,
                    type=_collapse_cap, metavar="CAP",
                    help="field collapsing: at most CAP results per url "
                         "host, default 1 = one per site (runs on the "
                         "exhaustive plan)")
    ap.add_argument("--explain", default=None, type=int, metavar="DOC_ID",
                    help="print the per-term BM25 score breakdown for "
                         "this doc under --query instead of searching")
    ap.add_argument("--scorer", choices=["bm25", "lm"], default="bm25",
                    help="ranking function for plain term queries: bm25 "
                         "(default) or lm = LM-Dirichlet query "
                         "likelihood (mu=2000, Lucene "
                         "LMDirichletSimilarity semantics)")
    ap.add_argument("--rescore", default=None, type=int, metavar="N",
                    help="two-phase retrieval: BM25 first pass cut at N "
                         "candidates, then a phrase-adjacency boost "
                         "recomputed only on that window (needs a "
                         "positional index)")
    ap.add_argument("--rescore-weight", default=2.0, type=float,
                    dest="rescore_weight", metavar="W",
                    help="rescore boost weight: score + W*ln(1+ptf)")
    ap.add_argument("--termvectors", default=None, type=int,
                    metavar="DOC_ID",
                    help="print DOC_ID's term vector (term, tf, sorted "
                         "0-based positions) instead of searching")
    ap.add_argument("--after", default=None, metavar="SCORE:DOC_ID",
                    help="search-after pagination cursor — the score and "
                         "doc_id of the last row of the previous page "
                         "(stateless deep paging; wand/exhaustive modes)")
    ap.add_argument("--batch", default=None, metavar="FILE",
                    help="file with one query per line, all evaluated as "
                         "one workload (wand_topk_batch: scored on the "
                         "driver when the union of its terms fits the "
                         "driver-route budget, else one Spark plan)")
    ap.add_argument("--filter", action="append", default=None,
                    metavar="KEY=VALUE", dest="meta_filter",
                    help="metadata-filtered search over the catalog's "
                         "doc_meta sidecar: lang=en, source=HOST, "
                         "since=ISO_TS, until=ISO_TS (repeatable; ANDed; "
                         "routes through the exhaustive plan's "
                         "doc_filter semi-join)")
    ap.add_argument("--facet-date", nargs="?", const="month",
                    default=None, dest="date_facet",
                    choices=["year", "month", "week", "day"],
                    help="date-histogram facet of the query's FULL match "
                         "set over doc_meta.warc_ts (Elasticsearch "
                         "date_histogram); optional granularity, "
                         "default month")
    ap.add_argument("--recency", nargs="?", const=90.0, default=None,
                    type=_half_life, metavar="HALF_LIFE_DAYS",
                    help="recency-decayed ranking: BM25 x "
                         "0.5^(age/half_life) over doc_meta.warc_ts "
                         "(Elasticsearch function_score date decay); "
                         "default half-life 90 days")
    ap.add_argument("--recency-origin", default="2025-01-01",
                    dest="recency_origin", metavar="DATE",
                    help="decay origin date for --recency (age counts "
                         "back from this day)")
    args = ap.parse_args()
    meta_filter = None
    if args.meta_filter:
        meta_filter = {}
        for kv in args.meta_filter:
            key, sep, val = kv.partition("=")
            if not sep or not val:
                raise SystemExit(f"--filter expects KEY=VALUE, got {kv!r}")
            meta_filter[key] = val

    from pyspark.sql import SparkSession, functions as F

    from ir_index_construction_spark.sources.catalog import Catalog

    spark = (SparkSession.builder.appName("ir-query")
             .config("spark.sql.execution.arrow.pyspark.enabled", "true")
             .getOrCreate())
    service = QueryService(spark, Catalog(args.catalog))

    if args.batch is not None:
        lines = [l.strip() for l in Path(args.batch).read_text().splitlines()]
        queries = {f"q{i:04d}": q for i, q in enumerate(lines) if q}
        t0 = time.time()
        rows = service.run_batch(queries, args.k, args.mode, args.weighted) \
            .orderBy("query_id", "rank").collect()
        elapsed = time.time() - t0
        by_qid: dict = {}
        for r in rows:
            by_qid.setdefault(r["query_id"], []).append(r)
        for qid in sorted(queries):
            print(f"== {queries[qid]}")
            print_results(by_qid.get(qid, []))
        print(f"[{len(queries)} queries in {elapsed * 1000.0:.1f} ms — "
              f"{elapsed * 1000.0 / max(1, len(queries)):.1f} ms/query]")
        return

    order_col = "pmi" if args.mode == "related" else (
        "bucket" if args.date_facet else "rank")
    order = (F.col(order_col).desc() if order_col == "pmi"
             else F.col(order_col).asc())

    def maybe_suggest(query, rows):
        """searcher-page behavior: a zero-hit term query offers the
        closest indexed spelling (display-only, stemmed vocabulary)."""
        if rows or args.mode not in ("wand", "exhaustive"):
            return
        fix = service.suggest(query)
        if fix:
            print(f"  did you mean: {fix} ?")

    if args.termvectors is not None:
        rows = service.term_vectors(args.termvectors) \
            .orderBy("term").collect()
        if not rows:
            print("  (doc has no indexed terms)")
            return
        for r in rows:
            print(f"  {r['term']:24} tf={r['tf']:<5} "
                  f"pos={list(r['positions'])}")
        return

    if args.explain is not None:
        if args.query is None:
            raise SystemExit("--explain needs --query")
        rows = service.explain(args.query, args.explain,
                               weighted=args.weighted) \
            .orderBy(F.col("contribution").desc()).collect()
        if not rows:
            print("  (doc matches no query term)")
            return
        total = math.fsum(r["contribution"] for r in rows)
        for r in rows:
            print(f"  {r['term']:24} tf={r['tf']:<5} dl={r['dl']:<6} "
                  f"df={r['df']:<8} idf={r['idf']:.4f} w={r['w']:.4f} "
                  f"-> {r['contribution']:.4f}")
        print(f"  {'total':24} {total:.4f}")
        return

    after = None
    if args.after is not None:
        if args.mode not in ("wand", "exhaustive"):
            raise SystemExit("--after applies to wand/exhaustive modes")
        cs, _, cd = args.after.partition(":")
        after = (float(cs), int(cd))

    synonyms = None
    if args.synonyms is not None:
        import json
        synonyms = {k: list(v) for k, v in
                    json.loads(Path(args.synonyms).read_text()).items()}

    kw = dict(zone=args.zone, after=after, collapse=args.collapse,
              synonyms=synonyms, min_match=args.min_match,
              scorer=args.scorer, rescore=args.rescore,
              rescore_weight=args.rescore_weight, meta_filter=meta_filter,
              date_facet=args.date_facet, recency=args.recency,
              recency_origin=args.recency_origin)
    if args.query is not None:
        rows = service.run(args.query, args.k, args.mode, args.weighted,
                           **kw).orderBy(order).collect()
        print_results(rows)
        maybe_suggest(args.query, rows)
        return

    # REPL (searcher.py:202-219): empty line exits, elapsed ms printed.
    # The service holds the frames and the snapshot-bound idf cache:
    # a steady-state query is ONE Spark job (score + rank).
    while True:
        try:
            query = input("query> ").strip()
        except EOFError:
            break
        if not query:
            break
        t0 = time.time()
        rows = service.run(query, args.k, args.mode, args.weighted,
                           **kw).orderBy(order).collect()
        elapsed_ms = (time.time() - t0) * 1000.0
        print_results(rows)
        maybe_suggest(query, rows)
        print(f"[{elapsed_ms:.1f} ms]")


if __name__ == "__main__":
    main()

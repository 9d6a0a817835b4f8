"""Compressed index + block-max WAND: round-trip, salting, rank identity,
and real pruning (SURVEY.md §5.2 item 4, §7.1 steps 4-5)."""

import math

import numpy as np
import pytest
from pyspark.sql import functions as F

from ir_index_construction_spark.config import BM25Config, small_scale
from ir_index_construction_spark.functions.codec import decode_chunk
from ir_index_construction_spark.operators.compress import build_compressed_index
from ir_index_construction_spark.operators.topk import (
    make_batch_shard_scorer, make_scorer, make_shard_scorer, wand_topk)
from tests.conftest import QUERY_SET
from tests.oracle import search as oracle_search

CFG = small_scale()


@pytest.fixture(scope="session")
def index_df(built):
    idx = build_compressed_index(
        built.postings, built.avgdl, BM25Config(), CFG.index
    ).persist()
    idx.count()
    yield idx
    idx.unpersist()


def test_index_roundtrip_equals_postings(built, index_df):
    """decode(encode(postings)) == postings, with global doc_id order per
    term and correct shard assignment."""
    want = {}
    for r in built.postings.collect():
        want[(r["term"], r["doc_id"])] = (r["tf"], r["dl"])

    got = {}
    rows = index_df.collect()
    by_term_shard = {}
    for r in rows:
        by_term_shard.setdefault((r["shard"], r["term"]), []).append(r)
    for (shard, term), chunks in by_term_shard.items():
        chunks.sort(key=lambda r: r["chunk"])
        assert [c["chunk"] for c in chunks] == list(range(len(chunks)))
        prev_last = -1
        for c in chunks:
            d, t, l, i = decode_chunk(c["payload"], c["block_last_doc"])
            assert c["n_postings"] == len(d)
            assert c["first_doc"] == d[0] and c["last_doc"] == d[-1]
            assert (np.diff(d) > 0).all(), "doc_ids strictly increasing"
            assert d[0] > prev_last, "chunks are doc-ordered"
            prev_last = int(d[-1])
            assert (d // CFG.index.shard_size == shard).all()
            for dd, tt, ll in zip(d, t, l):
                got[(term, int(dd))] = (int(tt), int(ll))
    assert got == want


def test_salting_spreads_head_term(built, index_df, spark):
    """The planted head term must arrive at phase 2 as multiple salted
    runs (the explicit skew-handling contract, SURVEY.md §4.3)."""
    from ir_index_construction_spark.operators.compress import _pack_runs, _with_keys

    keyed = _with_keys(built.postings, CFG.index)
    runs = keyed.groupBy("shard", "tb", "salt").applyInPandas(
        _pack_runs, schema="shard int, term string, salt int, n int, "
                           "doc_ids binary, tfs binary, dls binary, imps binary"
    )
    head = runs.filter(F.col("term") == "commoncrawl")
    per_shard = head.groupBy("shard").agg(F.countDistinct("salt").alias("s")).collect()
    assert per_shard, "head term present"
    assert max(r["s"] for r in per_shard) == CFG.index.salt_buckets


@pytest.mark.parametrize("query", QUERY_SET)
def test_wand_rank_identity(built, index_df, oracle_index, query):
    expected = oracle_search(oracle_index, query, k=10)
    got = wand_topk(
        index_df, built.dictionary, built.docs, query,
        built.n_docs, built.avgdl, k=10,
    ).orderBy("rank").collect()
    assert [(r["rank"], r["doc_id"], r["url"]) for r in got] == [
        (rank, d, u) for rank, d, u, _ in expected
    ]
    for r, (_, _, _, score) in zip(got, expected):
        assert math.isclose(r["score"], score, rel_tol=1e-9, abs_tol=1e-12)


def test_wand_scores_bit_identical_to_oracle(built, index_df, oracle_index):
    """The scorer accumulates per distinct term in first-occurrence query
    order -> EXACT float equality with the oracle (not just isclose),
    including for duplicate-term queries."""
    for q in ("master of software engineering", "learning machine learning"):
        got = wand_topk(index_df, built.dictionary, built.docs, q,
                        built.n_docs, built.avgdl, k=10).collect()
        expected = oracle_search(oracle_index, q, k=10)
        assert [r["score"] for r in sorted(got, key=lambda r: r["rank"])] == [
            s for _, _, _, s in expected
        ], q


@pytest.mark.parametrize("query", QUERY_SET)
def test_wand_rank_identity_weighted(built, index_df, oracle_index, query):
    """Importance-weighted BM25 (imp/10 multiplier) over the compressed
    index: rank identity + bit-identical scores vs the weighted oracle —
    the reference's tag-importance ranking capability (searcher.py:
    123-143) on the engine's scale path."""
    expected = oracle_search(oracle_index, query, k=10, weighted=True)
    got = wand_topk(
        index_df, built.dictionary, built.docs, query,
        built.n_docs, built.avgdl, k=10, weighted=True,
    ).orderBy("rank").collect()
    assert [(r["rank"], r["doc_id"], r["url"]) for r in got] == [
        (rank, d, u) for rank, d, u, _ in expected
    ]
    assert [r["score"] for r in got] == [s for _, _, _, s in expected]


def test_weighted_ranking_actually_differs(built, index_df, oracle_index):
    """Guard against imp being dead weight again (VERDICT r1): over the
    fixture query set, at least one query must rank differently under
    tag-importance weighting, and the engine must reproduce both orders."""
    differs = []
    for q in QUERY_SET:
        plain = [d for _, d, _, _ in oracle_search(oracle_index, q, k=10)]
        wtd = [d for _, d, _, _ in
               oracle_search(oracle_index, q, k=10, weighted=True)]
        if plain != wtd:
            differs.append(q)
    assert differs, "no fixture query separates weighted from plain BM25"
    q = differs[0]
    got = wand_topk(index_df, built.dictionary, built.docs, q,
                    built.n_docs, built.avgdl, k=10,
                    weighted=True).orderBy("rank").collect()
    wtd = [d for _, d, _, _ in oracle_search(oracle_index, q, k=10,
                                             weighted=True)]
    assert [r["doc_id"] for r in got] == wtd


def _index_rows_for(term, doc_ids, tfs, dls, avgdl, block_size=16,
                    chunk_blocks=4):
    import pandas as pd
    from ir_index_construction_spark.functions.codec import encode_chunks

    imps = np.full(len(doc_ids), 10, np.int64)
    rows = []
    for c in encode_chunks(np.asarray(doc_ids), np.asarray(tfs),
                           np.asarray(dls), imps, avgdl=avgdl,
                           k1=1.2, b=0.75, block_size=block_size,
                           chunk_blocks=chunk_blocks):
        rows.append({
            "shard": 0, "term": term, "chunk": c["chunk"],
            "df_shard": len(doc_ids), "n_postings": c["n_postings"],
            "first_doc": c["first_doc"], "last_doc": c["last_doc"],
            "payload": c["payload"], "block_last_doc": c["block_last_doc"],
            "block_max_score": c["block_max_score"],
            "block_max_wscore": c["block_max_wscore"],
        })
    return pd.DataFrame(rows)


def test_pruning_skips_blocks():
    """Direct unit test of block-max pruning: one spike posting dominates,
    k=1 -> every block whose combined upper bound is below the spike's
    score must never be decoded."""
    import pandas as pd

    n, avgdl = 2048, 100.0
    doc_ids = np.arange(n, dtype=np.int64)
    dls = np.full(n, 100, np.int64)
    tfs_a = np.ones(n, np.int64)
    tfs_a[500] = 200                       # spike
    tfs_b = np.ones(n, np.int64)
    pdf = pd.concat([
        _index_rows_for("alpha", doc_ids, tfs_a, dls, avgdl),
        _index_rows_for("beta", doc_ids, tfs_b, dls, avgdl),
    ])

    stats = {}
    # alpha is the rarer (higher-idf) term -> the seed; its spike sets a
    # theta that the flat regions' combined upper bounds cannot reach
    scorer = make_shard_scorer({"alpha": (1, 1.0), "beta": (1, 0.5)},
                               ["alpha", "beta"], 1, False, avgdl,
                               BM25Config(), stats=stats)
    out = scorer(pdf)
    assert list(out["doc_id"]) == [500]
    # exhaustive check of the winner's score
    w_spike = 200 * 2.2 / (200 + 1.2)
    w_one = 1 * 2.2 / (1 + 1.2)
    assert abs(out["score"].iloc[0] - (w_spike + 0.5 * w_one)) < 1e-12
    # pruning must have skipped the vast majority of blocks
    assert stats["blocks_total"] == 2 * n / 16
    assert stats["blocks_decoded"] < stats["blocks_total"] * 0.1, stats

    # selection rule: one spec prunes, a workload decodes every block,
    # and each spec's rows are bit-identical either way (weighted, with
    # deleted docs)
    specs = [("or", ["alpha", "beta"], {"alpha": (1, 1.0), "beta": (1, 0.5)},
              False, 2),
             ("and", ["beta", "alpha"], {"beta": (2, 0.5), "alpha": (1, 1.0)},
              True, 2)]
    kw = dict(weighted=True, exclude_ids={3, 1000})
    one_stats, two_stats = {}, {}
    alone = make_scorer(specs[:1], 1, avgdl, BM25Config(), stats=one_stats,
                        **kw)(pdf)
    assert one_stats["blocks_decoded"] < 0.1 * one_stats["blocks_total"]
    both = make_scorer(specs, 1, avgdl, BM25Config(), stats=two_stats,
                       **kw)(pdf)
    assert two_stats["blocks_decoded"] == two_stats["blocks_total"] == 2 * n / 16
    alone += make_scorer(specs[1:], 1, avgdl, BM25Config(), **kw)(pdf)
    assert [h[0] for h in both] == [h[0] for h in alone] == ["or", "and"]
    for (_, d2, s2), (_, d1, s1) in zip(both, alone):
        assert d2.tobytes() == d1.tobytes() and s2.tobytes() == s1.tobytes()
    assert list(both[0][1]) == [500]


def test_workload_never_prunes_on_stale_bounds():
    """Block-max bounds encoded at a smaller avgdl (an older index
    segment) sit below the true scores at the current avgdl.  A single
    query prunes, so it needs the segment's bound_scale; a workload
    carries none and must decode in full even when it holds one query."""
    import pandas as pd

    n, built_avgdl, avgdl = 256, 100.0, 1000.0
    doc_ids = np.arange(n, dtype=np.int64)
    dls = np.full(n, 1000, np.int64)
    dls[50] = 100
    tfs_a = np.ones(n, np.int64)
    tfs_a[50] = 200                      # alpha's spike sets theta
    b_ids = doc_ids[doc_ids != 50]
    tfs_b = np.ones(n - 1, np.int64)
    tfs_b[b_ids == 200] = 50             # the winner, under a stale bound
    pdf = pd.concat([
        _index_rows_for("alpha", doc_ids, tfs_a, dls, built_avgdl),
        _index_rows_for("beta", b_ids, tfs_b, dls[b_ids], built_avgdl),
    ])
    meta, terms = {"alpha": (1, 1.0), "beta": (1, 0.9)}, ["alpha", "beta"]
    args = (1, False, avgdl, BM25Config())
    # the fixture bites: unscaled stale bounds cut the winner's block
    assert list(make_shard_scorer(meta, terms, *args)(pdf)["doc_id"]) == [50]
    scaled = make_shard_scorer(meta, terms, *args, bound_scale=[
        (0, 0, avgdl / built_avgdl)])(pdf)
    assert list(scaled["doc_id"]) == [200]
    batch = make_batch_shard_scorer([("q", terms, meta, False, 2)], 1, avgdl,
                                    BM25Config())(pdf)
    assert list(batch["doc_id"]) == [200]
    assert batch["score"].iloc[0] == scaled["score"].iloc[0]


def test_pruned_scorer_matches_unpruned_on_fixture(built, index_df,
                                                   oracle_index):
    """Integration: local scorer with pruning enabled reproduces the
    oracle's global top-k for a multi-term query over the real index."""
    from collections import Counter
    import pandas as pd
    from ir_index_construction_spark.plans.query import query_term_idf
    from ir_index_construction_spark.text.normalize import parse_query

    query = "machine learning commoncrawl"
    terms, _ = parse_query(query)
    idfs = query_term_idf(index_df.sparkSession, built.dictionary, terms,
                          built.n_docs)
    counts = Counter(terms)
    ordered = [t for t in dict.fromkeys(terms) if t in idfs]
    meta = {t: (counts[t], idfs[t][1]) for t in ordered}

    pdf = index_df.filter(F.col("term").isin(ordered)).toPandas()
    scorer = make_shard_scorer(meta, ordered, 10, False, built.avgdl,
                               BM25Config())
    allr = pd.concat([scorer(g) for _, g in pdf.groupby("shard")])
    allr = allr.sort_values(["score", "doc_id"],
                            ascending=[False, True]).head(10)
    expected = oracle_search(oracle_index, query, k=10)
    assert list(allr["doc_id"]) == [d for _, d, _, _ in expected]


def test_batch_matches_single_query_bit_identical(built, index_df):
    """wand_topk_batch over the WHOLE fixture query set (OR, boolean,
    duplicate-term, absent-term, empty queries in one workload) — each
    query's rows must be bit-identical to its single wand_topk() run."""
    from ir_index_construction_spark.operators.topk import wand_topk_batch

    queries = {f"q{i:02d}": q for i, q in enumerate(QUERY_SET)}
    got = wand_topk_batch(index_df, built.dictionary, built.docs, queries,
                          built.n_docs, built.avgdl, k=10).collect()
    by_qid: dict = {}
    for r in got:
        by_qid.setdefault(r["query_id"], []).append(r)
    for qid, q in queries.items():
        single = wand_topk(index_df, built.dictionary, built.docs, q,
                           built.n_docs, built.avgdl, k=10).collect()
        batch = sorted(by_qid.get(qid, []), key=lambda r: r["rank"])
        assert [(r["rank"], r["doc_id"], r["url"], r["score"])
                for r in batch] == [
            (r["rank"], r["doc_id"], r["url"], r["score"])
            for r in sorted(single, key=lambda r: r["rank"])], (qid, q)


def test_batch_20_query_workload_matches_single(built, index_df):
    """A generated 20-query workload (seeded 2-3-term samples of the
    fixture dictionary, passed pre-parsed — the bench's wand_batch100
    shape at test scale): every query's batch rows must equal its
    single wand_topk() run."""
    import random

    from ir_index_construction_spark.operators.topk import wand_topk_batch

    terms = [r["term"] for r in
             built.dictionary.orderBy(F.col("df").desc()).limit(60)
             .select("term").collect()]
    rng = random.Random(11)
    pre = {f"w{i:02d}": (rng.sample(terms, rng.choice([2, 3])), False)
           for i in range(20)}
    got = wand_topk_batch(index_df, built.dictionary, built.docs,
                          {k: " ".join(t) for k, (t, _) in pre.items()},
                          built.n_docs, built.avgdl, k=10,
                          pre_parsed=pre).collect()
    by_qid: dict = {}
    for r in got:
        by_qid.setdefault(r["query_id"], []).append(r)
    for qid, (t, b) in pre.items():
        single = wand_topk(index_df, built.dictionary, built.docs,
                           " ".join(t), built.n_docs, built.avgdl, k=10,
                           pre_parsed=(t, b)).collect()
        batch = sorted(by_qid.get(qid, []), key=lambda r: r["rank"])
        assert [(r["rank"], r["doc_id"], r["score"]) for r in batch] == [
            (r["rank"], r["doc_id"], r["score"])
            for r in sorted(single, key=lambda r: r["rank"])], (qid, t)


def test_batch_weighted_matches_single(built, index_df):
    from ir_index_construction_spark.operators.topk import wand_topk_batch

    queries = {"a": "machine learning", "b": "cristina lopes"}
    got = wand_topk_batch(index_df, built.dictionary, built.docs, queries,
                          built.n_docs, built.avgdl, k=10,
                          weighted=True).collect()
    for qid, q in queries.items():
        single = wand_topk(index_df, built.dictionary, built.docs, q,
                           built.n_docs, built.avgdl, k=10,
                           weighted=True).collect()
        batch = sorted([r for r in got if r["query_id"] == qid],
                       key=lambda r: r["rank"])
        assert [(r["doc_id"], r["score"]) for r in batch] == [
            (r["doc_id"], r["score"])
            for r in sorted(single, key=lambda r: r["rank"])], qid


def test_batch_all_empty_workload(built, index_df, spark):
    from ir_index_construction_spark.operators.topk import wand_topk_batch

    out = wand_topk_batch(index_df, built.dictionary, built.docs,
                          {"x": "zzzymissing", "y": ""},
                          built.n_docs, built.avgdl, k=10)
    assert out.count() == 0
    assert [f.name for f in out.schema.fields] == [
        "query_id", "rank", "doc_id", "url", "score"]


def test_idf_cache_skips_lookup_and_matches(built, index_df, spark):
    """A long-lived query service's idf_cache: same results as uncached,
    absent terms negatively cached, no dictionary job for repeat terms."""
    from ir_index_construction_spark.plans.query import query_term_idf

    terms = ["machine", "learning", "zzzymissing"]
    plain = query_term_idf(spark, built.dictionary, terms, built.n_docs)
    cache: dict = {}
    first = query_term_idf(spark, built.dictionary, terms, built.n_docs,
                           cache=cache)
    assert first == plain
    assert cache["zzzymissing"] is None          # negative-cached
    # poison the dictionary reference: a second call must not touch it
    second = query_term_idf(spark, None, terms, built.n_docs, cache=cache)
    assert second == plain

    q = "machine learning"
    uncached = wand_topk(index_df, built.dictionary, built.docs, q,
                         built.n_docs, built.avgdl, k=10).collect()
    cached = wand_topk(index_df, built.dictionary, built.docs, q,
                       built.n_docs, built.avgdl, k=10,
                       idf_cache=cache).collect()
    key = lambda rows: [(r["rank"], r["doc_id"], r["score"])
                        for r in sorted(rows, key=lambda r: r["rank"])]
    assert key(cached) == key(uncached)


def test_term_stats_cache_bound_to_snapshot(spark):
    """A catalog rebuild must invalidate the term-stats cache (round-2
    VERDICT item 4): same snapshot id -> served from cache (dictionary
    not touched), new snapshot id -> fresh df looked up."""
    from ir_index_construction_spark.plans.query import (
        TermStatsCache, query_term_idf)

    dict1 = spark.createDataFrame([("foo", 3)], "term string, df long")
    dict2 = spark.createDataFrame([("foo", 5)], "term string, df long")
    tsc = TermStatsCache()
    r1 = query_term_idf(spark, dict1, ["foo"], 10,
                        cache=tsc.for_snapshot("snap-1"))
    assert r1["foo"][0] == 3
    # same snapshot: cached (poisoned dictionary must not be touched)
    r2 = query_term_idf(spark, None, ["foo"], 10,
                        cache=tsc.for_snapshot("snap-1"))
    assert r2["foo"][0] == 3
    # catalog advanced: cache emptied, fresh df served
    r3 = query_term_idf(spark, dict2, ["foo"], 10,
                        cache=tsc.for_snapshot("snap-2"))
    assert r3["foo"][0] == 5


def test_query_service_reloads_on_catalog_advance(spark, tmp_path):
    """The submit_query service must pick up a catalog commit made
    behind it: frames and idf both refresh when the pointer advances."""
    import importlib.util
    from pathlib import Path

    from ir_index_construction_spark.sources.catalog import Catalog

    spec = importlib.util.spec_from_file_location(
        "submit_query_mod",
        Path(__file__).resolve().parent.parent / "tools" / "submit_query.py")
    m = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(m)

    cat = Catalog(str(tmp_path / "cat_svc"))
    txn = cat.transaction()
    txn.write(spark.createDataFrame(
        [("foo", 1, 2, 10, 4)],
        "term string, doc_id long, tf int, imp int, dl int"), "postings")
    txn.write(spark.createDataFrame(
        [(1, "u1", 4)], "doc_id long, url string, doc_len int"), "docs")
    txn.write(spark.createDataFrame(
        [("foo", 1, 2)], "term string, df long, cf long"), "dictionary")
    txn.write(spark.createDataFrame(
        [(1, 4.0, 1)], "n_docs long, avgdl double, n_terms long"), "stats")
    txn.commit()

    svc = m.QueryService(spark, cat)
    r1 = svc.run("foo", 10, "exhaustive", False).collect()
    assert len(r1) == 1
    s1 = r1[0]["score"]
    # second run: same snapshot, idf served from the bound cache
    assert svc.run("foo", 10, "exhaustive", False).collect()[0]["score"] == s1

    # commit behind the service: a foo-less doc doubles n_docs -> idf up
    txn = cat.transaction()
    txn.append(spark.createDataFrame(
        [(2, "u2", 4)], "doc_id long, url string, doc_len int"), "docs")
    txn.write(spark.createDataFrame(
        [(2, 4.0, 1)], "n_docs long, avgdl double, n_terms long"), "stats")
    txn.commit()
    r2 = svc.run("foo", 10, "exhaustive", False).collect()
    assert r2[0]["score"] > s1, "stale idf served after catalog advance"


def test_wand_exclude_ids_backfills_and_preserves_scores(built, index_df):
    """Delete-aware querying (plans/maintenance.py tombstones): with the
    top docs excluded, WAND must return the NEXT best docs with
    unchanged scores — equivalent to dropping the excluded ids from a
    deep unexcluded run.  Exercises OR, duplicate-term, and boolean
    queries, so both the pruned (seed-threshold) and AND paths must
    respect the deletion set before per-shard top-k selection."""
    from ir_index_construction_spark.operators.topk import wand_topk_batch

    queries = ["machine learning", "learning machine learning",
               "machine AND learning", "commoncrawl"]
    for q in queries:
        deep = wand_topk(index_df, built.dictionary, built.docs, q,
                         built.n_docs, built.avgdl, k=50) \
            .orderBy("rank").collect()
        if len(deep) < 5:
            continue
        dead = {r["doc_id"] for r in deep[:3]}
        expected = [(r["doc_id"], r["url"], r["score"])
                    for r in deep if r["doc_id"] not in dead][:10]
        got = wand_topk(index_df, built.dictionary, built.docs, q,
                        built.n_docs, built.avgdl, k=10,
                        exclude_ids=dead).orderBy("rank").collect()
        assert [(r["doc_id"], r["url"], r["score"]) for r in got] \
            == expected, q
        assert [r["rank"] for r in got] == list(range(1, len(got) + 1))

        # batch path: same exclusion, bit-identical to the single path
        batch = wand_topk_batch(index_df, built.dictionary, built.docs,
                                {"q": q}, built.n_docs, built.avgdl, k=10,
                                exclude_ids=dead) \
            .orderBy("rank").collect()
        assert [(r["doc_id"], r["score"]) for r in batch] \
            == [(r["doc_id"], r["score"]) for r in got], q


def test_query_service_applies_tombstones(spark, tmp_path):
    """A tombstone commit behind the running service must take effect on
    the next query (snapshot advance reloads the deletion set), and the
    purge that clears tombstones must restore nothing deleted."""
    import importlib.util
    from pathlib import Path

    from ir_index_construction_spark.plans.maintenance import (
        purge_tombstones, tombstone_urls)
    from ir_index_construction_spark.sources.catalog import Catalog

    spec = importlib.util.spec_from_file_location(
        "submit_query_mod2",
        Path(__file__).resolve().parent.parent / "tools" / "submit_query.py")
    m = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(m)

    cat = Catalog(str(tmp_path / "cat_tomb"))
    txn = cat.transaction()
    postings = spark.createDataFrame(
        [("foo", 1, 5, 10, 4), ("foo", 2, 2, 10, 4)],
        "term string, doc_id long, tf int, imp int, dl int")
    txn.write(postings, "postings")
    txn.write(build_compressed_index(postings, 4.0), "index")
    txn.write(spark.createDataFrame(
        [(1, "u1", 4), (2, "u2", 4)],
        "doc_id long, url string, doc_len int"), "docs")
    txn.write(spark.createDataFrame(
        [("foo", 2, 7)], "term string, df long, cf long"), "dictionary")
    txn.write(spark.createDataFrame(
        [(2, 4.0, 1)], "n_docs long, avgdl double, n_terms long"), "stats")
    txn.commit()

    svc = m.QueryService(spark, cat)
    r1 = svc.run("foo", 10, "exhaustive", False).orderBy("rank").collect()
    assert [r["doc_id"] for r in r1] == [1, 2]    # tf 5 beats tf 2

    assert tombstone_urls(spark, cat, ["u1"]) == 1
    r2 = svc.run("foo", 10, "exhaustive", False).orderBy("rank").collect()
    assert [(r["rank"], r["doc_id"]) for r in r2] == [(1, 2)]
    # the survivor's score is unchanged by the deletion (same stats)
    assert r2[0]["score"] == r1[1]["score"]

    # the batch route serves the same deletion set
    b2 = svc.run_batch({"q0": "foo"}, 10, "wand", False).collect()
    assert [(r["query_id"], r["rank"], r["doc_id"]) for r in b2] == [
        ("q0", 1, 2)]
    assert b2[0]["score"] == r1[1]["score"]

    assert purge_tombstones(spark, cat) == 1
    r3 = svc.run("foo", 10, "exhaustive", False).orderBy("rank").collect()
    assert [(r["rank"], r["doc_id"]) for r in r3] == [(1, 2)]
    assert svc._f["exclude_ids"] is None          # set cleared post-purge


def test_prefix_topk_matches_expanded_or_query(built, index_df):
    """prefix_topk = dictionary expansion (df DESC, term ASC cap) run as
    an OR-mode WAND query; must be bit-identical to the exhaustive plan
    over the same pre-parsed expansion, and the cap must bind."""
    from ir_index_construction_spark.plans.query import (
        bm25_topk_exhaustive, expand_prefix, prefix_topk)

    for prefix, cap in (("ma", 50), ("s", 3), ("commoncrawl", 50)):
        terms = expand_prefix(built.dictionary, prefix, cap)
        dfs = {r["term"]: r["df"] for r in built.dictionary.filter(
            F.col("term").startswith(prefix)).collect()}
        want_order = sorted(dfs, key=lambda t: (-dfs[t], t))[:cap]
        assert terms == want_order
        assert len(terms) <= cap and all(t.startswith(prefix) for t in terms)
        got = prefix_topk(index_df, built.dictionary, built.docs, prefix,
                          built.n_docs, built.avgdl, k=10,
                          max_expansions=cap).orderBy("rank").collect()
        # bit-identical to WAND over the same pre-parsed expansion
        # (prefix_topk IS expansion + OR-mode WAND)
        want = wand_topk(index_df, built.dictionary, built.docs, "",
                         built.n_docs, built.avgdl, k=10,
                         pre_parsed=(terms, False)).orderBy("rank").collect()
        assert [(r["rank"], r["doc_id"], r["url"], r["score"])
                for r in got] == \
               [(r["rank"], r["doc_id"], r["url"], r["score"])
                for r in want], prefix
        assert got, prefix                         # non-vacuous
        # cross-plan check vs the exhaustive scorer: same ranking, scores
        # equal to float-accumulation-order tolerance (the two plans sum
        # per-term contributions in different orders — 1 ulp apart)
        ex = bm25_topk_exhaustive(
            built.postings, built.dictionary, built.docs, "",
            built.n_docs, built.avgdl, k=10,
            pre_parsed=(terms, False)).orderBy("rank").collect()
        assert [(r["rank"], r["doc_id"], r["url"]) for r in got] == \
               [(r["rank"], r["doc_id"], r["url"]) for r in ex], prefix
        for g, e in zip(got, ex):
            assert g["score"] == pytest.approx(e["score"], abs=1e-9), prefix


def _lev(a, b):
    """Reference DP Levenshtein (the fuzzy tests' pure-Python twin)."""
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(min(prev[j] + 1, cur[j - 1] + 1,
                           prev[j - 1] + (ca != cb)))
        prev = cur
    return prev[-1]


def test_fuzzy_expansion_matches_pure_python(built):
    """expand_fuzzy = the dictionary terms within max_edits Levenshtein
    edits, prefix_len chars pinned, capped (dist ASC, df DESC, term ASC)
    — recomputed here with a pure-Python DP edit distance."""
    from ir_index_construction_spark.plans.query import expand_fuzzy

    dfs = {r["term"]: r["df"] for r in built.dictionary.collect()}
    for q, max_edits, prefix_len, cap in (
            ("machine", 1, 1, 50),   # stemmed neighbor 'machin' at dist 1
            ("learn", 1, 1, 50),     # exact hit at dist 0
            ("softwar", 2, 0, 5),    # wider radius, no prefix pin, cap binds
            ("zzzzqq", 1, 1, 50)):   # no match
        want = [t for t in dfs
                if _lev(q, t) <= max_edits
                and (prefix_len == 0 or t.startswith(q[:prefix_len]))]
        want.sort(key=lambda t: (_lev(q, t), -dfs[t], t))
        want = want[:cap]
        got = expand_fuzzy(built.dictionary, q, max_edits=max_edits,
                           prefix_len=prefix_len, max_expansions=cap)
        assert got == want, q
    # non-vacuous: the stemmed vocabulary must fuzzy-match 'machine'
    assert "machin" in expand_fuzzy(built.dictionary, "machine")
    # the query surface strips a trailing ~
    assert (expand_fuzzy(built.dictionary, "machine~")
            == expand_fuzzy(built.dictionary, "machine"))


def test_fuzzy_topk_matches_expanded_or_query(built, index_df):
    """fuzzy_topk IS expansion + OR-mode WAND: bit-identical to wand_topk
    over the same pre-parsed expansion, empty when nothing is in radius."""
    from ir_index_construction_spark.plans.query import expand_fuzzy, fuzzy_topk

    terms = expand_fuzzy(built.dictionary, "machine")
    assert terms
    got = fuzzy_topk(index_df, built.dictionary, built.docs, "machine~",
                     built.n_docs, built.avgdl, k=10).orderBy("rank").collect()
    want = wand_topk(index_df, built.dictionary, built.docs, "",
                     built.n_docs, built.avgdl, k=10,
                     pre_parsed=(terms, False)).orderBy("rank").collect()
    assert [(r["rank"], r["doc_id"], r["url"], r["score"]) for r in got] == \
           [(r["rank"], r["doc_id"], r["url"], r["score"]) for r in want]
    assert got
    out = fuzzy_topk(index_df, built.dictionary, built.docs, "zzzzqq",
                     built.n_docs, built.avgdl, k=10)
    assert out.count() == 0


def test_suggest_terms_did_you_mean(built):
    """Present terms map to themselves; a misspelling maps to the most
    popular closest indexed term (the fuzzy ranking's head); nothing in
    radius maps to None — checked against the pure-Python DP twin."""
    from ir_index_construction_spark.plans.query import suggest_terms

    dfs = {r["term"]: r["df"] for r in built.dictionary.collect()}
    got = suggest_terms(built.dictionary,
                        ["learn", "machinx", "zzzzqq", "learn"])
    cands = sorted((t for t in dfs
                    if _lev("machinx", t) <= 1 and t.startswith("m")),
                   key=lambda t: (_lev("machinx", t), -dfs[t], t))
    assert got == {"learn": "learn",
                   "machinx": cands[0],
                   "zzzzqq": None}
    assert got["machinx"] == "machin"
    assert suggest_terms(built.dictionary, []) == {}
    # cache round trip: the batch job seeds expand_fuzzy-compatible
    # entries, and a primed cache is authoritative (no job re-runs)
    cache: dict = {}
    first = suggest_terms(built.dictionary, ["machinx", "zzzzqq"],
                          cache=cache)
    assert cache[("fuzzy", "machinx", 1, 1, 1)] == ["machin"]
    assert cache[("fuzzy", "zzzzqq", 1, 1, 1)] == []
    cache[("fuzzy", "machinx", 1, 1, 1)] = ["sentinel"]
    again = suggest_terms(built.dictionary, ["machinx", "zzzzqq"],
                          cache=cache)
    assert again == {"machinx": "sentinel", "zzzzqq": None} and first


def test_suggest_candidates_empty_batch(built):
    """ADVICE r5: suggest_candidates is a public plan-layer function —
    an empty batch returns an empty (q, term, df, dist) frame with the
    same schema as the non-empty path, not IndexError on cands[0]."""
    from ir_index_construction_spark.plans.query import suggest_candidates

    empty = suggest_candidates(built.dictionary, [])
    assert empty.count() == 0
    nonempty = suggest_candidates(built.dictionary, ["machinx"])
    assert empty.schema == nonempty.schema


def test_more_like_this_excludes_seed_and_matches_manual(built, index_df):
    """mlt_terms = the seed doc's terms ranked tf*idf DESC, term ASC
    (recomputed manually from the postings/dictionary frames); the
    ranking is the expansion run as OR-mode WAND with the seed masked —
    bit-identical to wand_topk(pre_parsed, exclude_ids={seed})."""
    from ir_index_construction_spark.plans.query import mlt_terms, more_like_this

    seed = int(built.docs.agg(F.min("doc_id")).collect()[0][0])
    dfs = {r["term"]: r["df"] for r in built.dictionary.collect()}
    seed_tfs = {r["term"]: r["tf"] for r in built.postings.filter(
        F.col("doc_id") == seed).collect()}
    n = built.n_docs
    want = sorted(
        seed_tfs,
        key=lambda t: (-(seed_tfs[t]
                         * math.log((n - dfs[t] + 0.5) / (dfs[t] + 0.5) + 1)), t)
    )[:10]
    got_terms = mlt_terms(built.postings, built.dictionary, seed, n, 10)
    assert got_terms == want
    got = more_like_this(index_df, built.postings, built.dictionary,
                         built.docs, seed, n, built.avgdl,
                         k=10).orderBy("rank").collect()
    ref = wand_topk(index_df, built.dictionary, built.docs, "", n,
                    built.avgdl, k=10, pre_parsed=(got_terms, False),
                    exclude_ids={seed}).orderBy("rank").collect()
    assert [(r["rank"], r["doc_id"], r["url"], r["score"]) for r in got] == \
           [(r["rank"], r["doc_id"], r["url"], r["score"]) for r in ref]
    assert got and all(r["doc_id"] != seed for r in got)


def test_expansion_cache_skips_job_and_matches(built):
    """prefix/fuzzy expansions are cacheable per immutable snapshot:
    the cached call returns the same list, and a primed cache is
    authoritative (proving the dictionary job is skipped)."""
    from ir_index_construction_spark.plans.query import (
        expand_fuzzy, expand_prefix)

    cache: dict = {}
    cold_p = expand_prefix(built.dictionary, "ma", 50, cache=cache)
    cold_f = expand_fuzzy(built.dictionary, "machine", cache=cache)
    assert expand_prefix(built.dictionary, "ma", 50, cache=cache) == cold_p
    assert expand_fuzzy(built.dictionary, "machine", cache=cache) == cold_f
    # a sentinel in the cache is returned verbatim -> no Spark job ran
    cache[("prefix", "ma", 50)] = ["sentinel"]
    cache[("fuzzy", "machine", 1, 1, 50)] = ["sentinel2"]
    assert expand_prefix(built.dictionary, "ma", 50,
                         cache=cache) == ["sentinel"]
    assert expand_fuzzy(built.dictionary, "machine",
                        cache=cache) == ["sentinel2"]
    # different parameters are different keys, not stale hits
    assert expand_prefix(built.dictionary, "ma", 3, cache=cache) != \
        ["sentinel"]


def test_zone_restricted_search(built):
    """min_imp= gates matches by zone importance: the result equals
    running the plain exhaustive plan over postings pre-filtered to
    imp >= min_imp (dl rides per-row, so pre-filtering is exact), and
    the restriction must actually bite on the fixture (title-zone
    matches are a strict subset)."""
    from ir_index_construction_spark.plans.query import bm25_topk_exhaustive

    q, min_imp, k = "machine learning", 20, 10 ** 6   # k > corpus: no cut
    got = bm25_topk_exhaustive(
        built.postings, built.dictionary, built.docs, q, built.n_docs,
        built.avgdl, k=k, min_imp=min_imp).orderBy("rank").collect()
    want = bm25_topk_exhaustive(
        built.postings.filter(F.col("imp") >= min_imp), built.dictionary,
        built.docs, q, built.n_docs, built.avgdl,
        k=k).orderBy("rank").collect()
    key = lambda rows: [(r["rank"], r["doc_id"], r["url"], r["score"])
                        for r in rows]
    assert key(got) == key(want)
    unrestricted = bm25_topk_exhaustive(
        built.postings, built.dictionary, built.docs, q, built.n_docs,
        built.avgdl, k=k).orderBy("rank").collect()
    assert got and len(got) < len(unrestricted)
    assert {r["doc_id"] for r in got} < {r["doc_id"] for r in unrestricted}
    # boolean mode: every distinct term must qualify IN ZONE
    both = bm25_topk_exhaustive(
        built.postings, built.dictionary, built.docs,
        "machine AND learning", built.n_docs, built.avgdl, k=k,
        min_imp=min_imp).collect()
    assert {r["doc_id"] for r in both} <= {r["doc_id"] for r in got}


def test_facet_by_domain_matches_manual(built, index_df):
    """facet_by_domain over a WAND top-k == counting the same ranked
    rows per url host in plain Python."""
    from urllib.parse import urlsplit

    from ir_index_construction_spark.plans.query import facet_by_domain

    ranked = wand_topk(index_df, built.dictionary, built.docs,
                       "machine learning", built.n_docs, built.avgdl,
                       k=10)
    rows = ranked.collect()
    assert rows
    want: dict = {}
    for r in rows:
        host = urlsplit(r["url"]).netloc
        n, best, top = want.get(host, (0, 10 ** 9, float("-inf")))
        want[host] = (n + 1, min(best, r["rank"]), max(top, r["score"]))
    got = {r["domain"]: (r["n_docs"], r["best_rank"], r["top_score"])
           for r in facet_by_domain(ranked).collect()}
    assert got == want
    assert sum(n for n, _, _ in got.values()) == len(rows)


def test_prefix_topk_no_match_empty(built, index_df, spark):
    from ir_index_construction_spark.plans.query import prefix_topk

    out = prefix_topk(index_df, built.dictionary, built.docs, "zzzzqq",
                      built.n_docs, built.avgdl, k=10)
    assert out.count() == 0


def test_parse_query_with_negation():
    from ir_index_construction_spark.text.normalize import (
        parse_query, parse_query_with_negation)

    terms, is_bool, neg = parse_query_with_negation(
        "machine learning -running")
    assert (terms, is_bool) == parse_query("machine learning")
    assert neg == parse_query("running")[0]
    terms, is_bool, neg = parse_query_with_negation(
        "software AND engineering -master -2024")
    assert is_bool and neg == ["master", "2024"]
    # negation-only query scores nothing
    terms, is_bool, neg = parse_query_with_negation("-only")
    assert terms == [] and neg
    # a bare '-' is not a negation
    assert parse_query_with_negation("a - b")[2] == []


def test_exhaustive_negation_excludes_and_backfills(built):
    """negated= drops every doc containing the NOT-term BEFORE top-k
    selection: the result equals the unnegated ranking at large k with
    those docs removed, re-ranked — scores unchanged (corpus stats are
    not recomputed, same contract as tombstone masking)."""
    from ir_index_construction_spark.plans.query import bm25_topk_exhaustive

    from ir_index_construction_spark.text.porter import stem

    q, neg = "machine learning", stem("software")
    wide = bm25_topk_exhaustive(
        built.postings, built.dictionary, built.docs, q,
        built.n_docs, built.avgdl, k=10_000).orderBy("rank").collect()
    neg_ids = {r["doc_id"] for r in built.postings.filter(
        F.col("term") == neg).select("doc_id").distinct().collect()}
    survivors = [r for r in wide if r["doc_id"] not in neg_ids][:10]
    assert 0 < len(survivors) < len(wide[:10]) or \
        any(r["doc_id"] in neg_ids for r in wide)   # the NOT bites
    got = bm25_topk_exhaustive(
        built.postings, built.dictionary, built.docs, f"{q} -{neg}",
        built.n_docs, built.avgdl, k=10,
        pre_parsed=(["machin", "learn"], False),
        negated=[neg],
    ).orderBy("rank").collect()
    assert [(r["doc_id"], r["score"]) for r in got] == \
        [(r["doc_id"], r["score"]) for r in survivors]
    assert [r["rank"] for r in got] == list(range(1, len(got) + 1))


def test_wand_search_after_pages_tile_the_deep_run(built, index_df):
    """Search-after pagination: page 2 = rows 11..20 of a deep run with
    IDENTICAL scores/urls, rank restarting at 1 per page.  The cursor
    disables seed-threshold pruning (theta from the unfiltered top-k can
    exceed every page-2 score), so OR, duplicate-term, weighted and
    boolean paths must all tile; a cursor past the last result yields an
    empty page."""
    cases = [("machine learning", {}),
             ("learning machine learning", {}),
             ("machine AND learning", {}),
             ("machine learning", {"weighted": True})]
    for q, kw in cases:
        deep = wand_topk(index_df, built.dictionary, built.docs, q,
                         built.n_docs, built.avgdl, k=30, **kw) \
            .orderBy("rank").collect()
        if len(deep) < 12:
            continue
        cur = (deep[9]["score"], deep[9]["doc_id"])
        page2 = wand_topk(index_df, built.dictionary, built.docs, q,
                          built.n_docs, built.avgdl, k=10, after=cur,
                          **kw).orderBy("rank").collect()
        assert [(r["doc_id"], r["url"], r["score"]) for r in page2] \
            == [(r["doc_id"], r["url"], r["score"]) for r in deep[10:20]], q
        assert [r["rank"] for r in page2] == list(range(1, len(page2) + 1))
        # cursor past the end -> empty page
        last = (deep[-1]["score"], deep[-1]["doc_id"])
        if len(deep) < 30:            # deep run exhausted the corpus
            beyond = wand_topk(index_df, built.dictionary, built.docs, q,
                               built.n_docs, built.avgdl, k=10, after=last,
                               **kw)
            assert beyond.count() == 0, q


def test_exhaustive_search_after_matches_wand_pages(built, index_df):
    """The exhaustive plan's after= cursor implements the same contract:
    its page 2 is bit-identical to the WAND page 2 (both tiers already
    agree on page 1 by the rank-identity tests)."""
    from ir_index_construction_spark.plans.query import bm25_topk_exhaustive

    q = "machine learning"
    deep = wand_topk(index_df, built.dictionary, built.docs, q,
                     built.n_docs, built.avgdl, k=30).orderBy("rank").collect()
    assert len(deep) >= 12
    cur = (deep[9]["score"], deep[9]["doc_id"])
    ex = bm25_topk_exhaustive(built.postings, built.dictionary, built.docs,
                              q, built.n_docs, built.avgdl, k=10,
                              after=cur).orderBy("rank").collect()
    assert [(r["doc_id"], r["url"], r["score"]) for r in ex] \
        == [(r["doc_id"], r["url"], r["score"]) for r in deep[10:20]]


def test_explain_score_sums_to_ranked_score(built, index_df):
    """The Lucene-Explanation analogue: per-term contributions for a
    (query, doc) pair sum to the doc's ranked score, in plain, weighted,
    duplicate-term and boolean modes; a term the doc lacks has no row."""
    from ir_index_construction_spark.plans.query import explain_score

    cases = [("machine learning", {}),
             ("learning machine learning", {}),
             ("machine AND learning", {}),
             ("machine learning", {"weighted": True})]
    for q, kw in cases:
        top = wand_topk(index_df, built.dictionary, built.docs, q,
                        built.n_docs, built.avgdl, k=3, **kw) \
            .orderBy("rank").collect()
        assert top, q
        for r in top:
            ex = explain_score(built.postings, built.dictionary, q,
                               r["doc_id"], built.n_docs, built.avgdl,
                               **kw).collect()
            assert ex, q
            total = math.fsum(e["contribution"] for e in ex)
            assert math.isclose(total, r["score"], rel_tol=1e-12), \
                (q, r["doc_id"], total, r["score"])
            for e in ex:
                assert e["df"] >= 1 and e["tf"] >= 1
                assert math.isclose(
                    e["contribution"], e["mult"] * e["idf"] * e["w"],
                    rel_tol=1e-12)
    # absent term -> no row for it; present term still explained
    ex = explain_score(built.postings, built.dictionary,
                       "machine zzzymissing", top[0]["doc_id"],
                       built.n_docs, built.avgdl).collect()
    assert {e["term"] for e in ex} <= {"machin"}


def test_collapse_by_domain_matches_bruteforce(built, index_df):
    """Field collapsing: one best doc per url host, ranked — equals the
    brute-force collapse of a deep exhaustive run (so the collapse runs
    over the FULL candidate set, not a pre-cut page); scores are the
    ranked scores; absent-AND-term queries collapse to empty."""
    import re

    from ir_index_construction_spark.plans.query import (
        bm25_topk_exhaustive, collapse_by_domain)

    for q in ["machine learning", "machine AND learning"]:
        deep = bm25_topk_exhaustive(
            built.postings, built.dictionary, built.docs, q,
            built.n_docs, built.avgdl, k=10_000).orderBy("rank").collect()
        best: dict = {}
        for r in deep:                      # deep is (score desc, id asc)
            dom = re.match(r"^[a-z][a-z0-9+.-]*://([^/?#]+)", r["url"]).group(1)
            best.setdefault(dom, r)
        want = sorted(best.values(),
                      key=lambda r: (-r["score"], r["doc_id"]))[:10]
        got = collapse_by_domain(
            built.postings, built.dictionary, built.docs, q,
            built.n_docs, built.avgdl, k=10).orderBy("rank").collect()
        assert [(r["doc_id"], r["url"], r["score"]) for r in got] \
            == [(r["doc_id"], r["url"], r["score"]) for r in want], q
        assert [r["rank"] for r in got] == list(range(1, len(got) + 1))
        # one row per domain
        doms = [re.match(r"^[a-z][a-z0-9+.-]*://([^/?#]+)", r["url"]).group(1)
                for r in got]
        assert len(doms) == len(set(doms))
    assert collapse_by_domain(
        built.postings, built.dictionary, built.docs,
        "machine AND zzzymissing", built.n_docs, built.avgdl).count() == 0


def test_collapse_per_domain_cap_matches_bruteforce(built, index_df):
    """Diversified top-k (per_domain=2): the best TWO docs per host,
    ranked — equals the brute-force cap over a deep exhaustive run, and
    per_domain=1 stays bit-identical to strict collapse."""
    import re
    from collections import Counter

    from ir_index_construction_spark.plans.query import (
        bm25_topk_exhaustive, collapse_by_domain)

    q, cap, k = "machine learning", 2, 10
    deep = bm25_topk_exhaustive(
        built.postings, built.dictionary, built.docs, q,
        built.n_docs, built.avgdl, k=10_000).orderBy("rank").collect()
    seen: Counter = Counter()
    kept = []
    for r in deep:                          # deep is (score desc, id asc)
        dom = re.match(r"^[a-z][a-z0-9+.-]*://([^/?#]+)", r["url"]).group(1)
        seen[dom] += 1
        if seen[dom] <= cap:
            kept.append(r)
    want = kept[:k]
    got = collapse_by_domain(
        built.postings, built.dictionary, built.docs, q,
        built.n_docs, built.avgdl, k=k, per_domain=cap) \
        .orderBy("rank").collect()
    assert [(r["doc_id"], r["url"], r["score"]) for r in got] \
        == [(r["doc_id"], r["url"], r["score"]) for r in want]
    doms = Counter(
        re.match(r"^[a-z][a-z0-9+.-]*://([^/?#]+)", r["url"]).group(1)
        for r in got)
    assert max(doms.values()) <= cap
    # default cap=1 unchanged == strict collapse
    strict = collapse_by_domain(
        built.postings, built.dictionary, built.docs, q,
        built.n_docs, built.avgdl, k=k).orderBy("rank").collect()
    one = collapse_by_domain(
        built.postings, built.dictionary, built.docs, q,
        built.n_docs, built.avgdl, k=k, per_domain=1) \
        .orderBy("rank").collect()
    assert strict == one


def test_facet_date_histogram_matches_manual(built, index_df, spark):
    """facet_date_histogram over the full match set == bucketing the
    same scored docs per month in plain Python (count/avg/max)."""
    from collections import defaultdict

    from pyspark.sql import functions as F

    from ir_index_construction_spark.plans.query import (
        bm25_topk_exhaustive, facet_date_histogram)

    scored = bm25_topk_exhaustive(
        built.postings, built.dictionary, built.docs, "machine learning",
        built.n_docs, built.avgdl, k=10_000)
    dims = built.docs.select(
        "doc_id",
        F.date_add(F.to_date(F.lit("2024-01-01")),
                   (F.col("doc_id") % 365).cast("int")).alias("warc_ts"))
    rows = scored.collect()
    assert rows
    dates = {r["doc_id"]: r["warc_ts"] for r in dims.collect()}
    buckets: dict = defaultdict(list)
    for r in rows:
        d = dates[r["doc_id"]]
        buckets[f"{d.year:04d}-{d.month:02d}"].append(r["score"])
    want = {b: (len(v), round(sum(v) / len(v), 6), round(max(v), 6))
            for b, v in buckets.items()}
    got = {r["bucket"]: (r["n_docs"], r["avg_score"], r["top_score"])
           for r in facet_date_histogram(
               scored, dims, ts_col="warc_ts").collect()}
    assert set(got) == set(want)
    for b in want:
        assert got[b][0] == want[b][0], b
        assert got[b][1] == pytest.approx(want[b][1], abs=2e-6), b
        assert got[b][2] == pytest.approx(want[b][2], abs=2e-6), b


def test_recency_boosted_topk_matches_bruteforce(built, index_df):
    """function_score date decay: engine page == brute-force python
    decay over the full match set; decay applies BEFORE the cut."""
    import datetime
    import math

    from pyspark.sql import functions as F

    from ir_index_construction_spark.plans.query import (
        bm25_topk_exhaustive, recency_boosted_topk)

    origin, hl = "2025-01-01", 45.0
    lam = math.log(0.5) / hl
    deep = bm25_topk_exhaustive(
        built.postings, built.dictionary, built.docs, "machine learning",
        built.n_docs, built.avgdl, k=10_000).orderBy("rank").collect()
    assert len(deep) > 10
    o = datetime.date(2025, 1, 1)
    base = datetime.date(2024, 1, 1)
    want = []
    for r in deep:
        d = base + datetime.timedelta(days=r["doc_id"] % 365)
        age = max(0, (o - d).days)
        want.append((r["doc_id"], r["url"], round(r["score"], 6), age,
                     round(r["score"] * math.exp(lam * age), 6)))
    want.sort(key=lambda t: (-t[4], t[0]))
    want = want[:10]

    dims = built.docs.select(
        "doc_id",
        F.date_add(F.to_date(F.lit("2024-01-01")),
                   (F.col("doc_id") % 365).cast("int")).alias("warc_ts"))
    scored = bm25_topk_exhaustive(
        built.postings, built.dictionary, built.docs, "machine learning",
        built.n_docs, built.avgdl, k=10_000).select("doc_id", "score")
    got = recency_boosted_topk(
        scored, dims, built.docs, k=10, ts_col="warc_ts",
        origin=origin, half_life_days=hl).orderBy("rank").collect()
    assert [(r["doc_id"], r["url"], r["base_score"], r["age_days"],
             r["score"]) for r in got] == want
    assert [r["rank"] for r in got] == list(range(1, 11))
    # the decay must actually reorder: the boosted page differs from
    # the plain-BM25 page (the fixture spreads ages over a full year)
    plain = [r["doc_id"] for r in deep[:10]]
    assert [r["doc_id"] for r in got] != plain


def test_synonym_expansion_equals_widened_query(built, index_df):
    """Synonym expansion is exactly a widened OR query: expanding
    'machine' with synonym 'learn' must rank bit-identically to the
    plain two-term query, on both the WAND and exhaustive tiers."""
    from ir_index_construction_spark.plans.query import bm25_topk_exhaustive
    from ir_index_construction_spark.text.normalize import (
        expand_synonyms, parse_query)

    terms, is_bool = parse_query("machine")
    expanded = expand_synonyms(terms, {"machin": ["learn"]})
    want_terms, _ = parse_query("machine learning")
    assert expanded == want_terms
    got = wand_topk(index_df, built.dictionary, built.docs, "",
                    built.n_docs, built.avgdl, k=10,
                    pre_parsed=(expanded, is_bool)).orderBy("rank").collect()
    want = wand_topk(index_df, built.dictionary, built.docs,
                     "machine learning", built.n_docs, built.avgdl,
                     k=10).orderBy("rank").collect()
    assert [(r["doc_id"], r["score"]) for r in got] \
        == [(r["doc_id"], r["score"]) for r in want]
    ex = bm25_topk_exhaustive(built.postings, built.dictionary, built.docs,
                              "", built.n_docs, built.avgdl, k=10,
                              pre_parsed=(expanded, is_bool)) \
        .orderBy("rank").collect()
    assert [(r["doc_id"], r["score"]) for r in ex] \
        == [(r["doc_id"], r["score"]) for r in want]


def test_doc_filter_restricts_before_scoring(built, index_df, spark):
    """Metadata-filtered search: with an allowed-docs frame, the result
    equals the brute-force filter of a deep unfiltered run (top-k
    backfills from allowed docs only), scores unchanged; an empty
    filter yields an empty result."""
    from ir_index_construction_spark.plans.query import bm25_topk_exhaustive

    q = "machine learning"
    deep = bm25_topk_exhaustive(built.postings, built.dictionary,
                                built.docs, q, built.n_docs, built.avgdl,
                                k=10_000).orderBy("rank").collect()
    allowed = built.docs.filter(F.col("doc_id") % 2 == 0)
    want = [(r["doc_id"], r["score"]) for r in deep
            if r["doc_id"] % 2 == 0][:10]
    got = bm25_topk_exhaustive(built.postings, built.dictionary,
                               built.docs, q, built.n_docs, built.avgdl,
                               k=10, doc_filter=allowed) \
        .orderBy("rank").collect()
    assert [(r["doc_id"], r["score"]) for r in got] == want
    assert all(r["doc_id"] % 2 == 0 for r in got)
    empty = spark.createDataFrame([], "doc_id long")
    assert bm25_topk_exhaustive(built.postings, built.dictionary,
                                built.docs, q, built.n_docs, built.avgdl,
                                k=10, doc_filter=empty).count() == 0


# ---------------------------------------------------------------------------
# term boosts (Lucene 'term^w'), minimum_should_match, hybrid RRF
# ---------------------------------------------------------------------------


def test_parse_boosted_query():
    from ir_index_construction_spark.text.normalize import parse_boosted_query

    # basic: boost attaches to the STEMMED term; terms unchanged
    terms, is_bool, boosts = parse_boosted_query("machine learning^2.5")
    assert (terms, is_bool) == (["machin", "learn"], False)
    assert boosts == {"learn": 2.5}
    # non-float suffix is not a boost (lenient Lucene parser)
    terms, _, boosts = parse_boosted_query("x^y machine")
    assert boosts == {} and "machin" in terms
    # boolean mode survives boost stripping; 'and' never gets a boost
    terms, is_bool, boosts = parse_boosted_query("machine^3 AND learning")
    assert is_bool and boosts == {"machin": 3.0}
    # two surface forms stemming to one term: last boost wins
    _, _, boosts = parse_boosted_query("learning^2 learn^4")
    assert boosts == {"learn": 4.0}
    # bare '^w' word and trailing '^' degrade to plain tokens
    terms, _, boosts = parse_boosted_query("^2 machine^")
    assert boosts == {}


def test_boosted_wand_matches_exhaustive_and_differs(built, index_df):
    """wand_topk(boosts=) and bm25_topk_exhaustive(boosts=) agree on the
    boosted ranking (same top-k set, scores to 1e-9 — the q24 contract),
    and the boost actually moves the ranking vs unboosted for the
    fixture query (guard against boosts being dead weight)."""
    from ir_index_construction_spark.plans.query import bm25_topk_exhaustive
    from ir_index_construction_spark.text.normalize import parse_boosted_query

    raw = "machine learning^5"
    terms, is_bool, boosts = parse_boosted_query(raw)
    a = wand_topk(index_df, built.dictionary, built.docs, "",
                  built.n_docs, built.avgdl, k=10,
                  pre_parsed=(terms, is_bool), boosts=boosts) \
        .orderBy("rank").collect()
    b = bm25_topk_exhaustive(built.postings, built.dictionary, built.docs,
                             "", built.n_docs, built.avgdl, k=10,
                             pre_parsed=(terms, is_bool), boosts=boosts) \
        .orderBy("rank").collect()
    assert [r["doc_id"] for r in a] == [r["doc_id"] for r in b]
    for ra, rb in zip(a, b):
        assert math.isclose(ra["score"], rb["score"],
                            rel_tol=1e-9, abs_tol=1e-12)
    plain = wand_topk(index_df, built.dictionary, built.docs,
                      "machine learning", built.n_docs, built.avgdl,
                      k=10).orderBy("rank").collect()
    assert [r["doc_id"] for r in a] != [r["doc_id"] for r in plain], \
        "a 5x boost on 'learning' must reorder the fixture top-10"


def test_boost_of_one_is_identity(built, index_df):
    got = wand_topk(index_df, built.dictionary, built.docs,
                    "machine learning", built.n_docs, built.avgdl, k=10,
                    boosts={"machin": 1.0, "learn": 1.0}) \
        .orderBy("rank").collect()
    want = wand_topk(index_df, built.dictionary, built.docs,
                     "machine learning", built.n_docs, built.avgdl,
                     k=10).orderBy("rank").collect()
    assert [(r["doc_id"], r["score"]) for r in got] == \
        [(r["doc_id"], r["score"]) for r in want]


def test_min_match_filters_and_backfills(built):
    """min_match=2 on a 3-term OR query: results are exactly the >=2-term
    docs of the unfiltered deep run, re-topped (backfill correct), and
    every kept doc really matches >=2 distinct query terms."""
    from ir_index_construction_spark.plans.query import bm25_topk_exhaustive
    from ir_index_construction_spark.text.normalize import parse_query

    q = "machine learning software"
    terms, _ = parse_query(q)
    deep = bm25_topk_exhaustive(built.postings, built.dictionary,
                                built.docs, q, built.n_docs, built.avgdl,
                                k=10_000).orderBy("rank").collect()
    match_counts = {
        r["doc_id"]: r["n"]
        for r in built.postings.filter(F.col("term").isin(terms))
        .groupBy("doc_id").agg(F.countDistinct("term").alias("n")).collect()
    }
    want = [(r["doc_id"], r["score"]) for r in deep
            if match_counts[r["doc_id"]] >= 2][:10]
    got = bm25_topk_exhaustive(built.postings, built.dictionary,
                               built.docs, q, built.n_docs, built.avgdl,
                               k=10, min_match=2).orderBy("rank").collect()
    assert [(r["doc_id"], r["score"]) for r in got] == want
    assert all(match_counts[r["doc_id"]] >= 2 for r in got)
    # min_match=1 is plain OR
    or_run = bm25_topk_exhaustive(built.postings, built.dictionary,
                                  built.docs, q, built.n_docs, built.avgdl,
                                  k=10, min_match=1).orderBy("rank").collect()
    assert [(r["doc_id"], r["score"]) for r in or_run] == \
        [(r["doc_id"], r["score"]) for r in deep[:10]]


def test_hybrid_rrf_matches_manual(built, index_df, spark):
    """hybrid_topk == a driver-side recomputation: WAND ranks + numpy
    cosine ranks fused by 1/(60+rank), tie-break (score desc, doc_id)."""
    from ir_index_construction_spark.plans.hybrid import hybrid_topk

    rng = np.random.default_rng(7)
    ids = [r["doc_id"] for r in built.docs.select("doc_id").collect()]
    vecs = {i: rng.standard_normal(16) for i in sorted(ids)}
    qvec = rng.standard_normal(16)
    emb = spark.createDataFrame(
        [(int(i), [float(x) for x in v]) for i, v in sorted(vecs.items())],
        "doc_id long, embedding array<double>")

    depth, query = 30, "machine learning"
    got = hybrid_topk(index_df, built.dictionary, built.docs, emb,
                      "doc_id", "embedding", query,
                      [float(x) for x in qvec], built.n_docs, built.avgdl,
                      k=10, depth=depth).orderBy("rank").collect()

    lex = wand_topk(index_df, built.dictionary, built.docs, query,
                    built.n_docs, built.avgdl, k=depth) \
        .orderBy("rank").collect()
    qn = float(np.sqrt(qvec @ qvec))
    cos = sorted(
        ((float(v @ qvec / (np.sqrt(v @ v) * qn)), i)
         for i, v in vecs.items()),
        key=lambda t: (-t[0], t[1]))[:depth]
    fused: dict = {}
    for r in lex:
        fused[r["doc_id"]] = fused.get(r["doc_id"], 0.0) + 1.0 / (60 + r["rank"])
    for rank, (_, i) in enumerate(cos, start=1):
        fused[i] = fused.get(i, 0.0) + 1.0 / (60 + rank)
    want = sorted(fused.items(), key=lambda t: (-t[1], t[0]))[:10]
    assert [r["doc_id"] for r in got] == [i for i, _ in want]
    for r, (_, s) in zip(got, want):
        assert math.isclose(r["score"], s, rel_tol=1e-9, abs_tol=1e-12)
    assert [r["rank"] for r in got] == list(range(1, len(got) + 1))
    # urls came through the back-join
    assert all(r["url"] for r in got)


def test_rrf_fuse_semantics(spark):
    """Doc in both lists gets two addends; single-list docs one; ties
    break by doc_id; k truncates."""
    from ir_index_construction_spark.plans.hybrid import rrf_fuse

    a = spark.createDataFrame([(1, 1), (2, 2)], "doc_id long, rank int")
    b = spark.createDataFrame([(2, 1), (3, 2)], "doc_id long, rank int")
    rows = {r["doc_id"]: r["score"]
            for r in rrf_fuse([a, b], k=10).collect()}
    assert math.isclose(rows[2], 1 / 62 + 1 / 61)
    assert math.isclose(rows[1], 1 / 61)
    assert math.isclose(rows[3], 1 / 62)
    # 1 and 3... 1/61 > 1/62: order is 2, 1, 3; k=2 keeps [2, 1]
    top2 = [r["doc_id"]
            for r in rrf_fuse([a, b], k=2).orderBy(
                F.desc("score"), F.asc("doc_id")).collect()]
    assert top2 == [2, 1]


def test_query_service_boost_and_min_match(spark, tmp_path):
    """CLI-service routing for the round-4 surfaces: 'term^2' parses to
    a doubled idf on the exhaustive plan, and min_match=2 keeps only
    multi-term docs (and forces the exhaustive route even in wand
    mode — no 'index' table exists in this catalog)."""
    import importlib.util
    from pathlib import Path

    from ir_index_construction_spark.sources.catalog import Catalog

    spec = importlib.util.spec_from_file_location(
        "submit_query_mod2",
        Path(__file__).resolve().parent.parent / "tools" / "submit_query.py")
    m = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(m)

    cat = Catalog(str(tmp_path / "cat_boost"))
    txn = cat.transaction()
    txn.write(spark.createDataFrame(
        [("foo", 1, 1, 10, 2), ("bar", 1, 1, 10, 2), ("foo", 2, 1, 10, 1)],
        "term string, doc_id long, tf int, imp int, dl int"), "postings")
    txn.write(spark.createDataFrame(
        [(1, "u1", 2), (2, "u2", 1)],
        "doc_id long, url string, doc_len int"), "docs")
    txn.write(spark.createDataFrame(
        [("foo", 2, 2), ("bar", 1, 1)],
        "term string, df long, cf long"), "dictionary")
    txn.write(spark.createDataFrame(
        [(2, 1.5, 2)], "n_docs long, avgdl double, n_terms long"), "stats")
    txn.commit()

    svc = m.QueryService(spark, cat)
    plain = {r["doc_id"]: r["score"]
             for r in svc.run("foo", 10, "exhaustive", False).collect()}
    boosted = {r["doc_id"]: r["score"]
               for r in svc.run("foo^2", 10, "exhaustive", False).collect()}
    assert set(plain) == set(boosted) == {1, 2}
    for d in plain:
        assert math.isclose(boosted[d], 2.0 * plain[d], rel_tol=1e-12)

    got = svc.run("foo bar", 10, "wand", False, min_match=2).collect()
    assert [r["doc_id"] for r in got] == [1]


def test_regex_literal_prefix_cases():
    """The pushdown handle: longest literal prefix, leading ^ dropped,
    char-before-quantifier excluded ('ab*' matches 'a')."""
    from ir_index_construction_spark.plans.query import regex_literal_prefix

    assert regex_literal_prefix("eng.*") == "eng"
    assert regex_literal_prefix("^eng.*") == "eng"
    assert regex_literal_prefix("machin") == "machin"
    assert regex_literal_prefix(".*ing") == ""
    assert regex_literal_prefix("ab*c") == "a"      # b is quantified
    assert regex_literal_prefix("ab+") == "a"
    assert regex_literal_prefix("ab?") == "a"
    assert regex_literal_prefix("ab{2}") == "a"
    assert regex_literal_prefix("a[bc]d") == "a"
    assert regex_literal_prefix("") == ""


def test_regex_expansion_matches_pure_python(built):
    """expand_regex = whole-term regex match over the dictionary, capped
    deterministically (df DESC, term ASC) — recomputed with re.fullmatch.
    The literal-prefix pushdown must not change results."""
    import re

    from ir_index_construction_spark.plans.query import expand_regex

    dfs = {r["term"]: r["df"] for r in built.dictionary.collect()}
    for pattern, cap in (
            ("ma.*", 50),        # literal prefix 'ma' prunes the scan
            ("ma.*", 2),         # cap binds
            (".*ing", 50),       # no literal prefix -> full vocab scan
            ("s.*war.*", 50),    # prefix + inner wildcard ('softwar')
            ("zzz.*qqq", 50)):   # no match
        want = [t for t in dfs if re.fullmatch(pattern, t)]
        want.sort(key=lambda t: (-dfs[t], t))
        want = want[:cap]
        got = expand_regex(built.dictionary, pattern, max_expansions=cap)
        assert got == want, pattern
    assert "machin" in expand_regex(built.dictionary, "ma.*")
    assert expand_regex(built.dictionary, "") == []
    # snapshot-bound cache round trip
    cache = {}
    a = expand_regex(built.dictionary, "ma.*", 50, cache=cache)
    assert ("regex", "ma.*", 50) in cache
    assert expand_regex(built.dictionary, "ma.*", 50, cache=cache) == a


def test_regex_topk_matches_expanded_or_query(built, index_df):
    """regex_topk IS expansion + OR-mode WAND: bit-identical to wand_topk
    over the same pre-parsed expansion, empty when nothing matches."""
    from ir_index_construction_spark.plans.query import expand_regex, regex_topk

    terms = expand_regex(built.dictionary, "ma.*")
    assert terms
    got = regex_topk(index_df, built.dictionary, built.docs, "ma.*",
                     built.n_docs, built.avgdl, k=10).orderBy("rank").collect()
    want = wand_topk(index_df, built.dictionary, built.docs, "",
                     built.n_docs, built.avgdl, k=10,
                     pre_parsed=(terms, False)).orderBy("rank").collect()
    assert [(r["rank"], r["doc_id"], r["url"], r["score"]) for r in got] == \
           [(r["rank"], r["doc_id"], r["url"], r["score"]) for r in want]
    assert got
    assert regex_topk(index_df, built.dictionary, built.docs, "zzz.*qqq",
                      built.n_docs, built.avgdl, k=10).count() == 0


def test_query_service_regex_and_significant(spark, tmp_path, built, index_df):
    """CLI routing: a /slash-wrapped/ query routes to regex_topk
    (bit-identical to the direct call), and --mode significant returns
    the JLH significant terms of the query's top-100 result page."""
    import importlib.util
    from pathlib import Path

    from ir_index_construction_spark.operators.cooccur import significant_terms
    from ir_index_construction_spark.plans.query import regex_topk
    from ir_index_construction_spark.sources.catalog import Catalog

    spec = importlib.util.spec_from_file_location(
        "submit_query_regex",
        Path(__file__).resolve().parent.parent / "tools" / "submit_query.py")
    m = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(m)

    cat = Catalog(str(tmp_path / "cat_regex"))
    txn = cat.transaction()
    txn.write(built.postings, "postings")
    txn.write(built.docs, "docs")
    txn.write(built.dictionary, "dictionary")
    txn.write(index_df, "index")
    txn.write(spark.createDataFrame(
        [(built.n_docs, built.avgdl, 1)],
        "n_docs long, avgdl double, n_terms long"), "stats")
    txn.commit()

    svc = m.QueryService(spark, cat)
    got = svc.run("/ma.*/", 10, "wand", False).orderBy("rank").collect()
    want = regex_topk(index_df, built.dictionary, built.docs, "ma.*",
                      built.n_docs, built.avgdl, k=10) \
        .orderBy("rank").collect()
    assert [(r["rank"], r["doc_id"], r["url"], r["score"]) for r in got] == \
           [(r["rank"], r["doc_id"], r["url"], r["score"]) for r in want]
    assert got

    page = wand_topk(index_df, built.dictionary, built.docs,
                     "machine learning", built.n_docs, built.avgdl,
                     k=100).select("doc_id").collect()
    ids = [r["doc_id"] for r in page]
    fg = spark.createDataFrame([(i,) for i in ids], "doc_id long")
    want_sig = [(r["term"], r["n_fg_term"], r["df"], r["jlh"])
                for r in significant_terms(
                    built.postings, built.dictionary, built.n_docs, fg,
                    n_fg=len(ids), top_n=10).collect()]
    got_sig = [(r["term"], r["n_fg_term"], r["df"], r["jlh"])
               for r in svc.run("machine learning", 10,
                                "significant", False).collect()]
    assert got_sig == want_sig
    assert got_sig, "result-page foreground produced no significant terms"
    # the query's own stems must surface as significant for their page
    assert any(t in ("machin", "learn") for t, *_ in got_sig)


# ---------------------------------------------------------------------------
# wildcard queries (plans/rank.py)
# ---------------------------------------------------------------------------


def test_glob_to_regex_cases():
    from ir_index_construction_spark.plans.rank import glob_to_regex

    assert glob_to_regex("te*m") == "te.*m"
    assert glob_to_regex("wor?") == "wor."
    assert glob_to_regex("a.b*") == "a\\.b.*"
    assert glob_to_regex("plain") == "plain"
    assert glob_to_regex("*x?y*") == ".*x.y.*"


@pytest.mark.parametrize("pattern", [
    "commoncrawl",        # no metacharacter: exact lookup
    "mach*",              # trailing-only: prefix pushdown path
    "*n",                 # leading-only: reversed/EndsWith path
    "m?chin",             # single-char wildcard
    "l*n",                # general: literal-prefix + rlike path
    "*",                  # all-meta: rejected -> []
    "zz*qq",              # no matches
])
def test_expand_wildcard_matches_pure_python(built, pattern):
    import re

    from ir_index_construction_spark.plans.rank import (
        expand_wildcard, glob_to_regex, reversed_dictionary)

    cap = 5
    vocab = {r["term"]: int(r["df"]) for r in built.dictionary.collect()}
    if pattern.strip("*?"):
        rx = re.compile(f"^(?:{glob_to_regex(pattern)})$")
        hits = sorted(((df, t) for t, df in vocab.items() if rx.match(t)),
                      key=lambda x: (-x[0], x[1]))
        want = [t for _, t in hits[:cap]]
    else:
        want = []

    got = expand_wildcard(built.dictionary, pattern, max_expansions=cap)
    assert got == want
    # the reversed-dictionary scale path yields the identical expansion
    rdict = reversed_dictionary(built.dictionary)
    got_r = expand_wildcard(built.dictionary, pattern, max_expansions=cap,
                            rdictionary=rdict)
    assert got_r == want


def test_expand_wildcard_nonempty_fixtures(built):
    """The parametrized patterns must actually exercise non-trivial
    expansions against this corpus (guards against vocabulary drift
    silently turning the test vacuous)."""
    from ir_index_construction_spark.plans.rank import expand_wildcard

    for pattern in ("commoncrawl", "mach*", "*n", "l*n"):
        assert expand_wildcard(built.dictionary, pattern,
                               max_expansions=5), pattern


def test_wildcard_topk_matches_expanded_or_query(built, index_df):
    from ir_index_construction_spark.plans.rank import (
        expand_wildcard, wildcard_topk)

    pattern, cap = "*n", 5
    terms = expand_wildcard(built.dictionary, pattern, max_expansions=cap)
    assert terms
    want = wand_topk(index_df, built.dictionary, built.docs, "",
                     built.n_docs, built.avgdl, k=10,
                     pre_parsed=(terms, False)).orderBy("rank").collect()
    got = wildcard_topk(index_df, built.dictionary, built.docs, pattern,
                        built.n_docs, built.avgdl, k=10,
                        max_expansions=cap).orderBy("rank").collect()
    assert [(r["rank"], r["doc_id"], r["url"], r["score"]) for r in got] == \
           [(r["rank"], r["doc_id"], r["url"], r["score"]) for r in want]
    assert got


def test_wildcard_expansion_cache_skips_job(built):
    from ir_index_construction_spark.plans.rank import expand_wildcard

    cache: dict = {}
    a = expand_wildcard(built.dictionary, "mach*", max_expansions=5,
                        cache=cache)
    assert ("wildcard", "mach*", 5) in cache
    cache[("wildcard", "mach*", 5)] = ["sentinel"]
    b = expand_wildcard(built.dictionary, "mach*", max_expansions=5,
                        cache=cache)
    assert b == ["sentinel"] and a != b   # second call served from cache


def test_query_service_wildcard_and_lm(spark, tmp_path, built, index_df):
    """CLI routing: a single token carrying a non-trailing wildcard
    routes to wildcard_topk (bit-identical to the direct call);
    --scorer lm ranks by LM-Dirichlet with T derived once from the
    dictionary's cf column; --rescore/--termvectors on a catalog
    without positions fail with the positional-build hint."""
    import importlib.util
    from pathlib import Path

    from ir_index_construction_spark.plans.rank import (
        lm_dirichlet_topk, wildcard_topk)
    from ir_index_construction_spark.sources.catalog import Catalog

    spec = importlib.util.spec_from_file_location(
        "submit_query_wild",
        Path(__file__).resolve().parent.parent / "tools" / "submit_query.py")
    m = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(m)

    cat = Catalog(str(tmp_path / "cat_wild"))
    txn = cat.transaction()
    txn.write(built.postings, "postings")
    txn.write(built.docs, "docs")
    txn.write(built.dictionary, "dictionary")
    txn.write(index_df, "index")
    txn.write(spark.createDataFrame(
        [(built.n_docs, built.avgdl, 1)],
        "n_docs long, avgdl double, n_terms long"), "stats")
    txn.commit()

    svc = m.QueryService(spark, cat)
    got = svc.run("*n", 10, "wand", False).orderBy("rank").collect()
    want = wildcard_topk(index_df, built.dictionary, built.docs, "*n",
                         built.n_docs, built.avgdl, k=10) \
        .orderBy("rank").collect()
    assert [(r["rank"], r["doc_id"], r["url"], r["score"]) for r in got] == \
           [(r["rank"], r["doc_id"], r["url"], r["score"]) for r in want]
    assert got

    total = float(sum(r["cf"] for r in built.dictionary.collect()))
    got_lm = svc.run("machine learning", 10, "wand", False,
                     scorer="lm").orderBy("rank").collect()
    want_lm = lm_dirichlet_topk(built.postings, built.dictionary,
                                built.docs, "machine learning",
                                built.n_docs, total, k=10) \
        .orderBy("rank").collect()
    assert [(r["rank"], r["doc_id"], r["url"], r["score"])
            for r in got_lm] == \
           [(r["rank"], r["doc_id"], r["url"], r["score"])
            for r in want_lm]
    assert got_lm

    with pytest.raises(SystemExit, match="positional"):
        svc.run("machine learning", 10, "wand", False, rescore=20)
    with pytest.raises(SystemExit, match="positional"):
        svc.term_vectors(0)

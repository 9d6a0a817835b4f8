"""Incremental compressed-index segments (streaming maintain_index):

1. A stream drain with maintain_index=True appends a per-batch index
   SEGMENT + dictionary delta + stats in the batch's atomic commit, and
   WAND over the segmented index is (url, score)-identical to a FULL
   REBUILD over the same documents — the bar the reference pipeline can
   only meet by re-running its whole indexer.
2. Block-max bounds of older segments were encoded at a smaller avgdl;
   the query-side bound_scale inflation keeps pruning lossless when a
   batch of long documents drifts avgdl upward (wand == exhaustive);
   a query workload carries no bound scales, so it never prunes.
3. A fault in the torn window leaves index/dictionary/stats/segments
   untouched (the segment staging composes with exactly-once commits).
"""

from __future__ import annotations

import datetime as dt
import importlib.util
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from ir_index_construction_spark.config import small_scale
from ir_index_construction_spark.corpusgen import make_doc
from ir_index_construction_spark.operators.topk import wand_topk
from ir_index_construction_spark.plans.builder import IndexBuilder
from ir_index_construction_spark.plans.query import bm25_topk_exhaustive
from ir_index_construction_spark.schemas import DOCUMENTS
from ir_index_construction_spark.sources.catalog import Catalog
from ir_index_construction_spark.streaming import incremental_index_update

CFG = small_scale()
QUERIES = ["machine learning", "software AND engineering", "commoncrawl",
           "learning machine learning", "research"]


def _frames(spark, cat):
    stats = cat.read(spark, "stats").collect()[0]
    segs = cat.read(spark, "index_segments").collect()
    scale = [(r["min_shard"], r["max_shard"],
              max(1.0, float(stats["avgdl"]) / r["built_avgdl"]))
             for r in segs]
    return {
        "index": cat.read(spark, "index"),
        "dictionary": cat.read(spark, "dictionary"),
        "docs": cat.read(spark, "docs"),
        "postings": cat.read(spark, "postings"),
        "n_docs": int(stats["n_docs"]),
        "avgdl": float(stats["avgdl"]),
        "bound_scale": scale,
        "segments": segs,
    }


def _wand(spark, f, q, k=10):
    return [(r["url"], r["score"]) for r in wand_topk(
        f["index"], f["dictionary"], f["docs"], q,
        f["n_docs"], f["avgdl"], k=k,
        bound_scale=f["bound_scale"]).orderBy("rank").collect()]


def _service(spark, cat):
    spec = importlib.util.spec_from_file_location(
        "submit_query_segments",
        Path(__file__).resolve().parent.parent / "tools" / "submit_query.py")
    m = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(m)
    return m.QueryService(spark, cat)


def _grouped_by_score(rows):
    """[(url, score)] -> [(score, frozenset(urls))]: rank order must
    match by score; WITHIN an exact score tie the winner may differ
    between catalogs (tie-break is doc_id, and id assignment differs
    between a rebuild and a stream drain by design)."""
    out: list = []
    for url, score in rows:
        if out and out[-1][0] == score:
            out[-1][1].add(url)
        else:
            out.append((score, {url}))
    return [(s, frozenset(u)) for s, u in out]


def _long_doc(i: int) -> dict:
    words = ("machine learning research software engineering "
             "distributed systems information retrieval ") * 40
    return {
        "url": f"https://long.example.org/page/{i}",
        "warc_ts": dt.datetime(2024, 1, 1, 0, 0, i % 60),
        "html": (f"<html><head><title>long doc {i}</title></head>"
                 f"<body><p>{words} token{i}</p></body></html>").encode(),
        "text": None,
        "lang": "en",
    }


@pytest.fixture(scope="module")
def seg_env(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("segments")
    rows_a = [make_doc(i) for i in range(60)]
    rows_b = [make_doc(i) for i in range(60, 90)] \
        + [_long_doc(i) for i in range(6)]          # drives avgdl UP

    cat = Catalog(str(root / "cat"))
    IndexBuilder(cat, CFG, n_batches=2).build(
        spark.createDataFrame(rows_a, DOCUMENTS))
    base_stats = cat.read(spark, "stats").collect()[0]

    inp = root / "incoming"
    spark.createDataFrame(rows_b, DOCUMENTS).write.parquet(str(inp / "f0"))
    incremental_index_update(spark, cat, str(inp) + "/*",
                             str(root / "ck"), maintain_index=True,
                             bm25=CFG.bm25, index_cfg=CFG.index)

    cat_full = Catalog(str(root / "cat_full"))
    IndexBuilder(cat_full, CFG, n_batches=2).build(
        spark.createDataFrame(rows_a + rows_b, DOCUMENTS))
    return {"cat": cat, "cat_full": cat_full,
            "base_avgdl": float(base_stats["avgdl"]),
            "rows_b": rows_b}


def test_segment_metadata_and_avgdl_drift(spark, seg_env):
    f = _frames(spark, seg_env["cat"])
    full = _frames(spark, seg_env["cat_full"])
    assert len(f["segments"]) == 2                 # base + one batch
    base, seg = sorted(f["segments"], key=lambda r: r["min_shard"])
    assert base["max_shard"] < seg["min_shard"]    # disjoint shard ranges
    # the long docs drove avgdl up, so the BASE segment's bounds need
    # inflation (> 1) while the new segment is current (== 1)
    assert f["avgdl"] > seg_env["base_avgdl"]
    scales = {s[0]: s[2] for s in f["bound_scale"]}
    assert scales[base["min_shard"]] > 1.0
    assert scales[seg["min_shard"]] == 1.0
    # merged stats are bit-identical to the full rebuild's
    assert (f["n_docs"], f["avgdl"]) == (full["n_docs"], full["avgdl"])


def test_segmented_wand_matches_full_rebuild(spark, seg_env):
    f = _frames(spark, seg_env["cat"])
    full = _frames(spark, seg_env["cat_full"])
    for q in QUERIES:
        got = _grouped_by_score(_wand(spark, f, q))
        want = _grouped_by_score(_wand(spark, full, q))
        assert got == want, q


def test_segmented_wand_matches_exhaustive_under_drift(spark, seg_env):
    """Pruning losslessness with stale-bound segments: the exhaustive
    scorer over the SAME catalog's flat postings is the ground truth
    (shared doc_ids, so results must be row-identical, ties included)."""
    f = _frames(spark, seg_env["cat"])
    for q in QUERIES:
        got = _wand(spark, f, q)
        want = [(r["url"], r["score"]) for r in bm25_topk_exhaustive(
            f["postings"], f["dictionary"], f["docs"], q,
            f["n_docs"], f["avgdl"], k=10).orderBy("rank").collect()]
        assert got == want, q


def test_segmented_batch_matches_exhaustive_under_drift(spark, seg_env):
    """A one-query workload (the spec count a single query prunes at)
    through QueryService.run_batch has no segment bound scales, so it
    decodes in full: every query equals the exhaustive scorer over the
    drifted catalog, ties included.  This fixture's drift stays within
    the stale bounds' slack; test_index_wand.py::
    test_workload_never_prunes_on_stale_bounds has bounds it exceeds."""
    f = _frames(spark, seg_env["cat"])
    svc = _service(spark, seg_env["cat"])
    for q in QUERIES:
        for k in (1, 10):
            got = [(r["url"], r["score"]) for r in svc.run_batch(
                {"q": q}, k, "wand", False).orderBy("rank").collect()]
            want = [(r["url"], r["score"]) for r in bm25_topk_exhaustive(
                f["postings"], f["dictionary"], f["docs"], q,
                f["n_docs"], f["avgdl"], k=k).orderBy("rank").collect()]
            assert got == want, (q, k)


def test_new_docs_surface_in_topk(spark, seg_env):
    f = _frames(spark, seg_env["cat"])
    got = _wand(spark, f, "distributed systems")
    assert any(u.startswith("https://long.example.org/") for u, _ in got)


def test_segment_fault_leaves_no_partial_state(spark, seg_env, tmp_path):
    from ir_index_construction_spark.streaming.incremental import (
        process_stream_batch)

    cat = seg_env["cat"]
    before = {
        "index": cat.read(spark, "index").count(),
        "dictionary": cat.read(spark, "dictionary").count(),
        "segments": cat.read(spark, "index_segments").count(),
        "stats": cat.read(spark, "stats").collect()[0].asDict(),
    }

    class Boom(Exception):
        pass

    def fault():
        raise Boom

    batch = spark.createDataFrame(
        [make_doc(i) for i in range(200, 220)], DOCUMENTS)
    with pytest.raises(Boom):
        process_stream_batch(spark, cat, "s2", batch, 0, fault=fault,
                             maintain_index=True, bm25=CFG.bm25,
                             index_cfg=CFG.index)
    assert cat.read(spark, "index").count() == before["index"]
    assert cat.read(spark, "dictionary").count() == before["dictionary"]
    assert cat.read(spark, "index_segments").count() == before["segments"]
    assert cat.read(spark, "stats").collect()[0].asDict() == before["stats"]


def test_cold_start_streaming_only_index(spark, tmp_path):
    """maintain_index on an EMPTY catalog: the first batch claims shard
    0 and creates dictionary/stats; after two drains WAND over the
    segment-only index matches the exhaustive scorer over the same
    catalog's flat postings."""
    cat = Catalog(str(tmp_path / "cold"))
    inp = tmp_path / "cold_in"
    spark.createDataFrame([make_doc(i) for i in range(40)], DOCUMENTS) \
        .write.parquet(str(inp / "f0"))
    incremental_index_update(spark, cat, str(inp) + "/*",
                             str(tmp_path / "cold_ck"), maintain_index=True,
                             bm25=CFG.bm25, index_cfg=CFG.index)
    spark.createDataFrame([make_doc(i) for i in range(40, 70)], DOCUMENTS) \
        .write.parquet(str(inp / "f1"))
    incremental_index_update(spark, cat, str(inp) + "/*",
                             str(tmp_path / "cold_ck"), maintain_index=True,
                             bm25=CFG.bm25, index_cfg=CFG.index)

    f = _frames(spark, cat)
    assert len(f["segments"]) == 2
    assert min(s["min_shard"] for s in f["segments"]) == 0
    for q in QUERIES:
        got = _wand(spark, f, q)
        want = [(r["url"], r["score"]) for r in bm25_topk_exhaustive(
            f["postings"], f["dictionary"], f["docs"], q,
            f["n_docs"], f["avgdl"], k=10).orderBy("rank").collect()]
        assert got == want, q


def test_tombstones_compose_with_segments(spark, seg_env):
    """Deletion + segments + bound inflation in one query: tombstone a
    streamed (segment-resident) doc and a base doc, then WAND with both
    exclude_ids and bound_scale must equal the exhaustive scorer over
    the live postings view — the full merge-on-read read path."""
    from ir_index_construction_spark.plans.maintenance import (
        live_postings, tombstone_urls)

    cat = seg_env["cat"]
    f = _frames(spark, cat)
    q = "machine learning"
    top = _wand(spark, f, q)
    base_victim = next(u for u, _ in top
                       if not u.startswith("https://long.example.org/"))
    seg_victim = "https://long.example.org/page/0"
    assert tombstone_urls(spark, cat, [base_victim, seg_victim]) == 2
    try:
        dead = {r["doc_id"] for r in
                cat.read(spark, "doc_tombstones").collect()}
        got = [(r["url"], r["score"]) for r in wand_topk(
            f["index"], f["dictionary"], f["docs"], q,
            f["n_docs"], f["avgdl"], k=10,
            bound_scale=f["bound_scale"], exclude_ids=dead)
            .orderBy("rank").collect()]
        assert all(u not in (base_victim, seg_victim) for u, _ in got)
        want = [(r["url"], r["score"]) for r in bm25_topk_exhaustive(
            live_postings(spark, cat), f["dictionary"], f["docs"], q,
            f["n_docs"], f["avgdl"], k=10).orderBy("rank").collect()]
        assert got == want
    finally:
        # leave seg_env unmutated for the reindex test that follows
        from ir_index_construction_spark.schemas import TOMBSTONES
        cat.transaction().write(
            spark.createDataFrame([], TOMBSTONES), "doc_tombstones").commit()


def test_reindex_merges_segments_and_preserves_results(spark, seg_env):
    """Background segment merge: reindex re-encodes ALL postings
    (including streamed docs with huge per-batch id bases — shard is a
    long, so no int wrap) at the current avgdl; results are unchanged,
    segments collapse to one, and the bound scale resets to 1."""
    from ir_index_construction_spark.plans.maintenance import reindex

    cat = seg_env["cat"]
    f_before = _frames(spark, cat)
    before = {q: _wand(spark, f_before, q) for q in QUERIES}

    assert reindex(spark, cat, CFG.bm25, CFG.index) >= 1

    f = _frames(spark, cat)
    assert len(f["segments"]) == 1
    assert all(s == 1.0 for _, _, s in f["bound_scale"])
    # streamed ids live above 2^40: their shards need long arithmetic
    assert f["segments"][0]["max_shard"] >= (1 << 40) // CFG.index.shard_size
    assert (f["n_docs"], f["avgdl"]) == (f_before["n_docs"],
                                         f_before["avgdl"])
    for q in QUERIES:
        assert _wand(spark, f, q) == before[q], q

"""Full catalog lifecycle in ONE flow — the "it all composes" test.

Every step here is covered in isolation elsewhere; this test pins the
COMPOSITION, where table-lifecycle bugs hide: batch build (positions
on) -> streaming drain (index segments + positions maintained in the
same per-batch transactions) -> WAND + exact-phrase queries through
the SAME QueryService a deployment runs -> tombstone two urls (results
re-rank with scores unchanged, tombstoned docs gone, backfill at k) ->
purge (physical rewrite) -> reindex (segment merge) -> compact ->
expire_snapshots -> vacuum(grace=0) -> queries STILL identical after
every maintenance step (maintenance is invariant by contract), old
time travel errors cleanly after expiry, and vacuum actually removed
bytes.
"""

from __future__ import annotations

import dataclasses
import importlib.util
import os
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from ir_index_construction_spark.config import small_scale
from ir_index_construction_spark.plans.builder import IndexBuilder
from ir_index_construction_spark.plans.maintenance import (
    purge_tombstones, reindex, tombstone_urls)
from ir_index_construction_spark.schemas import DOCUMENTS
from ir_index_construction_spark.sources.catalog import Catalog
from ir_index_construction_spark.corpusgen import make_corpus

CFG = dataclasses.replace(small_scale(), positions=True)
PHRASE = "graft lifecycle"          # planted adjacent bigram (see _phrase_doc)
QUERY = "machine learning"


def _phrase_doc(i: int, streamed: bool) -> dict:
    import datetime as dt

    host = "stream" if streamed else "batch"
    return {
        "url": f"https://{host}.example.org/phrase/{i}",
        "warc_ts": dt.datetime(2024, 2, 1, 0, 0, i),
        "html": ("<html><head><title>graft lifecycle test</title></head>"
                 "<body><p>" + ("graft lifecycle machine learning " * (i + 1))
                 + "</p></body></html>").encode(),
        "text": None,
        "lang": "en",
    }


def _service(spark, cat):
    spec = importlib.util.spec_from_file_location(
        "submit_query_lifecycle",
        Path(__file__).resolve().parent.parent / "tools" / "submit_query.py")
    m = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(m)
    return m.QueryService(spark, cat)


def _key(rows):
    return [(r["rank"], r["url"], r["score"]) for r in rows]


def test_full_lifecycle_composes(spark, tmp_path):
    from ir_index_construction_spark.streaming import incremental_index_update

    root = tmp_path
    rows = make_corpus(240)
    batch_rows = rows[:180] + [_phrase_doc(i, False) for i in range(3)]
    stream_rows = rows[180:] + [_phrase_doc(i, True) for i in range(3, 6)]

    cat = Catalog(str(root / "cat"))
    IndexBuilder(cat, CFG, n_batches=2).build(
        spark.createDataFrame(batch_rows, DOCUMENTS))

    inp = root / "incoming"
    spark.createDataFrame(stream_rows, DOCUMENTS) \
        .write.parquet(str(inp / "f0"))
    incremental_index_update(spark, cat, str(inp) + "/*",
                             str(root / "ck"), maintain_index=True,
                             bm25=CFG.bm25, index_cfg=CFG.index)

    svc = _service(spark, cat)
    run = lambda q, mode: _key(
        svc.run(q, 10, mode, False).orderBy("rank").collect())

    wand0 = run(QUERY, "wand")
    phrase0 = run(f'"{PHRASE}"', "phrase")
    assert wand0 and phrase0
    # the drain is live: streamed phrase docs are served via segments
    assert any("stream.example.org" in u for _, u, _ in phrase0)

    # -- leading wildcard on the shipped path: the catalog's persisted
    # rdictionary (written by the build's stats stage, delta'd by the
    # streamed segment commit in the same transactions) expands '*earn'
    # identically to the endswith fallback, and the SAME QueryService
    # serves it
    from ir_index_construction_spark.plans.rank import expand_wildcard
    assert cat.table_exists("rdictionary")
    dic, rdic = cat.read(spark, "dictionary"), cat.read(spark, "rdictionary")
    assert expand_wildcard(dic, "*earn", rdictionary=rdic) \
        == expand_wildcard(dic, "*earn") != []
    wild0 = run("*earn", "wildcard")
    assert wild0

    # -- metadata family served from the catalog's OWN doc_meta sidecar
    # (warc_ts/lang/source written with docs by both the batch build and
    # the streaming drain): filtered search, date facet, recency decay —
    # no caller-supplied dims frame anywhere
    assert cat.table_exists("doc_meta")
    ids_of = lambda t: {r["doc_id"] for r in
                        cat.read(spark, t).select("doc_id").collect()}
    assert ids_of("doc_meta") == ids_of("docs")
    rec0 = _key(svc.run(QUERY, 10, "wand", False, recency=45.0)
                .orderBy("rank").collect())
    assert rec0
    facet0 = svc.run(QUERY, 10, "wand", False, date_facet="month") \
        .orderBy("bucket").collect()
    assert facet0 and all(r["n_docs"] > 0 for r in facet0)
    flt = _key(svc.run(QUERY, 10, "exhaustive", False,
                       meta_filter={"source": "stream.example.org"})
               .orderBy("rank").collect())
    assert flt and all("stream.example.org" in u for _, u, _ in flt)

    # -- tombstone: the top wand doc and the top phrase doc disappear,
    # everything else keeps its EXACT score (masking, not re-scoring),
    # and the result backfills to k from the next-best live docs
    victims = sorted({wand0[0][1], phrase0[0][1]})
    assert tombstone_urls(spark, cat, victims) == len(victims)
    wand1, phrase1 = run(QUERY, "wand"), run(f'"{PHRASE}"', "phrase")
    wild1 = run("*earn", "wildcard")
    rec1 = _key(svc.run(QUERY, 10, "wand", False, recency=45.0)
                .orderBy("rank").collect())
    assert all(u not in victims
               for _, u, _ in wand1 + phrase1 + wild1 + rec1)
    # WAND contract: masking, not re-scoring — survivors keep their
    # EXACT scores (term idf comes from the dictionary, untouched)
    wand0_scores = {u: s for _, u, s in wand0}
    for _, u, s in wand1:
        if u in wand0_scores:
            assert s == wand0_scores[u]
    # phrase contract: df_p is recomputed over LIVE docs (the victim
    # matched the phrase, so df_p dropped and idf rose) — survivors'
    # scores rise by a common factor, relative order preserved
    surv0 = [u for _, u, _ in phrase0 if u not in victims]
    assert [u for _, u, _ in phrase1][:len(surv0)] == surv0
    phrase0_scores = {u: s for _, u, s in phrase0}
    for _, u, s in phrase1:
        if u in phrase0_scores:
            assert s > phrase0_scores[u]
    pre_purge_version = cat._catalog_current()["version"]

    # -- maintenance chain, in the documented nightly order (reindex ->
    # purge -> compact -> expire -> vacuum): each step must leave query
    # results IDENTICAL (merge-on-read + background merges + the frozen
    # as-of-indexing scoring state)
    # base segment + one streamed segment -> one merged away
    assert reindex(spark, cat, bm25=CFG.bm25, index_cfg=CFG.index) == 1
    assert (wand1, phrase1) == (run(QUERY, "wand"), run(f'"{PHRASE}"', "phrase"))
    # reindex collapsed the rdictionary's per-segment delta rows back to
    # one row per term, atomically with the dictionary it mirrors
    assert cat.read(spark, "rdictionary").count() \
        == cat.read(spark, "dictionary").count()
    assert wild1 == run("*earn", "wildcard")
    assert purge_tombstones(spark, cat, bm25=CFG.bm25,
                            index_cfg=CFG.index) == len(victims)
    assert (wand1, phrase1) == (run(QUERY, "wand"), run(f'"{PHRASE}"', "phrase"))
    # the purge rewrote doc_meta with its docs (victims' crawl metadata
    # physically gone), and the recency ranking is purge-invariant
    assert ids_of("doc_meta") == ids_of("docs")
    assert rec1 == _key(svc.run(QUERY, 10, "wand", False, recency=45.0)
                        .orderBy("rank").collect())
    for t in ("postings", "docs", "index", "positions"):
        cat.compact(spark, t)
    assert (wand1, phrase1) == (run(QUERY, "wand"), run(f'"{PHRASE}"', "phrase"))
    assert wild1 == run("*earn", "wildcard")

    # -- expiry + vacuum: bytes actually reclaimed, old time travel
    # errors CLEANLY, the current snapshot still serves
    def table_bytes():
        total = 0
        for r, _, fs in os.walk(root / "cat"):
            total += sum(os.path.getsize(os.path.join(r, f)) for f in fs)
        return total
    before = table_bytes()
    removed = []
    for t in ("postings", "docs", "index", "positions", "dictionary",
              "rdictionary", "stats", "index_segments"):
        cat.expire_snapshots(t, keep_last=1)
        removed += cat.vacuum(t, grace_seconds=0.0)
    assert removed and table_bytes() < before
    with pytest.raises(FileNotFoundError, match="expired"):
        cat.read_at(spark, "postings", pre_purge_version)
    assert (wand1, phrase1) == (run(QUERY, "wand"), run(f'"{PHRASE}"', "phrase"))

    # -- post-maintenance catalog state is internally consistent:
    # docs/postings/positions agree on the live doc set, segments
    # merged to one, tombstones empty
    live = {r["url"] for r in cat.read(spark, "docs").collect()}
    assert not (set(victims) & live)
    assert cat.read(spark, "index_segments").count() == 1
    assert cat.read(spark, "doc_tombstones").count() == 0
    doc_ids = {r["doc_id"] for r in cat.read(spark, "docs").collect()}
    for t in ("postings", "positions"):
        ids = {r["doc_id"] for r in
               cat.read(spark, t).select("doc_id").distinct().collect()}
        assert ids <= doc_ids, t

    # -- life goes on: a SECOND streaming drain lands on the purged +
    # reindexed + compacted + expired catalog — the new segment claims
    # a shard range disjoint from the merged one, and the new docs are
    # immediately servable next to everything that survived
    spark.createDataFrame([_phrase_doc(i, True) for i in range(6, 9)],
                          DOCUMENTS).write.parquet(str(inp / "f1"))
    incremental_index_update(spark, cat, str(inp) + "/*",
                             str(root / "ck"), maintain_index=True,
                             bm25=CFG.bm25, index_cfg=CFG.index)
    segs = cat.read(spark, "index_segments").orderBy("min_shard").collect()
    assert len(segs) == 2
    assert segs[0]["max_shard"] < segs[1]["min_shard"]
    phrase2 = run(f'"{PHRASE}"', "phrase")
    assert any("/phrase/8" in u for _, u, _ in phrase2)   # new doc served
    assert all(u not in victims for _, u, _ in phrase2)   # erasure holds
    # the second drain appended doc_meta atomically with its docs too
    assert ids_of("doc_meta") == ids_of("docs")
    # the second drain's segment delta'd the rdictionary too: the
    # reversed projection still mirrors the dictionary term-for-term
    dic2 = cat.read(spark, "dictionary")
    rdic2 = cat.read(spark, "rdictionary")
    assert rdic2.count() == dic2.count()
    assert expand_wildcard(dic2, "*earn", rdictionary=rdic2) \
        == expand_wildcard(dic2, "*earn")

def test_cli_guards_and_doc_meta_coverage_warning(spark):
    """ADVICE r5 guards: --recency rejects degenerate half-lives at
    parse time (0 would ZeroDivisionError inside recency_boosted_topk,
    negative would invert decay into growth); doc_meta_coverage_warning
    is silent on full coverage and loud on a strict-subset sidecar
    (whose inner/semi joins would otherwise silently exclude docs)."""
    import argparse

    import pytest

    spec = importlib.util.spec_from_file_location(
        "submit_query_guards",
        Path(__file__).resolve().parent.parent / "tools" / "submit_query.py")
    m = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(m)

    assert m._half_life("90") == 90.0
    assert m._half_life("0.5") == 0.5
    for bad in ("0", "-3", "nan", "inf"):
        with pytest.raises(argparse.ArgumentTypeError):
            m._half_life(bad)

    def ids(*xs):
        return spark.createDataFrame([(x,) for x in xs], "doc_id long")

    meta = ids(0, 1, 2)
    assert m.doc_meta_coverage_warning(meta, ids(0, 1, 2), 3) is None
    warn = m.doc_meta_coverage_warning(meta, ids(0, 1, 2, 3, 4), 5)
    assert warn and "3 of 5" in warn
    # duplicate sidecar rows must not mask a gap (distinct doc_ids)
    dup = ids(0, 0, 1, 1, 2, 2)
    assert "3 of 5" in m.doc_meta_coverage_warning(
        dup, ids(0, 1, 2, 3, 4), 5)
    # nor may an orphan meta row (no such doc) mask a missing one:
    # doc 2 has no metadata, doc 99 is not a doc
    orphan = ids(0, 1, 99)
    warn = m.doc_meta_coverage_warning(orphan, ids(0, 1, 2), 3)
    assert warn and "2 of 3" in warn


def test_doc_meta_coverage_checked_by_metadata_queries_only(
        spark, tmp_path, monkeypatch, capsys):
    """The doc_meta coverage check (four Spark jobs) runs only for the
    metadata queries that lose docs without metadata, once per snapshot:
    plain queries never pay it, and a partial sidecar still warns."""
    cat = Catalog(str(tmp_path / "cat"))
    IndexBuilder(cat, small_scale(), n_batches=1).build(
        spark.createDataFrame(make_corpus(120), DOCUMENTS))
    assert cat.table_exists("doc_meta")

    spec = importlib.util.spec_from_file_location(
        "submit_query_meta_check",
        Path(__file__).resolve().parent.parent / "tools" / "submit_query.py")
    m = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(m)
    calls = []
    real = m.doc_meta_coverage_warning

    def counting(*args):
        calls.append(args)
        return real(*args)

    monkeypatch.setattr(m, "doc_meta_coverage_warning", counting)

    svc = m.QueryService(spark, cat)
    assert svc.run(QUERY, 10, "wand", False).collect()
    assert calls == []
    svc.run(QUERY, 10, "wand", False, recency=45.0).collect()
    svc.run(QUERY, 10, "wand", False, date_facet="month").collect()
    svc.run(QUERY, 10, "exhaustive", False,
            meta_filter={"lang": "en"}).collect()
    assert len(calls) == 1
    assert "doc_meta covers only" not in capsys.readouterr().err

    # a new snapshot whose sidecar misses half the docs
    meta = cat.read(spark, "doc_meta")
    kept = meta.filter(F.col("doc_id") % 2 == 0).collect()
    cat.write(spark.createDataFrame(kept, meta.schema), "doc_meta")
    assert svc.run(QUERY, 10, "wand", False).collect()
    assert len(calls) == 1
    svc.run(QUERY, 10, "wand", False, recency=45.0).collect()
    svc.run(QUERY, 10, "wand", False, date_facet="month").collect()
    assert len(calls) == 2
    assert "doc_meta covers only" in capsys.readouterr().err

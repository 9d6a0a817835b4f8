"""Per-layer measurements for the traced run.

Layers that run inside Spark tasks (text, udfs, codec, the shard scorer)
are timed here in the benchmark's own process, by calling their public
functions on fixed seeded samples of the workload's own inputs: pages,
posting lists read from the built catalog, and index rows collected per
shard.  The operator layers (corpus, postings, compress) are timed as
Spark jobs on the workload's write input, outside the timed phases.
"""

from __future__ import annotations

import math
import os
import random
import time

import numpy as np
import pandas as pd
import pyarrow.compute as pc
import pyarrow.parquet as pq

from ir_index_construction_spark.config import BM25Config, IndexConfig
from ir_index_construction_spark.functions.codec import (decode_chunk,
                                                         encode_chunks_many)
from ir_index_construction_spark.functions.udfs import make_extract_tokenize
from ir_index_construction_spark.operators.compress import \
    build_compressed_index
from ir_index_construction_spark.operators.corpus import ingest
from ir_index_construction_spark.operators.postings import (
    postings_from_tokenized, tokenize)
from ir_index_construction_spark.operators.topk import (
    make_batch_shard_scorer, make_shard_scorer)
from ir_index_construction_spark.text.extract import extract_zones
from ir_index_construction_spark.text.normalize import (
    doc_term_stats, parse_query, parse_query_with_negation)
from ir_index_construction_spark.text.porter import make_cached_stemmer

from reference import live_files, read_table

SAMPLE_DOCS = 200
SAMPLE_TERMS = 200
SLOTS = 2           # task slots of the local[2] session


def text_and_udfs(rows: list, rng: random.Random) -> dict:
    """text.* and udfs.tokenize_us_per_doc on a seeded page sample."""
    sample = rng.sample(rows, min(SAMPLE_DOCS, len(rows)))
    html = [r["html"] for r in sample]
    stemmer = make_cached_stemmer()
    t0 = time.perf_counter()
    zones = [extract_zones(h) for h in html]
    t1 = time.perf_counter()
    for z in zones:
        doc_term_stats(z, stemmer)
    t2 = time.perf_counter()
    batch = pd.DataFrame({"doc_id": np.arange(len(sample), dtype=np.int64),
                          "url": [r["url"] for r in sample], "html": html})
    fn = make_extract_tokenize(emit_text=False)
    t3 = time.perf_counter()
    for _ in fn(iter([batch])):
        pass
    t4 = time.perf_counter()
    n = len(sample)
    return {"text.extract_us_per_doc": (t1 - t0) * 1e6 / n,
            "text.term_stats_us_per_doc": (t2 - t1) * 1e6 / n,
            "udfs.tokenize_us_per_doc": (t4 - t3) * 1e6 / n}


def operators(spark, pages_path: str, postings, avgdl: float,
              udf_us_per_doc: float) -> dict:
    """corpus / postings / compress operators as materialized Spark jobs
    over the workload's write input, and the Arrow-boundary share of the
    tokenize job (its core time per doc minus the in-process UDF time)."""
    from ir_index_construction_spark.schemas import DOCUMENTS

    docs = spark.read.schema(DOCUMENTS).parquet(pages_path)
    t0 = time.perf_counter()
    with_ids, handle = ingest(docs)
    n_docs = with_ids.count()
    t1 = time.perf_counter()
    n_rows = postings_from_tokenized(tokenize(with_ids)).count()
    t2 = time.perf_counter()
    handle.unpersist()
    n_index = build_compressed_index(postings, avgdl, BM25Config(),
                                     IndexConfig()).count()
    t3 = time.perf_counter()
    return {"corpus.id_pass_s": t1 - t0,
            "postings.tokenize_s": t2 - t1,
            "postings.rows": n_rows,
            "udfs.boundary_us_per_doc":
                (t2 - t1) * SLOTS * 1e6 / max(n_docs, 1) - udf_us_per_doc,
            "compress.encode_s": t3 - t2,
            "compress.index_rows": n_index}


def codec(cat, rng: random.Random) -> dict:
    """Encode and decode a seeded sample of the catalog's posting lists
    with the index codec; bytes per posting of the live index table."""
    post = read_table(cat, "postings", ["term", "doc_id", "tf", "imp", "dl"])
    terms = sorted(post["term"].unique())
    pick = set(rng.sample(terms, min(SAMPLE_TERMS, len(terms))))
    s = post[post["term"].isin(pick)].sort_values(["term", "doc_id"])
    starts = np.flatnonzero(np.r_[True, s["term"].to_numpy()[1:]
                                  != s["term"].to_numpy()[:-1]])
    avgdl = float(s["dl"].mean())
    cfg, bm = IndexConfig(), BM25Config()
    t0 = time.perf_counter()
    chunks = encode_chunks_many(s["doc_id"], s["tf"], s["dl"], s["imp"],
                                starts, avgdl, bm.k1, bm.b,
                                cfg.block_size, cfg.chunk_blocks)
    t1 = time.perf_counter()
    for term_chunks in chunks:
        for c in term_chunks:
            decode_chunk(c["payload"], c["block_last_doc"], with_imp=True)
    t2 = time.perf_counter()
    idx = read_table(cat, "index", ["n_postings", "payload"])
    payload = sum(len(p) for p in idx["payload"])
    n = len(s)
    return {"codec.encode_ns_per_posting": (t1 - t0) * 1e9 / n,
            "codec.decode_ns_per_posting": (t2 - t1) * 1e9 / n,
            "codec.index_bytes_per_posting":
                payload / max(int(idx["n_postings"].sum()), 1)}


def _shard_frames(cat, terms: list) -> dict:
    """{shard: pandas frame} of the index rows holding ``terms`` — the
    groups the shard scorer receives inside applyInPandas."""
    snap = cat.current_snapshot("index")
    files = [os.path.join(cat.root, "index", f) for f in snap["files"]]
    table = pq.read_table(files, filters=pc.field("term").isin(terms))
    pdf = table.to_pandas()
    return {int(s): g for s, g in pdf.groupby("shard")}


def scorer(cat, ref, queries: list, batch: dict, k: int = 10) -> dict:
    """Single-query and batch shard scorers on collected shard frames,
    with idf from the reference statistics (same formula as the engine)."""
    stats = read_table(cat, "stats")
    n_docs, avgdl = int(stats["n_docs"][0]), float(stats["avgdl"][0])
    segs = read_table(cat, "index_segments")
    bound_scale = [(r.min_shard, r.max_shard, max(1.0, avgdl / r.built_avgdl))
                   for r in segs.itertuples() if r.built_avgdl > 0] or None

    def meta(terms):
        out = {}
        for t in dict.fromkeys(terms):
            if t in ref.terms:
                df = len(ref.terms[t][0])
                out[t] = (terms.count(t),
                          math.log((n_docs - df + 0.5) / (df + 0.5) + 1.0))
        return out

    rows, ms, total, decoded = [], [], 0, 0
    for q in queries:
        terms, is_bool, neg = parse_query_with_negation(q)
        m = meta(terms)
        if neg or not m:
            continue                   # negations run on the exhaustive plan
        ordered = list(m)
        frames = _shard_frames(cat, ordered)
        st: dict = {}
        fn = make_shard_scorer(m, ordered, k, is_bool, avgdl, BM25Config(),
                               stats=st, bound_scale=bound_scale)
        t0 = time.perf_counter()
        for g in frames.values():
            fn(g)
        ms.append((time.perf_counter() - t0) * 1e3)
        rows.append(sum(len(g) for g in frames.values()))
        total += st.get("blocks_total", 0)
        decoded += st.get("blocks_decoded", 0)

    specs = []
    for qid, text in batch.items():
        terms, is_bool = parse_query(text)
        m = meta(terms)
        if m and not (is_bool and len(m) < len(set(terms))):
            specs.append((qid, list(m), m, is_bool, len(m)))
    frames = _shard_frames(cat, sorted({t for s in specs for t in s[1]}))
    fn = make_batch_shard_scorer(specs, k, avgdl, BM25Config())
    t0 = time.perf_counter()
    for g in frames.values():
        fn(g)
    batch_us = (time.perf_counter() - t0) * 1e6 / max(len(specs), 1)
    return {"topk.index_rows_per_query": float(np.median(rows)) if rows else 0.0,
            "topk.scorer_ms_per_query": float(np.median(ms)) if ms else 0.0,
            "topk.blocks_decoded_ratio": decoded / total if total else 0.0,
            "topk.batch_scorer_us_per_query": batch_us}


def idf_lookup_ms(spark, cat, queries: list) -> float:
    """Median wall of an uncached query_term_idf lookup (one Spark job)."""
    from ir_index_construction_spark.plans.query import query_term_idf

    dictionary = cat.read(spark, "dictionary")
    n_docs = int(read_table(cat, "stats")["n_docs"][0])
    out = []
    for q in queries:
        terms = parse_query_with_negation(q)[0]
        t0 = time.perf_counter()
        query_term_idf(spark, dictionary, terms, n_docs, cache=None)
        out.append((time.perf_counter() - t0) * 1e3)
    return float(np.median(out))


def builder_ledger(cat, build_wall: float) -> dict:
    """builder.<stage>_s from the engine's own ``metrics`` ledger, and the
    build wall no stage timer covers."""
    led = read_table(cat, "metrics", ["stage", "wall_sec"])
    by = led.groupby("stage")["wall_sec"].sum()
    out = {f"builder.{st}_s": float(by.get(st, 0.0))
           for st in ("prepare", "tokenize", "stats", "encode", "segment")}
    out["builder.unattributed_s"] = build_wall - sum(out.values())
    return out


def catalog_shape(cat) -> dict:
    cur = cat._catalog_current()
    return {"catalog.commits": cur["version"] + 1,
            "catalog.live_files": sum(len(v) for v in live_files(cat).values())}


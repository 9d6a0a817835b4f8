"""The two benchmark workloads, each one seeded closed loop with one client
on a fixed ``local[2]`` session.

``build``  times a resumable catalog build (``IndexBuilder``, the path
           ``tools/submit_build.py`` runs), then serves the fresh catalog:
           a warm single-query loop through ``QueryService.run`` and one
           ``wand_topk_batch`` call.
``stream`` times one ``process_stream_batch(maintain_index=True)``
           micro-batch commit into an empty catalog (about 5% of its
           pages are re-crawls the commit drops), then single queries on
           the just-committed snapshot (cold idf cache) and one
           ``wand_topk_batch`` call.

Both workloads report the same end-to-end metrics; ``README.md`` maps each
one to what it measures in each workload.
"""

from __future__ import annotations

import os
import random
import time

from ir_index_construction_spark.config import BuildConfig, IndexConfig
from ir_index_construction_spark.operators import topk as topk_mod
from ir_index_construction_spark.operators.topk import wand_topk_batch
from ir_index_construction_spark.plans import query as query_mod
from ir_index_construction_spark.plans.builder import IndexBuilder
from ir_index_construction_spark.schemas import DOCUMENTS
from ir_index_construction_spark.sources.catalog import Catalog, Transaction
from ir_index_construction_spark.streaming.incremental import \
    process_stream_batch
from ir_index_construction_spark.text.normalize import defrag_url, is_valid_url
from submit_query import QueryService

import inputs
import layers
from reference import (Bm25Reference, df_checksum, live_files, read_table,
                       same_topk, table_bytes)
from spans import Interference, Tracer, median, peak_rss_mb

K = 10
# IndexBuilder settings of the build workload (see README.md: the library
# default of 16 term buckets commits 16 encode transactions, about 30 s
# of fixed cost per build on a 4-vCPU host, more than a run can afford)
BUILD_CFG = BuildConfig(index=IndexConfig(term_buckets=1))
BUILD_BATCHES = 1
# fresh queries per stream run: the first pays the snapshot load, so
# eight keep the median among queries that do not
FRESH_QUERIES = 8
# batch calls per run; the fastest one is reported
BATCH_CALLS = 2


class Run:
    """One benchmark run: the session, its tracer and the operation ledger."""

    def __init__(self, spark, workdir: str, rng: random.Random,
                 seconds: float, scale: inputs.Scale, traced: bool,
                 t_start: float, gen_s: float, tamper=None):
        self.spark = spark
        self.workdir = workdir
        self.rng = rng                # the run's one seeded generator
        self.seconds = seconds
        self.scale = scale
        self.tracer = Tracer(spark, traced)
        self.interference = Interference(spark)
        self.t_start = t_start
        self.gen_s = gen_s            # input generation, excluded from setup_s
        self.setup_s = 0.0
        self.tamper = tamper          # self-tests plant wrong results here
        self.attempted = 0
        self.failed = 0
        self.errors: list = []
        self.metrics: dict = {}       # end-to-end: name -> (value, unit)
        self.layers: dict = {}        # per-layer: name -> value
        self.detail: dict = {"inputs": {}, "samples": {}, "timeline_s": {}}
        self.idf_requested = 0
        self.idf_cached = 0

    # ---- operation ledger ----
    def op(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.errors.append(what)

    def first_timed(self) -> None:
        """Close set-up: process start to the first timed operation,
        less the time spent generating inputs."""
        self.mark("first_timed")
        self.setup_s += time.perf_counter() - self.t_start - self.gen_s

    def mark(self, event: str) -> None:
        """Seconds since process start, per event, for the detail line."""
        self.detail["timeline_s"][event] = round(
            time.perf_counter() - self.t_start, 2)

    # ---- traced-run wrappers around engine entry points ----
    def instrument(self) -> None:
        tr = self.tracer
        tr.wrap(Transaction, "commit", "sources.catalog")
        tr.wrap(QueryService, "_refresh", "tools.submit_query")
        for mod in (topk_mod, query_mod):
            tr.wrap(mod, "query_term_idf", "plans.query", self._count_idf)

    def _count_idf(self, spark, dictionary, terms, n_docs, cache=None):
        if cache is not None:            # the batch route has no cache
            wanted = set(terms)
            self.idf_requested += len(wanted)
            self.idf_cached += sum(t in cache for t in wanted)

    # ---- queries ----
    def check_query(self, ref: Bm25Reference, query: str, rows: list) -> None:
        if self.tamper is not None:
            rows = self.tamper(rows)
        expected, scores = ref.topk(query, K)
        self.op(same_topk(rows, expected, scores), f"query {query!r}")

    def single_queries(self, svc: QueryService, ref: Bm25Reference,
                       queries: list, seconds: float, min_count: int,
                       label: str) -> list:
        """Closed loop over ``queries`` (cycling) for at least ``seconds``
        and ``min_count`` queries, in whole blocks of ``min_count``;
        returns [(query, latency_s)]."""
        out = []
        t_end = time.perf_counter() + seconds
        i = 0
        while i < min_count or time.perf_counter() < t_end or i % min_count:
            q = queries[i % len(queries)]
            i += 1
            t0 = time.perf_counter()
            try:
                with self.tracer.span(label, "tools.submit_query", jobs=True):
                    rows = svc.run(q, K, "wand", False).collect()
            except Exception as e:  # a failed query is a failed operation
                self.op(False, f"query {q!r}: {e!r}")
                continue
            out.append((q, time.perf_counter() - t0))
            self.check_query(ref, q, [(r["doc_id"], r["score"]) for r in rows])
        return out

    def batch(self, cat: Catalog, ref: Bm25Reference, queries: dict) -> float:
        """The batch call as ``submit_query.py --batch`` makes it, run
        BATCH_CALLS times; returns the fastest call's wall seconds (steal
        only ever slows a call)."""
        spark = self.spark
        stats = cat.read(spark, "stats").collect()[0]
        walls = []
        for _ in range(BATCH_CALLS):
            with self.interference.phase(f"batch{len(walls)}"), \
                    self.tracer.span("batch", "operators.topk", jobs=True):
                t0 = time.perf_counter()
                try:
                    rows = wand_topk_batch(
                        cat.read(spark, "index"), cat.read(spark, "dictionary"),
                        cat.read(spark, "docs"), queries, stats["n_docs"],
                        float(stats["avgdl"]), k=K,
                    ).orderBy("query_id", "rank").collect()
                except Exception as e:
                    self.op(False, f"batch: {e!r}")
                    continue
                walls.append(time.perf_counter() - t0)
            by_q: dict = {}
            for r in rows:
                by_q.setdefault(r["query_id"], []).append(
                    (r["doc_id"], r["score"]))
            for qid, text in queries.items():
                self.check_query(ref, text, by_q.get(qid, []))
        self.detail["samples"]["batch_s"] = [round(w, 3) for w in walls]
        return min(walls, default=float("inf"))

    # ---- catalog facts ----
    def catalog_metrics(self, cat: Catalog) -> int:
        n_docs = len(read_table(cat, "docs", ["doc_id"]))
        total = sum(os.path.getsize(f) for fs in live_files(cat).values()
                    for f in fs)
        self.metrics["index_bytes_per_doc"] = (
            table_bytes(cat, "index") / n_docs, "B/doc")
        self.metrics["catalog_bytes_per_doc"] = (total / n_docs, "B/doc")
        return n_docs

    def serve_metrics(self, lat: list, batch_wall: float, n_batch: int) -> None:
        self.metrics["query_p50_ms"] = (median(t for _, t in lat) * 1e3, "ms")
        self.metrics["batch_queries_per_s"] = (n_batch / batch_wall, "queries/s")
        self.detail["samples"]["query_ms"] = [round(t * 1e3, 1) for _, t in lat]

    def query_layers(self, cat: Catalog, ref: Bm25Reference, mix: list,
                     batch: dict, lat: list) -> None:
        """Per-layer query metrics shared by both workloads."""
        tr, spark = self.tracer, self.spark
        refresh = tr.durations("_refresh")
        commits = tr.durations("commit")
        jobs = tr.jobs.get("query", [(0, 0)])
        exhaustive = [t for q, t in lat if " -" in q]
        self.layers.update({
            "spark.jobs_per_query": median(j for j, _ in jobs),
            "spark.tasks_per_query": median(t for _, t in jobs),
            "catalog.commit_ms_p50": median(commits) * 1e3,
            "catalog.snapshot_load_ms": refresh[0] * 1e3 if refresh else 0.0,
            "query.idf_cache_hit_ratio":
                self.idf_cached / max(self.idf_requested, 1),
            "query.exhaustive_ms_p50": median(exhaustive) * 1e3,
        })
        self.layers.update(layers.catalog_shape(cat))
        self.layers.update(layers.scorer(cat, ref, mix, batch, K))
        scorer_ms = self.layers["topk.scorer_ms_per_query"]
        wand = [t for q, t in lat if " -" not in q]
        self.layers["topk.non_scorer_ms_per_query"] = (
            median(wand) * 1e3 - scorer_ms)
        self.layers["query.idf_lookup_ms"] = layers.idf_lookup_ms(
            spark, cat, mix)

    def write_layers(self, rows: list, pages_path: str, cat: Catalog) -> None:
        """Layers timed in-process or as standalone Spark jobs."""
        lay = self.layers
        lay.update(layers.text_and_udfs(rows, self.rng))
        postings = cat.read(self.spark, "postings")
        avgdl = float(read_table(cat, "stats")["avgdl"][0])
        lay.update(layers.operators(self.spark, pages_path, postings, avgdl,
                                    lay["udfs.tokenize_us_per_doc"]))
        lay.update(layers.codec(cat, self.rng))

    def finish_layers(self, timed_wall: float) -> None:
        self.layers["spark.gc_ms"] = float(self.interference.gc_ms())
        self.layers["trace.overhead_pct"] = (
            100.0 * self.tracer.overhead_s / max(timed_wall, 1e-9))
        self.detail["self_time_s"] = {
            k: round(v, 4) for k, v in self.tracer.self_time().items()}


def run_build(r: Run, pages_path: str, rows: list) -> None:
    spark, sc = r.spark, r.scale
    cat = Catalog(os.path.join(r.workdir, "catalog"))
    expected_docs = len(inputs.indexable_urls(rows))
    r.detail["inputs"].update(pages=len(rows), unique_docs=expected_docs,
                              n_batches=BUILD_BATCHES,
                              term_buckets=BUILD_CFG.index.term_buckets)
    r.instrument()
    documents = spark.read.schema(DOCUMENTS).parquet(pages_path)
    r.first_timed()
    with r.interference.phase("build"), \
            r.tracer.span("build", "plans.builder", jobs=True):
        t0 = time.perf_counter()
        IndexBuilder(cat, BUILD_CFG, n_batches=BUILD_BATCHES).build(documents)
        build_wall = time.perf_counter() - t0

    # untimed checks: doc count, stats, df table against the postings
    n_docs = r.catalog_metrics(cat)
    stats = read_table(cat, "stats")
    dictionary = read_table(cat, "dictionary", ["term", "df"])
    post = read_table(cat, "postings", ["term"])
    counted = post.groupby("term").size().rename("df").reset_index()
    checksum = df_checksum(dictionary)
    r.op(n_docs == expected_docs and int(stats["n_docs"][0]) == n_docs
         and checksum == df_checksum(counted),
         f"build: {n_docs} docs (expected {expected_docs}), df checksum")
    r.detail["df_checksum"] = checksum
    r.metrics["index_docs_per_s"] = (n_docs / build_wall, "docs/s")

    # serve the fresh catalog; set-up warms the snapshot's idf cache with
    # one OR query over every term of the mix and compiles both plans
    t_gen = time.perf_counter()
    ref = Bm25Reference(cat)
    terms = inputs.query_terms(dictionary, sc.top_terms)
    mix = inputs.single_query_mix(r.rng, terms, sc.single_queries)
    batch = inputs.batch_queries(r.rng, terms, sc.batch_queries)
    warmup = inputs.warmup_queries(mix)
    r.gen_s += time.perf_counter() - t_gen
    r.detail["inputs"].update(single_queries=mix, batch_queries=len(batch))
    t0 = time.perf_counter()
    svc = QueryService(spark, cat)
    r.single_queries(svc, ref, warmup, 0.0, len(warmup), "warmup")
    r.setup_s += time.perf_counter() - t0
    r.mark("warmed")
    r.idf_requested = r.idf_cached = 0
    with r.interference.phase("queries"):
        lat = r.single_queries(svc, ref, mix * 2, r.seconds, 2 * len(mix),
                               "query")
    batch_wall = r.batch(cat, ref, batch)
    r.serve_metrics(lat, batch_wall, len(batch))
    r.layers["spark.peak_rss_mb"] = peak_rss_mb(r.detail.setdefault("rss_mb", {}))

    if r.tracer.enabled:
        r.layers.update(layers.builder_ledger(cat, build_wall))
        r.layers["spark.jobs_per_build"] = float(r.tracer.jobs["build"][0][0])
        r.layers.update({"spark.jobs_per_commit": 0.0,
                         "incremental.commit_s_p50": 0.0,
                         "incremental.segments": 0.0,
                         "incremental.recrawls_dropped": 0.0})
        r.query_layers(cat, ref, mix, batch, lat)
        r.write_layers(rows, pages_path, cat)
        r.finish_layers(build_wall + sum(t for _, t in lat)
                        + sum(r.detail["samples"]["batch_s"]))


def run_stream(r: Run, batch_path: str, batch_rows: list,
               n_recrawls: int) -> None:
    spark, sc = r.spark, r.scale
    cat = Catalog(os.path.join(r.workdir, "catalog"))
    expected_docs = len(inputs.indexable_urls(batch_rows))
    r.detail["inputs"].update(pages=len(batch_rows), recrawls=n_recrawls,
                              unique_docs=expected_docs)
    r.instrument()
    svc = QueryService(spark, cat)
    documents = spark.read.schema(DOCUMENTS).parquet(batch_path)
    r.first_timed()
    with r.interference.phase("commit"), \
            r.tracer.span("micro_batch", "streaming.incremental", jobs=True):
        t0 = time.perf_counter()
        process_stream_batch(spark, cat, "perfbench", documents, 0,
                             maintain_index=True)
        commit_wall = time.perf_counter() - t0
    n_docs = r.catalog_metrics(cat)
    r.op(n_docs == expected_docs,
         f"commit: {n_docs} docs (expected {expected_docs})")
    r.metrics["index_docs_per_s"] = (n_docs / commit_wall, "docs/s")

    t_gen = time.perf_counter()
    ref = Bm25Reference(cat)
    terms = inputs.query_terms(read_table(cat, "dictionary", ["term", "df"]),
                               sc.top_terms)
    fresh = inputs.or_queries(r.rng, terms, 100)
    batch = inputs.batch_queries(r.rng, terms, sc.batch_queries)
    r.gen_s += time.perf_counter() - t_gen
    with r.interference.phase("fresh_queries"):
        lat = r.single_queries(svc, ref, fresh, r.seconds,
                               FRESH_QUERIES, "query")
    r.detail["inputs"].update(single_queries=[q for q, _ in lat],
                              batch_queries=len(batch))
    batch_wall = r.batch(cat, ref, batch)
    r.serve_metrics(lat, batch_wall, len(batch))
    r.layers["spark.peak_rss_mb"] = peak_rss_mb(r.detail.setdefault("rss_mb", {}))

    if r.tracer.enabled:
        segs = read_table(cat, "index_segments")
        r.layers.update({f"builder.{s}_s": 0.0 for s in
                         ("prepare", "tokenize", "stats", "encode", "segment",
                          "unattributed")})
        r.layers.update({
            "spark.jobs_per_build": 0.0,
            "spark.jobs_per_commit": float(r.tracer.jobs["micro_batch"][0][0]),
            "incremental.commit_s_p50": commit_wall,
            "incremental.segments": float(len(segs)),
            "incremental.recrawls_dropped": float(
                sum(is_valid_url(defrag_url(p["url"])) for p in batch_rows)
                - n_docs),
        })
        r.query_layers(cat, ref, [q for q, _ in lat], batch, lat)
        r.write_layers(batch_rows, batch_path, cat)
        r.finish_layers(commit_wall + sum(t for _, t in lat)
                        + sum(r.detail["samples"]["batch_s"]))

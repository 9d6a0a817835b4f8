"""Benchmark of the index engine: one seeded workload per run.

    python3 perfbench/run.py --workload build|stream --seed N \\
        --seconds S --trace 0|1

Run from the repository root.  Each run starts its own ``local[2]``
session (``get_spark(cpus=2, shuffle_partitions=8)``), generates and stages
its inputs from ``--seed``, runs the workload, checks every result against
an independent BM25 computation, and prints as its last stdout line

    {"correct": ..., "attempted": N, "failed": F, "metrics": {...}}

with the end-to-end metrics (``--trace 0``) or the per-layer metrics
(``--trace 1``, spans written to ``.perfbench_out/traces/``).  The line
before it holds the run's details: input properties, latency samples,
per-phase interference and, traced, self time per layer.  See README.md.
"""

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import random  # noqa: E402
import shutil  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import threading  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

END_TO_END = {
    "setup_s": "s",
    "index_docs_per_s": "docs/s",
    "index_bytes_per_doc": "B/doc",
    "catalog_bytes_per_doc": "B/doc",
    "query_p50_ms": "ms",
    "batch_queries_per_s": "queries/s",
}

PER_LAYER = {
    "spark.jobs_per_build": "count",
    "spark.jobs_per_query": "count",
    "spark.jobs_per_commit": "count",
    "spark.tasks_per_query": "count",
    "spark.gc_ms": "ms",
    "spark.peak_rss_mb": "MB",
    "text.extract_us_per_doc": "us",
    "text.term_stats_us_per_doc": "us",
    "udfs.tokenize_us_per_doc": "us",
    "udfs.boundary_us_per_doc": "us",
    "codec.encode_ns_per_posting": "ns",
    "codec.decode_ns_per_posting": "ns",
    "codec.index_bytes_per_posting": "B",
    "corpus.id_pass_s": "s",
    "postings.tokenize_s": "s",
    "postings.rows": "count",
    "compress.encode_s": "s",
    "compress.index_rows": "count",
    "builder.prepare_s": "s",
    "builder.tokenize_s": "s",
    "builder.stats_s": "s",
    "builder.encode_s": "s",
    "builder.segment_s": "s",
    "builder.unattributed_s": "s",
    "catalog.commits": "count",
    "catalog.commit_ms_p50": "ms",
    "catalog.snapshot_load_ms": "ms",
    "catalog.live_files": "count",
    "query.idf_lookup_ms": "ms",
    "query.idf_cache_hit_ratio": "ratio",
    "query.exhaustive_ms_p50": "ms",
    "topk.index_rows_per_query": "count",
    "topk.scorer_ms_per_query": "ms",
    "topk.blocks_decoded_ratio": "ratio",
    "topk.batch_scorer_us_per_query": "us",
    "topk.non_scorer_ms_per_query": "ms",
    "incremental.commit_s_p50": "s",
    "incremental.segments": "count",
    "incremental.recrawls_dropped": "count",
    "trace.overhead_pct": "%",
}

WORKLOADS = ("build", "stream")


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True,
                    help="length of each workload's single-query loop")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tiny", action="store_true",
                    help="self-test input sizes")
    return ap.parse_args(argv)


def _environment(out_dir: str) -> None:
    """Import paths for this process and Spark's Python workers; keep
    every scratch file the JVM and Python write inside the repository."""
    for p in (os.path.join(ROOT, "tools"), ROOT, HERE):
        if p not in sys.path:
            sys.path.insert(0, p)
    tmp = os.path.join(out_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep)
                  if p])
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = (f"-Djava.io.tmpdir={tmp} "
                                       "-XX:-UsePerfData")


def _stop(spark) -> None:
    """Stop the session, then end the JVM and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        gateway.shutdown()
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    # a later session in this process launches a fresh JVM
    SparkContext._gateway = SparkContext._jvm = None


def _start_spark(box: dict) -> None:
    try:
        from ir_index_construction_spark.session import get_spark

        spark = get_spark(cpus=2, shuffle_partitions=8)
        spark.sparkContext.setLogLevel("ERROR")
        box["spark"], box["ready"] = spark, time.perf_counter()
    except Exception as e:  # re-raised by the main thread
        box["error"] = e


def measure(args, tamper=None) -> dict:
    """Run one workload; returns the result object printed last."""
    out_dir = os.path.join(ROOT, ".perfbench_out")
    workdir = os.path.join(out_dir, f"run-{args.workload}-{args.seed}-{os.getpid()}")
    _environment(out_dir)
    # the session starts while this thread imports, generates and stages
    spark_box: dict = {}
    starter = threading.Thread(target=_start_spark, args=(spark_box,))
    starter.start()
    staged = False
    try:
        import inputs
        import workloads

        scale = inputs.TINY if args.tiny else inputs.FULL
        rng = random.Random(args.seed)
        if args.workload == "build":
            rows = inputs.pages(range(scale.build_pages), args.seed)
        else:
            rows, n_re = inputs.stream_batch(rng, args.seed,
                                             scale.stream_pages,
                                             scale.recrawl_share)
        pages_path = inputs.stage(rows, os.path.join(workdir, "pages"))
        t_gen = time.perf_counter()
        staged = True
    finally:
        starter.join()
        if not staged and "spark" in spark_box:
            _stop(spark_box["spark"])
    if "error" in spark_box:
        raise spark_box["error"]
    spark, t_ready = spark_box["spark"], spark_box["ready"]
    # set-up excludes only the input generation the session start did
    # not hide
    run = workloads.Run(spark, workdir, rng, args.seconds, scale,
                        bool(args.trace), T_START, max(0.0, t_gen - t_ready),
                        tamper)
    run.detail["timeline_s"].update(session=round(t_ready - T_START, 2),
                                    inputs=round(t_gen - T_START, 2))
    try:
        if args.workload == "build":
            workloads.run_build(run, pages_path, rows)
        else:
            workloads.run_stream(run, pages_path, rows, n_re)
    finally:
        run.mark("measured")
        run.tracer.close(os.path.join(
            out_dir, "traces", f"{args.workload}-{args.seed}.jsonl")
            if args.trace else None)
        _stop(spark)
        shutil.rmtree(workdir, ignore_errors=True)
        run.mark("stopped")

    run.metrics["setup_s"] = (run.setup_s, "s")
    if args.trace:
        metrics = {k: {"value": float(run.layers[k]), "unit": u}
                   for k, u in PER_LAYER.items()}
    else:
        metrics = {k: {"value": float(run.metrics[k][0]), "unit": u}
                   for k, u in END_TO_END.items()}
    run.detail.update(
        workload=args.workload, seed=args.seed, seconds=args.seconds,
        trace=args.trace, errors=run.errors[:20],
        interference=run.interference.phases,
        end_to_end={k: round(v, 4) for k, (v, _) in run.metrics.items()})
    return {"detail": run.detail,
            "result": {"correct": run.failed == 0,
                       "attempted": run.attempted, "failed": run.failed,
                       "metrics": metrics}}


def main(argv=None) -> int:
    args = parse_args(argv)
    out = measure(args)
    print(json.dumps({"detail": out["detail"]}, default=str))
    print(json.dumps(out["result"]))
    sys.stdout.flush()
    return 0


if __name__ == "__main__":
    sys.exit(main())

"""Self-tests of the benchmark: tiny-corpus smoke runs of every workload,
traced and untraced, and a planted wrong top-k that must be counted as a
failed operation.

    python3 -m pytest perfbench -q -p no:cacheprovider

Each smoke run starts its own Spark session (about a minute each).
"""

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import run  # noqa: E402
from reference import same_topk, swap_first_distinct  # noqa: E402


def _bench_json() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_benchmark_json_names_every_printed_metric():
    spec = _bench_json()
    assert [w["name"] for w in spec["workloads"]] == list(run.WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER


def test_topk_comparison():
    ranked = [(7, 3.0), (2, 2.0), (9, 2.0), (4, 1.0)]
    scores = dict(ranked)
    assert same_topk(ranked, ranked, scores)
    # tied docs may come in either order
    assert same_topk([(7, 3.0), (9, 2.0), (2, 2.0), (4, 1.0)], ranked, scores)
    assert not same_topk(swap_first_distinct(ranked), ranked, scores)
    assert not same_topk(ranked[:3], ranked, scores)
    assert not same_topk([(7, 3.0), (5, 2.0), (9, 2.0), (4, 1.0)], ranked,
                         scores)


def _smoke(workload: str, trace: int) -> dict:
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", "5", "--seconds", "1", "--trace", str(trace), "--tiny"],
        cwd=ROOT, capture_output=True, text=True, timeout=300)
    assert out.returncode == 0, out.stderr[-3000:]
    lines = out.stdout.strip().splitlines()
    return {"detail": json.loads(lines[-2])["detail"],
            "result": json.loads(lines[-1])}


@pytest.mark.parametrize("workload", run.WORKLOADS)
def test_smoke_prints_every_metric(workload):
    details = []
    for trace, names in ((0, run.END_TO_END), (1, run.PER_LAYER)):
        out = _smoke(workload, trace)
        res = out["result"]
        assert set(res) == {"correct", "attempted", "failed", "metrics"}
        assert res["correct"] and res["failed"] == 0 and res["attempted"] > 0
        assert {k: v["unit"] for k, v in res["metrics"].items()} == names
        assert all(isinstance(v["value"], float)
                   for v in res["metrics"].values())
        details.append(out["detail"])
    # the same seed gives the same inputs, traced or not
    assert details[0]["inputs"] == details[1]["inputs"]
    if workload == "build":
        # two builds of one seed index the same (term, df) table
        assert details[0]["df_checksum"] == details[1]["df_checksum"]


def test_planted_swap_is_a_failed_operation():
    args = run.parse_args(["--workload", "build", "--seed", "5",
                           "--seconds", "1", "--tiny"])
    res = run.measure(args, tamper=swap_first_distinct)["result"]
    assert not res["correct"]
    assert 0 < res["failed"] < res["attempted"]

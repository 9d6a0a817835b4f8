"""Spans, Spark job counts and interference probes, all recorded from
outside the engine.

A ``Tracer`` keeps spans (name, layer, start, end, parent, operation id)
in memory and writes them as JSON lines when the run ends.  Spans come
from the benchmark's own code: around each timed operation, and, in a
traced run, around calls into the engine's public functions (``wrap``
swaps a module attribute for a timing wrapper and puts it back on
``close``).  With tracing off every method is a no-op, so the timed
phases run the same code with nothing wrapped.
"""

from __future__ import annotations

import contextlib
import functools
import json
import os
import statistics
import time
from collections import defaultdict

from bench import host_busy_sec, host_steal_sec, jvm_gc_ms, proc_tree_cpu_sec


class Tracer:
    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.spans: list = []
        self.jobs: dict = {}           # span name -> [(n_jobs, n_tasks)]
        self.overhead_s = 0.0          # time spent inside the tracer itself
        self._stack: list = []
        self._op = 0
        self._restore: list = []

    @contextlib.contextmanager
    def span(self, name: str, layer: str, jobs: bool = False):
        """Time the body as one span; ``jobs=True`` also labels its Spark
        jobs with a job group and counts the jobs and tasks it ran."""
        if not self.enabled:
            yield
            return
        t0 = time.perf_counter()
        if not self._stack:
            self._op += 1
        rec = {"id": len(self.spans), "op": self._op, "name": name,
               "layer": layer,
               "parent": self._stack[-1]["id"] if self._stack else None}
        self.spans.append(rec)
        self._stack.append(rec)
        sc = self.spark.sparkContext
        group = f"perfbench-{rec['id']}"
        if jobs:
            sc.setJobGroup(group, name)
        t1 = time.perf_counter()
        self.overhead_s += t1 - t0
        try:
            yield
        finally:
            t2 = time.perf_counter()
            rec["start"], rec["end"] = t1, t2
            self._stack.pop()
            if jobs:
                tracker = sc.statusTracker()
                ids = tracker.getJobIdsForGroup(group)
                tasks = 0
                for j in ids:
                    info = tracker.getJobInfo(j)
                    for s in (info.stageIds if info else ()):
                        st = tracker.getStageInfo(s)
                        tasks += st.numCompletedTasks if st else 0
                self.jobs.setdefault(name, []).append((len(ids), tasks))
                rec["jobs"], rec["tasks"] = len(ids), tasks
                sc.setLocalProperty("spark.jobGroup.id", None)
            self.overhead_s += time.perf_counter() - t2

    def wrap(self, owner, attr: str, layer: str, before=None) -> None:
        """Record a span around every call of ``owner.attr``; ``before``,
        if given, sees each call's arguments first."""
        if not self.enabled:
            return
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            if before is not None:
                before(*args, **kwargs)
            with self.span(attr, layer):
                return orig(*args, **kwargs)

        setattr(owner, attr, traced)
        self._restore.append((owner, attr, orig))

    def durations(self, name: str) -> list:
        return [s["end"] - s["start"] for s in self.spans
                if s["name"] == name and "end" in s]

    def self_time(self) -> dict:
        """{layer: seconds} of span time not covered by child spans."""
        child = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None and "end" in s:
                child[s["parent"]] += s["end"] - s["start"]
        out = defaultdict(float)
        for s in self.spans:
            if "end" in s:
                out[s["layer"]] += s["end"] - s["start"] - child[s["id"]]
        return dict(out)

    def close(self, path: str | None) -> None:
        for owner, attr, orig in reversed(self._restore):
            setattr(owner, attr, orig)
        self._restore.clear()
        if self.enabled and path:
            os.makedirs(os.path.dirname(path), exist_ok=True)
            with open(path, "w") as f:
                for s in self.spans:
                    f.write(json.dumps(s) + "\n")


class Interference:
    """Per-phase record of what else used the host while we ran: busy
    cores outside our process tree, hypervisor steal, and JVM GC time
    (the probes bench.py defines)."""

    def __init__(self, spark):
        self.spark = spark
        self.phases: dict = {}

    @contextlib.contextmanager
    def phase(self, name: str):
        busy0, cpu0, steal0 = host_busy_sec(), proc_tree_cpu_sec(), host_steal_sec()
        gc0, t0 = jvm_gc_ms(self.spark), time.time()
        try:
            yield
        finally:
            dt = max(time.time() - t0, 1e-9)
            ours = proc_tree_cpu_sec() - cpu0
            ncpu = os.cpu_count()
            self.phases[name] = {
                "wall_s": round(dt, 3),
                "own_cores": round(ours / dt, 2),
                "external_busy_cores": round(min(ncpu, max(
                    0.0, (host_busy_sec() - busy0 - ours) / dt)), 2),
                "steal_cores": round(min(ncpu, (host_steal_sec() - steal0) / dt), 2),
                "jvm_gc_ms": jvm_gc_ms(self.spark) - gc0,
            }

    def gc_ms(self) -> int:
        return sum(p["jvm_gc_ms"] for p in self.phases.values())


def peak_rss_mb(detail: dict | None = None) -> float:
    """Sum over this process tree (driver Python, JVM, Python workers) of
    each process's peak resident set (VmHWM); ``detail`` receives the
    per-process values."""
    parent, hwm, name = {}, {}, {}
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/status") as f:
                fields = dict(line.split(":", 1) for line in f if ":" in line)
            parent[int(pid)] = int(fields["PPid"])
            hwm[int(pid)] = int(fields.get("VmHWM", "0 kB").split()[0])
            name[int(pid)] = fields["Name"].strip()
        except (OSError, KeyError, ValueError):
            continue
    children = defaultdict(list)
    for pid, ppid in parent.items():
        children[ppid].append(pid)
    total, stack = 0, [os.getpid()]
    while stack:
        pid = stack.pop()
        total += hwm.get(pid, 0)
        stack.extend(children[pid])
        if detail is not None and pid in hwm:
            detail[f"{name[pid]}-{pid}"] = round(hwm[pid] / 1024.0, 1)
    return total / 1024.0


def median(values) -> float:
    values = list(values)
    return float(statistics.median(values)) if values else 0.0

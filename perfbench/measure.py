"""Timing statistics and the traced-run span recorder.

The statistics helpers are pure functions so the benchmark's own tests can
check them without Spark. ``Tracer`` records one span per call into a
layer, tags the Spark jobs the call runs with the span id as their job
group, and reads each span's Spark counters from the status store.
"""

from __future__ import annotations

import json
import math
import os
import time
from contextlib import contextmanager

STAGE_COUNTERS = (
    "stages", "tasks", "input_b", "output_b", "shuffle_write_b", "spill_b",
    "task_run_s", "gc_s",
)


def median(xs) -> float:
    s = sorted(xs)
    if not s:
        raise ValueError("median of no samples")
    m = len(s) // 2
    return s[m] if len(s) % 2 else (s[m - 1] + s[m]) / 2


def percentile(xs, p: float) -> float:
    """Linear-interpolated ``p``-th percentile (0-100)."""
    s = sorted(xs)
    if not s:
        raise ValueError("percentile of no samples")
    k = (len(s) - 1) * p / 100.0
    lo = math.floor(k)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (k - lo)


TAIL_CANDIDATES = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)


def tail_percentile(xs) -> tuple[float, float] | None:
    """(p, value) for the highest percentile in ``TAIL_CANDIDATES`` that has
    at least ten samples beyond it, or None when even the median lacks ten
    (fewer than 20 samples)."""
    n = len(xs)
    for p in TAIL_CANDIDATES:
        if n * (100.0 - p) / 100.0 >= 10 - 1e-9:
            return p, percentile(xs, p)
    return None


_TICK = os.sysconf("SC_CLK_TCK")


def tree_cpu_s(root: int) -> float:
    """CPU seconds used so far by process ``root`` and its descendants (the
    Spark JVM and its Python workers), including exited children they
    reaped. Time the host steals from the machine is not counted, so this
    measures work where wall time also measures the neighbours' load."""
    parent: dict[int, int] = {}
    ticks: dict[int, int] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:  # exited while listing
            continue
        pid = int(name)
        parent[pid] = int(fields[1])
        ticks[pid] = sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    total = 0
    for pid, t in ticks.items():
        p = pid
        while p in parent and p != root:
            p = parent[p]
        if p == root:
            total += t
    return total / _TICK


def stage_delta(before: dict, after: dict) -> dict:
    """Counters a window added, from two status-store snapshots keyed by
    stage id (``{stage_id: {counter: value}}``).

    Each stage contributes what it gained between the snapshots; a stage
    only in ``after`` contributes all of it. A stage the store evicted
    between the snapshots is in ``before`` only and contributes nothing.
    Summing per-stage gains keeps every total non-negative, where diffing
    two sums over the retained stages goes negative once eviction starts."""
    out = {c: 0 for c in STAGE_COUNTERS}
    for sid, cur in after.items():
        prev = before.get(sid, {})
        for c in STAGE_COUNTERS:
            out[c] += max(cur.get(c, 0) - prev.get(c, 0), 0)
    return out


class _StatusStore:
    """Reads stage counters and codegen totals from the driver JVM."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        jsc = self.sc._jsc.sc()
        self.store = jsc.statusStore()
        self.codegen = (
            spark._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
        )

    def stages(self, stage_ids) -> dict:
        snap = {}
        for sid in stage_ids:
            s = self.store.lastStageAttempt(int(sid))
            if s.status().toString() == "SKIPPED":
                continue
            snap[int(sid)] = {
                "stages": 1,
                "tasks": s.numCompleteTasks(),
                "input_b": s.inputBytes(),
                "output_b": s.outputBytes(),
                "shuffle_write_b": s.shuffleWriteBytes(),
                "spill_b": s.memoryBytesSpilled() + s.diskBytesSpilled(),
                "task_run_s": s.executorRunTime() / 1000.0,
                "gc_s": s.jvmGcTime() / 1000.0,
            }
        return snap

    def group_stage_ids(self, group: str) -> tuple[int, list[int]]:
        tracker = self.sc.statusTracker()
        jobs = tracker.getJobIdsForGroup(group)
        sids: set[int] = set()
        for j in jobs:
            info = tracker.getJobInfo(j)
            if info is not None:
                sids.update(int(s) for s in info.stageIds)
        return len(jobs), sorted(sids)

    def codegen_totals(self) -> tuple[int, float]:
        """(compiles, total compile ms) since JVM start. The histogram keeps
        every sample until its 1028-sample reservoir fills; past that the
        total is estimated as mean x count."""
        snap = self.codegen.getSnapshot()
        return self.codegen.getCount(), snap.getMean() * self.codegen.getCount()


class Tracer:
    """Spans kept in memory and written once, by ``dump``.

    A span has a name, start and end (seconds since the tracer began), its
    parent span, the operation id of the benchmark operation it belongs to,
    and the Spark counters of the jobs run under its job group. Only leaf
    spans (calls into a layer) run jobs; a parent's counters are the sum of
    its children's, computed by ``rollup``."""

    def __init__(self, spark, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self.overhead_s = 0.0
        self._stack: list[dict] = []
        self._t0 = time.perf_counter()
        self._store = _StatusStore(spark) if enabled else None
        self._sc = spark.sparkContext

    @contextmanager
    def span(self, name: str, op: int | None = None):
        if not self.enabled:
            yield None
            return
        b0 = time.perf_counter()
        parent = self._stack[-1] if self._stack else None
        sp = {
            "id": len(self.spans),
            "name": name,
            "parent": parent["id"] if parent else None,
            "op": op if op is not None else (parent["op"] if parent else None),
        }
        self.spans.append(sp)
        self._stack.append(sp)
        group = f"perfbench-{sp['id']}"
        self._sc.setJobGroup(group, name, False)
        cg0 = self._store.codegen_totals()
        self.overhead_s += time.perf_counter() - b0
        sp["start"] = time.perf_counter() - self._t0
        try:
            yield sp
        finally:
            sp["end"] = time.perf_counter() - self._t0
            b1 = time.perf_counter()
            self._stack.pop()
            if parent is not None:
                self._sc.setJobGroup(f"perfbench-{parent['id']}", parent["name"], False)
            else:
                self._sc.setLocalProperty("spark.jobGroup.id", None)
                self._sc.setLocalProperty("spark.job.description", None)
            # the group is new, so everything its stages hold is this span's
            n_jobs, sids = self._store.group_stage_ids(group)
            counters = stage_delta({}, self._store.stages(sids))
            cg1 = self._store.codegen_totals()
            counters["jobs"] = n_jobs
            counters["codegen_n"] = cg1[0] - cg0[0]
            counters["codegen_ms"] = max(cg1[1] - cg0[1], 0.0)
            sp["counters"] = counters
            self.overhead_s += time.perf_counter() - b1

    def rollup(self) -> dict[int, dict]:
        """Inclusive counters per span id (own jobs plus all descendants')."""
        incl = {sp["id"]: dict(sp.get("counters", {})) for sp in self.spans}
        for sp in reversed(self.spans):  # children always follow parents
            if sp["parent"] is not None:
                tgt = incl[sp["parent"]]
                for k, v in incl[sp["id"]].items():
                    tgt[k] = tgt.get(k, 0) + v
        return incl

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump({"overhead_s": self.overhead_s, "spans": self.spans}, fh)

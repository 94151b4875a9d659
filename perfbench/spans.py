"""Spans around public calls, Spark event-log counters, host diagnostics.

A span records name, start, end and parent, and sets the Spark job group
for its duration, so every job a public call submits is tagged with the
innermost open span. After the session stops, ``read_event_log`` sums the
task metrics Spark wrote (``spark.eventLog.dir``) per job group, and
``span_metrics`` adds up a span's groups and its descendants'.
"""

from __future__ import annotations

import glob
import json
import os
import time
from contextlib import contextmanager


class Tracer:
    """Span recorder. With ``enabled=False`` every span is a no-op, so the
    untraced run executes exactly the same benchmark code paths."""

    def __init__(self, sc=None, enabled: bool = False):
        self.sc = sc
        self.enabled = enabled
        self.spans: list[dict] = []
        self.phase = "setup"
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield {}
            return
        sid = len(self.spans)
        rec = {"id": sid, "name": name, "parent": self._stack[-1] if self._stack else None,
               "group": f"perfbench-{sid}", "phase": self.phase, "start": time.time(),
               "end": None}
        self.spans.append(rec)
        self._stack.append(sid)
        self.sc.setJobGroup(rec["group"], name)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            if self._stack:
                parent = self.spans[self._stack[-1]]
                self.sc.setJobGroup(parent["group"], parent["name"])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)

    def descendants(self, sid: int) -> list[int]:
        out, todo = [], [sid]
        while todo:
            cur = todo.pop()
            out.append(cur)
            todo.extend(s["id"] for s in self.spans if s["parent"] == cur)
        return out


def catalyst_ms(df) -> float:
    """Analysis + optimization + planning time Catalyst tracked for ``df``
    (its ``queryExecution().tracker()``); phases not run yet count 0."""
    phases = df._jdf.queryExecution().tracker().phases()
    total = 0.0
    for name in ("analysis", "optimization", "planning"):
        opt = phases.get(name)
        if opt.isDefined():
            total += float(opt.get().durationMs())
    return total


def read_event_log(log_dir: str) -> dict:
    """Per job group: job intervals and summed task metrics."""
    groups: dict[str, dict] = {}
    stage_job: dict[int, int] = {}
    job_group: dict[int, str] = {}
    job_start: dict[int, float] = {}

    def bucket(g: str) -> dict:
        return groups.setdefault(g, {
            "jobs": 0, "job_intervals": [], "tasks": 0, "executor_run_s": 0.0,
            "executor_cpu_s": 0.0, "gc_s": 0.0, "shuffle_write_bytes": 0,
            "shuffle_write_records": 0, "shuffle_read_bytes": 0,
            "output_rows": 0, "output_bytes": 0,
        })

    for path in sorted(glob.glob(os.path.join(log_dir, "**", "*"), recursive=True)):
        if os.path.isdir(path):
            continue
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    jid = ev["Job ID"]
                    g = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
                    job_group[jid] = g
                    job_start[jid] = ev["Submission Time"] / 1000.0
                    for sid in ev["Stage IDs"]:
                        stage_job[sid] = jid
                    bucket(g)["jobs"] += 1
                elif kind == "SparkListenerJobEnd":
                    jid = ev["Job ID"]
                    bucket(job_group.get(jid, ""))["job_intervals"].append(
                        (job_start.get(jid, ev["Completion Time"] / 1000.0),
                         ev["Completion Time"] / 1000.0))
                elif kind == "SparkListenerTaskEnd":
                    jid = stage_job.get(ev["Stage ID"])
                    b = bucket(job_group.get(jid, "") if jid is not None else "")
                    m = ev.get("Task Metrics") or {}
                    b["tasks"] += 1
                    b["executor_run_s"] += m.get("Executor Run Time", 0) / 1000.0
                    b["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                    b["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
                    sw = m.get("Shuffle Write Metrics") or {}
                    b["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
                    b["shuffle_write_records"] += sw.get("Shuffle Records Written", 0)
                    sr = m.get("Shuffle Read Metrics") or {}
                    b["shuffle_read_bytes"] += (sr.get("Remote Bytes Read", 0)
                                                + sr.get("Local Bytes Read", 0))
                    om = m.get("Output Metrics") or {}
                    b["output_rows"] += om.get("Records Written", 0)
                    b["output_bytes"] += om.get("Bytes Written", 0)
    return groups


def _covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of [lo, hi] covered by the union of ``intervals``."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


COUNTERS = ("jobs", "tasks", "executor_run_s", "executor_cpu_s", "gc_s",
            "shuffle_write_bytes", "shuffle_write_records", "shuffle_read_bytes",
            "output_rows", "output_bytes")


def span_metrics(tracer: Tracer, groups: dict, sid: int) -> dict:
    """Wall, self time, job-free driver time and summed counters of span
    ``sid`` including its descendants."""
    s = tracer.spans[sid]
    ids = tracer.descendants(sid)
    out = {k: 0 for k in COUNTERS}
    intervals: list[tuple[float, float]] = []
    for i in ids:
        g = groups.get(tracer.spans[i]["group"])
        if g is None:
            continue
        for k in COUNTERS:
            out[k] += g[k]
        intervals.extend(g["job_intervals"])
    wall = s["end"] - s["start"]
    children = [(c["start"], c["end"]) for c in tracer.spans if c["parent"] == sid]
    out["wall_s"] = wall
    out["self_s"] = wall - _covered(children, s["start"], s["end"])
    out["non_job_s"] = wall - _covered(intervals, s["start"], s["end"])
    return out


def mean_metrics(rows: list[dict]) -> dict:
    if not rows:
        return {}
    return {k: sum(r[k] for r in rows) / len(rows) for k in rows[0]}


# ------------------------------------------------------------------ host
# Diagnostics only: no timing is ever rescaled by them.

def cpu_times() -> tuple[int, int]:
    """(steal, total) jiffies from /proc/stat; (0, 0) where unavailable."""
    try:
        with open("/proc/stat") as fh:
            vals = [int(v) for v in fh.readline().split()[1:]]
    except OSError:
        return 0, 0
    steal = vals[7] if len(vals) > 7 else 0
    return steal, sum(vals[:8])


def calibrate_cpu() -> float:
    """Fixed numpy workload: host CPU speed, independent of the JVM."""
    import numpy as np

    t0 = time.perf_counter()
    rng = np.random.default_rng(0)
    a = rng.random((300, 300))
    for _ in range(20):
        a = np.tanh(a @ a.T / 300.0)
    np.sort(rng.random(1_000_000))
    return time.perf_counter() - t0


def calibrate_shuffle(spark) -> float:
    """One fixed Spark job with a shuffle. Run only once the JVM is warm:
    at the start of a run it would time JIT warm-up, not the host."""
    t0 = time.perf_counter()
    rows = (spark.range(0, 400_000, numPartitions=4).selectExpr("id % 97 AS k")
            .groupBy("k").count().collect())
    assert len(rows) == 97
    return time.perf_counter() - t0


def vm_hwm_mb(pid: int) -> float:
    """Peak resident set (VmHWM) of ``pid`` in MB; 0 if unreadable."""
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0

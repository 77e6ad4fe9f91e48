"""Spans around calls into the program's layers, and the fold of Spark's
own event log into per-span job statistics.

A span is ``(id, name, start, end, parent, run)`` with wall-clock seconds.
Spans live in memory and are written out once, when the run ends. In a
traced run every span also sets a Spark job group named after its id, so
the event log attributes each job to the call that submitted it. Jobs
submitted from another thread (a streaming query's micro-batches carry
the query's own group) are attributed by time window instead: to the
innermost span that was open when the job was submitted.
"""

from __future__ import annotations

import contextlib
import json
import statistics
import threading
import time
from dataclasses import dataclass

TASK_STATS = ("executor_run_ms", "executor_cpu_ms", "gc_ms", "input_bytes",
              "shuffle_write_bytes", "output_bytes", "spill_bytes")


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    run: str = ""

    @property
    def wall(self) -> float:
        return self.end - self.start


class Tracer:
    """Records spans; with ``spark`` set (a traced run) it also tags each
    span's Spark jobs with a job group. An untraced tracer records nothing.

    Spans opened on another thread (a ``foreachBatch`` callback) keep their
    own stack, nest under the client thread's open span, and leave job
    groups alone: in pinned-thread mode their Spark calls run on the
    stream's own thread, whose group the query relies on."""

    def __init__(self, run_id: str, spark=None):
        self.run_id = run_id
        self.spark = spark
        self.record = spark is not None
        self.spans: list[Span] = []
        self._owner = threading.get_ident()
        self._stacks: dict[int, list[Span]] = {self._owner: []}
        self._lock = threading.Lock()

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.record:
            yield None
            return
        tid = threading.get_ident()
        stack = self._stacks.setdefault(tid, [])
        # a span on another thread nests under the client's open span
        parent = (stack or self._stacks[self._owner] or [None])[-1]
        with self._lock:
            sp = Span(len(self.spans), name, time.time(),
                      parent=parent.id if parent else None, run=self.run_id)
            self.spans.append(sp)
        stack.append(sp)
        sc = self.spark.sparkContext if tid == self._owner else None
        if sc is not None:
            sc.setJobGroup(f"span-{sp.id}", name)
        try:
            yield sp
        finally:
            sp.end = time.time()
            stack.pop()
            if sc is not None:
                if parent is not None:
                    sc.setJobGroup(f"span-{parent.id}", parent.name)
                else:
                    sc.setLocalProperty("spark.jobGroup.id", None)
                    sc.setLocalProperty("spark.job.description", None)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([sp.__dict__ for sp in self.spans], f)


def union_length(intervals) -> float:
    """Total length covered by a set of (start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def _clip(iv, lo, hi):
    s, e = max(iv[0], lo), min(iv[1], hi)
    return (s, e) if e > s else None


def self_times(spans: list[Span]) -> dict[int, float]:
    """Each span's duration minus the part of it its children cover."""
    kids: dict[int, list] = {}
    for sp in spans:
        if sp.parent is not None:
            kids.setdefault(sp.parent, []).append((sp.start, sp.end))
    out = {}
    for sp in spans:
        cov = [c for c in (_clip(iv, sp.start, sp.end)
                           for iv in kids.get(sp.id, [])) if c]
        out[sp.id] = sp.wall - union_length(cov)
    return out


def read_event_log(path: str) -> dict[int, dict]:
    """Jobs from an uncompressed, non-rolling Spark event log:
    ``{job_id: {group, submit, end, tasks, scan_stages, scan_run_ms,
    <TASK_STATS>}}`` with times in seconds. ``scan_*`` count the job's
    stages that read input bytes (source scans) and their task run time."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    scan: dict[int, list] = {}   # stage id -> [input bytes, run ms]
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                jid = ev["Job ID"]
                props = ev.get("Properties") or {}
                jobs[jid] = dict(group=props.get("spark.jobGroup.id"),
                                 submit=ev["Submission Time"] / 1e3,
                                 end=ev["Submission Time"] / 1e3,
                                 tasks=0, scan_stages=0, scan_run_ms=0,
                                 **{k: 0 for k in TASK_STATS})
                for sid in ev.get("Stage IDs", []):
                    stage_job[sid] = jid
            elif kind == "SparkListenerJobEnd":
                if ev["Job ID"] in jobs:
                    jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1e3
            elif kind == "SparkListenerTaskEnd":
                job = jobs.get(stage_job.get(ev.get("Stage ID")))
                m = ev.get("Task Metrics")
                if job is None or not m:
                    continue
                read = m.get("Input Metrics", {}).get("Bytes Read", 0)
                job["tasks"] += 1
                job["executor_run_ms"] += m.get("Executor Run Time", 0)
                job["executor_cpu_ms"] += m.get("Executor CPU Time", 0) / 1e6
                job["gc_ms"] += m.get("JVM GC Time", 0)
                job["input_bytes"] += read
                job["shuffle_write_bytes"] += m.get(
                    "Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
                job["output_bytes"] += m.get(
                    "Output Metrics", {}).get("Bytes Written", 0)
                job["spill_bytes"] += (m.get("Memory Bytes Spilled", 0)
                                       + m.get("Disk Bytes Spilled", 0))
                st = scan.setdefault(ev["Stage ID"], [0, 0])
                st[0] += read
                st[1] += m.get("Executor Run Time", 0)
    # a stage that read input bytes is a source scan
    for sid, (read, run_ms) in scan.items():
        if read:
            job = jobs[stage_job[sid]]
            job["scan_stages"] += 1
            job["scan_run_ms"] += run_ms
    return jobs


def attribute_jobs(spans: list[Span], jobs: dict[int, dict]) -> dict[int, list]:
    """Span id -> the jobs attributed to it: by job group when the group
    names a span, else to the innermost span open at submission time."""
    by_span: dict[int, list] = {sp.id: [] for sp in spans}
    ordered = sorted(spans, key=lambda sp: sp.start)
    for job in jobs.values():
        g = job["group"] or ""
        if g.startswith("span-") and int(g[5:]) in by_span:
            by_span[int(g[5:])].append(job)
            continue
        inner = None
        for sp in ordered:
            if sp.start > job["submit"]:
                break
            if sp.end >= job["submit"] and (inner is None
                                            or sp.start >= inner.start):
                inner = sp
        if inner is not None:
            by_span[inner.id].append(job)
    return by_span


def span_stats(spans: list[Span], jobs: dict[int, dict]) -> dict[int, tuple]:
    """Per span: (stats, jobs of its subtree). Stats are wall, self time,
    job and task counts, driver-only time (wall minus the union of the
    subtree's job intervals, clipped to the span) and the summed task
    metrics."""
    direct = attribute_jobs(spans, jobs)
    kids: dict[int, list] = {}
    for sp in spans:
        if sp.parent is not None:
            kids.setdefault(sp.parent, []).append(sp.id)

    def subtree(sid):
        out = list(direct[sid])
        for k in kids.get(sid, []):
            out += subtree(k)
        return out

    selft = self_times(spans)
    out = {}
    for sp in spans:
        js = subtree(sp.id)
        busy = union_length([c for c in (_clip((j["submit"], j["end"]),
                                               sp.start, sp.end) for j in js)
                             if c])
        st = {"wall_ms": sp.wall * 1e3, "self_ms": selft[sp.id] * 1e3,
              "jobs": len(js), "tasks": sum(j["tasks"] for j in js),
              "driver_ms": (sp.wall - busy) * 1e3}
        for k in TASK_STATS:
            st[k] = sum(j[k] for j in js)
        out[sp.id] = (st, js)
    return out


def fold(spans: list[Span], jobs: dict[int, dict]) -> tuple[dict, dict]:
    """``(folded, jobs_by_name)``: ``folded`` maps ``<span name>.<stat>`` to
    the median over every span of that name (plus ``<name>.calls``);
    ``jobs_by_name`` maps a span name to the jobs of all its subtrees."""
    stats = span_stats(spans, jobs)
    groups: dict[str, list[dict]] = {}
    jobs_by_name: dict[str, list] = {}
    for sp in spans:
        st, js = stats[sp.id]
        groups.setdefault(sp.name, []).append(st)
        jobs_by_name.setdefault(sp.name, []).extend(js)
    folded = {}
    for name, rows in groups.items():
        for k in rows[0]:
            folded[f"{name}.{k}"] = statistics.median(r[k] for r in rows)
        folded[f"{name}.calls"] = len(rows)
    return folded, jobs_by_name

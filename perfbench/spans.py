"""Span recording, Spark event-log parsing and span-to-job attribution.

Used only by the traced run (``--trace 1``).  Spans are recorded from the
benchmark's own code around each call into the engine; nothing inside the
engine is instrumented.  Spark's own view of the same calls comes from its
JSON event log, which is parsed here with the standard library only.

A Spark job is attributed to a span by the job group the benchmark sets on
its own thread before the call (``pb:<span id>``).  A job without such a
group (for example one the streaming engine submits on its own thread) is
attributed to the innermost span whose interval holds the job's start.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import statistics
import threading
import time

GROUP_PREFIX = "pb:"


class Tracer:
    """In-memory span recorder.  A disabled tracer records nothing and
    touches no Spark state, so the untimed paths stay identical."""

    def __init__(self, sc, workload: str, enabled: bool):
        self.sc = sc
        self.workload = workload
        self.enabled = enabled
        self.spans: list[dict] = []
        self._local = threading.local()
        self._lock = threading.Lock()

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def add(self, name: str, start: float, end: float, parent: int | None = None,
            **attrs) -> int:
        """Record a span whose interval is already known (stream triggers,
        taken from the query's progress reports)."""
        with self._lock:
            sid = len(self.spans)
            self.spans.append({"id": sid, "name": name, "parent": parent,
                               "workload": self.workload, "start": start,
                               "end": end, "attrs": attrs})
        return sid

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        stack = self._stack()
        sid = self.add(name, time.time(), 0.0,
                       parent=stack[-1] if stack else None, **attrs)
        rec = self.spans[sid]
        stack.append(sid)
        self.sc.setJobGroup(f"{GROUP_PREFIX}{sid}", name)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            stack.pop()
            if stack:
                self.sc.setJobGroup(f"{GROUP_PREFIX}{stack[-1]}",
                                    self.spans[stack[-1]]["name"])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)


# ------------------------------------------------------------ event log


def _new_stage() -> dict:
    return {"tasks": 0, "task_ms": [], "run_ms": 0, "cpu_ns": 0,
            "shuffle_read": 0, "shuffle_write": 0, "spill": 0,
            "records_read": 0, "python_bytes": 0}


def parse_event_log(log_dir: str) -> tuple[dict, dict]:
    """Read every event log under ``log_dir``.

    Returns ``(jobs, stages)``: ``jobs[job_id]`` holds start/end (epoch
    seconds), job group and stage ids; ``stages[stage_id]`` sums its
    tasks' run time, CPU time, shuffle bytes, spill, input records and
    the "data sent to Python workers" SQL metric, and keeps every task's
    duration for the skew ratio."""
    jobs: dict[int, dict] = {}
    stages: dict[int, dict] = {}
    for path in sorted(glob.glob(os.path.join(log_dir, "*"))):
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    jobs[ev["Job ID"]] = {
                        "start": ev["Submission Time"] / 1000.0,
                        "end": ev["Submission Time"] / 1000.0,
                        "group": props.get("spark.jobGroup.id"),
                        "stages": list(ev.get("Stage IDs") or []),
                    }
                elif kind == "SparkListenerJobEnd":
                    if ev["Job ID"] in jobs:
                        jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000.0
                elif kind == "SparkListenerTaskEnd":
                    st = stages.setdefault(ev["Stage ID"], _new_stage())
                    info = ev.get("Task Info") or {}
                    m = ev.get("Task Metrics") or {}
                    st["tasks"] += 1
                    st["task_ms"].append(info.get("Finish Time", 0) - info.get("Launch Time", 0))
                    st["run_ms"] += m.get("Executor Run Time", 0)
                    st["cpu_ns"] += m.get("Executor CPU Time", 0)
                    sr = m.get("Shuffle Read Metrics") or {}
                    st["shuffle_read"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                    st["shuffle_write"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
                    st["spill"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                    st["records_read"] += (m.get("Input Metrics") or {}).get("Records Read", 0)
                    for acc in info.get("Accumulables") or []:
                        if acc.get("Name") == "data sent to Python workers":
                            st["python_bytes"] += int(acc.get("Update") or 0)
    return jobs, stages


# ---------------------------------------------------------- attribution


def _union_len(intervals: list[tuple[float, float]]) -> float:
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


class Attribution:
    """Spans joined with the Spark jobs and stages they caused."""

    def __init__(self, spans: list[dict], jobs: dict, stages: dict):
        self.spans = spans
        self.stages = stages
        self.jobs_of: dict[int, list[dict]] = {s["id"]: [] for s in spans}
        self.children: dict[int, list[int]] = {s["id"]: [] for s in spans}
        for s in spans:
            if s["parent"] is not None:
                self.children[s["parent"]].append(s["id"])
        self.unattributed = 0
        for job in jobs.values():
            sid = self._owner(job)
            if sid is None:
                self.unattributed += 1
            else:
                self.jobs_of[sid].append(job)

    def _owner(self, job: dict) -> int | None:
        g = job.get("group") or ""
        if g.startswith(GROUP_PREFIX):
            sid = int(g[len(GROUP_PREFIX):])
            if 0 <= sid < len(self.spans):
                return sid
        # innermost (latest-starting) span holding the job's start;
        # event-log times have millisecond resolution, hence the slack
        best = None
        for s in self.spans:
            if s["start"] - 0.001 <= job["start"] <= s["end"] + 0.001:
                if best is None or s["start"] >= best["start"]:
                    best = s
        return None if best is None else best["id"]

    def subtree(self, sid: int) -> list[int]:
        out, todo = [], [sid]
        while todo:
            cur = todo.pop()
            out.append(cur)
            todo.extend(self.children[cur])
        return out

    def jobs(self, sid: int) -> list[dict]:
        """Jobs of the span and all its descendants."""
        return [j for i in self.subtree(sid) for j in self.jobs_of[i]]

    def stage_stats(self, sid: int) -> dict:
        """Summed stage counters over the span's jobs (each stage once)."""
        tot = _new_stage()
        tot["stages"] = 0
        widest = None
        seen = set()
        for j in self.jobs(sid):
            for st_id in j["stages"]:
                st = self.stages.get(st_id)
                if st is None or st_id in seen:
                    continue  # skipped (reused) stage, or counted already
                seen.add(st_id)
                tot["stages"] += 1
                for k in ("tasks", "run_ms", "cpu_ns", "shuffle_read",
                          "shuffle_write", "spill", "records_read", "python_bytes"):
                    tot[k] += st[k]
                if widest is None or st["tasks"] > widest["tasks"]:
                    widest = st
        med = statistics.median(widest["task_ms"]) if widest else 0
        tot["skew"] = (max(widest["task_ms"]) / med) if widest and med > 0 else 1.0
        return tot

    def spark_s(self, sid: int) -> float:
        """Length of the union of the span's job intervals, clipped to it."""
        s = self.spans[sid]
        ivs = [(max(j["start"], s["start"]), min(j["end"], s["end"])) for j in self.jobs(sid)]
        return _union_len([iv for iv in ivs if iv[1] > iv[0]])

    def self_s(self, sid: int) -> float:
        s = self.spans[sid]
        kids = [(self.spans[c]["start"], self.spans[c]["end"]) for c in self.children[sid]]
        return (s["end"] - s["start"]) - _union_len(kids)


def jvm_gc_seconds(spark) -> float:
    """Cumulative garbage-collection time of the (local-mode) JVM."""
    beans = spark.sparkContext._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return sum(max(0, b.getCollectionTime()) for b in beans) / 1000.0

"""Spans around calls into the engine, attributed to Spark's own task
metrics through the job group.

Each span call sets the Spark job group ``<span>#<call>``; the traced run
enables Spark's event log, and after the session stops the log is read
back: jobs carry the group in their properties, tasks belong to the stage
of a job. Nothing inside the engine is touched. With tracing off a span
records only its wall interval.
"""

from __future__ import annotations

import json
import os
import time
from collections import Counter, defaultdict
from contextlib import contextmanager

from stats import driver_gap, self_time

SPAN_METRICS = ("wall_s", "jobs", "tasks", "exec_cpu_s", "exec_nonjvm_s",
                "driver_gap_s", "shuffle_bytes", "spill_bytes", "gc_s")


class Tracer:
    """Records every span's wall interval; with ``label_jobs`` it also sets
    the Spark job group of each span call (the traced run)."""

    def __init__(self, label_jobs: bool):
        self.label_jobs = label_jobs
        self.recording = True
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._calls: Counter = Counter()
        self._sc = None

    def bind(self, spark) -> None:
        """Label the jobs of ``spark`` from now on (``None``: label none)."""
        self._sc = spark.sparkContext if self.label_jobs and spark is not None else None

    def _set_group(self, idx: int | None) -> None:
        if self._sc is None:
            return
        if idx is None:
            self._sc.setLocalProperty("spark.jobGroup.id", None)
            self._sc.setLocalProperty("spark.job.description", None)
        else:
            s = self.spans[idx]
            self._sc.setJobGroup(s["group"], s["name"])

    @contextmanager
    def paused(self):
        """Record no spans in the body (warm-up and output checks)."""
        recording, self.recording = self.recording, False
        try:
            yield
        finally:
            self.recording = recording

    @contextmanager
    def span(self, name: str):
        if not self.recording:
            yield
            return
        call = self._calls[name]
        self._calls[name] += 1
        parent = self._stack[-1] if self._stack else None
        idx = len(self.spans)
        self.spans.append({"name": name, "group": f"{name}#{call}", "parent": parent,
                           "start": time.time(), "end": None})
        self._stack.append(idx)
        self._set_group(idx)
        try:
            yield
        finally:
            self.spans[idx]["end"] = time.time()
            self._stack.pop()
            self._set_group(parent)

    def walls(self) -> dict[str, list[float]]:
        out: dict[str, list[float]] = defaultdict(list)
        for s in self.spans:
            out[s["name"]].append(s["end"] - s["start"])
        return dict(out)


def read_event_logs(log_dir: str) -> tuple[dict, dict]:
    """Per job group: job intervals and summed task metrics, from every
    event log file in ``log_dir`` (one per SparkContext)."""
    jobs: dict[str, list[tuple[float, float]]] = defaultdict(list)
    agg: dict[str, Counter] = defaultdict(Counter)
    for path in sorted(os.path.join(d, f) for d, _, fs in os.walk(log_dir) for f in fs
                       if not f.startswith("appstatus")):
        job_group: dict[int, str | None] = {}
        job_start: dict[int, float] = {}
        stage_group: dict[int, str | None] = {}
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev["Event"]
                if kind == "SparkListenerJobStart":
                    jid = ev["Job ID"]
                    g = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    job_group[jid] = g
                    job_start[jid] = ev["Submission Time"] / 1e3
                    for sid in ev["Stage IDs"]:
                        stage_group.setdefault(sid, g)
                elif kind == "SparkListenerJobEnd":
                    jid = ev["Job ID"]
                    g = job_group.get(jid)
                    jobs[g].append((job_start[jid], ev["Completion Time"] / 1e3))
                elif kind == "SparkListenerTaskEnd":
                    m = ev.get("Task Metrics") or {}
                    c = agg[stage_group.get(ev["Stage ID"])]
                    c["tasks"] += 1
                    c["exec_run_s"] += m.get("Executor Run Time", 0) / 1e3
                    c["exec_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                    c["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                    c["shuffle_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0)
                    c["spill_bytes"] += m.get("Disk Bytes Spilled", 0)
    return dict(jobs), dict(agg)


def span_metrics(spans: list[dict], jobs: dict, agg: dict) -> dict[str, dict[str, float]]:
    """Per span name: each metric of SPAN_METRICS as a mean per call, plus
    ``self_s`` (wall minus child spans) and ``calls``. A span's jobs and
    tasks are those of its own group and of every span nested in it."""
    children: dict[int, list[int]] = defaultdict(list)
    for i, s in enumerate(spans):
        if s["parent"] is not None:
            children[s["parent"]].append(i)

    def subtree(i: int) -> list[int]:
        out = [i]
        for c in children[i]:
            out.extend(subtree(c))
        return out

    per_name: dict[str, list[dict[str, float]]] = defaultdict(list)
    for i, s in enumerate(spans):
        groups = [spans[j]["group"] for j in subtree(i)]
        ivals = [iv for g in groups for iv in jobs.get(g, [])]
        c = Counter()
        for g in groups:
            c.update(agg.get(g, {}))
        per_name[s["name"]].append({
            "wall_s": s["end"] - s["start"],
            "self_s": self_time(s["start"], s["end"],
                                [(spans[j]["start"], spans[j]["end"]) for j in children[i]]),
            "jobs": len(ivals),
            "tasks": c["tasks"],
            "exec_cpu_s": c["exec_cpu_s"],
            "exec_nonjvm_s": max(c["exec_run_s"] - c["exec_cpu_s"], 0.0),
            "driver_gap_s": driver_gap(s["start"], s["end"], ivals),
            "shuffle_bytes": c["shuffle_bytes"],
            "spill_bytes": c["spill_bytes"],
            "gc_s": c["gc_s"],
        })
    out = {}
    for name, calls in per_name.items():
        out[name] = {k: sum(c[k] for c in calls) / len(calls) for k in calls[0]}
        out[name]["calls"] = len(calls)
    return out

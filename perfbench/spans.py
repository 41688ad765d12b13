"""Spans around layer calls, and the fold of Spark's event log into them.

The benchmark measures each layer from outside: around every call into a
layer it records a span (name, start, end, parent, run id) and tags the
Spark jobs the call submits with a job group equal to the span id. Spans
stay in memory and are written out when the run ends. After the run the
event log (turned on from outside the program, see ``run.py``) is folded
into per-span job, task, CPU, GC, shuffle and Python-worker figures.
"""

from __future__ import annotations

import contextlib
import itertools
import json
import threading
import time

#: names of the SQL metrics every Python eval node carries
_PY_ROWS = "number of output rows"
_PY_SENT = "data sent to Python workers"


class Tracer:
    """Records spans; with ``enabled`` off it records nothing. Each
    thread keeps its own stack of open spans."""

    def __init__(self, run_id: str, enabled: bool):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self._ids = itertools.count()
        self._local = threading.local()
        self.sc = None  # SparkContext whose jobs get the span's group

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        stack = self._local.__dict__.setdefault("stack", [])
        parent = stack[-1] if stack else None
        rec = {
            "id": f"{self.run_id}.{next(self._ids)}",
            "name": name,
            "parent": parent["id"] if parent else None,
            "run": self.run_id,
            "start": time.time(),
            "end": None,
        }
        self.spans.append(rec)
        stack.append(rec)
        self._tag(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            stack.pop()
            self._tag(parent)

    def _tag(self, rec) -> None:
        """Set this thread's job group to the open span's id."""
        if self.sc is None:
            return
        if rec is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(rec["id"], rec["name"])

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump(self.spans, fh)


def _union_length(intervals) -> float:
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


def self_times(spans: list[dict]) -> dict[str, float]:
    """Span id -> its duration minus the part of it its children cover."""
    children: dict[str, list] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        covered = _union_length(
            (max(c["start"], s["start"]), min(c["end"], s["end"]))
            for c in children.get(s["id"], [])
            if c["end"] > s["start"] and c["start"] < s["end"]
        )
        out[s["id"]] = (s["end"] - s["start"]) - covered
    return out


def read_event_log(path: str) -> list[dict]:
    with open(path) as fh:
        return [json.loads(line) for line in fh if line.strip()]


def _plan_python_metrics(plan: dict, out: dict) -> None:
    names = {m["name"]: m["accumulatorId"] for m in plan.get("metrics", [])}
    if _PY_SENT in names:
        out[names[_PY_SENT]] = "py_bytes"
        if _PY_ROWS in names:
            out[names[_PY_ROWS]] = "py_rows"
    for child in plan.get("children", []):
        _plan_python_metrics(child, out)


class EventLog:
    """Jobs, per-stage task totals and streaming progress from one log."""

    def __init__(self, events: list[dict]):
        self.jobs: dict[int, dict] = {}
        self.stages: dict[int, dict] = {}
        self.progress: list[dict] = []
        stage_job: dict[int, int] = {}
        py_acc: dict[int, str] = {}
        tasks = []
        for e in events:
            kind = e["Event"]
            if kind == "SparkListenerJobStart":
                props = e.get("Properties") or {}
                job = {
                    "id": e["Job ID"],
                    "submit": e["Submission Time"] / 1000.0,
                    "end": None,
                    "group": props.get("spark.jobGroup.id"),
                    "query": props.get("sql.streaming.queryId"),
                    # a pin's job runs a stage named for the call
                    "pin": any(
                        "checkpoint at" in si.get("Stage Name", "").lower()
                        for si in e.get("Stage Infos", [])
                    ),
                    "stages": list(e["Stage IDs"]),
                }
                self.jobs[job["id"]] = job
                for sid in job["stages"]:
                    stage_job.setdefault(sid, job["id"])
            elif kind == "SparkListenerJobEnd":
                self.jobs[e["Job ID"]]["end"] = e["Completion Time"] / 1000.0
            elif kind == "SparkListenerTaskEnd":
                tasks.append(e)
            elif kind.endswith(("SQLExecutionStart", "SQLAdaptiveExecutionUpdate")):
                _plan_python_metrics(e["sparkPlanInfo"], py_acc)
            elif kind.endswith("QueryProgressEvent"):
                self.progress.append(e["progress"])
        for e in tasks:
            st = self.stages.setdefault(
                e["Stage ID"],
                {"job": stage_job.get(e["Stage ID"]), "tasks": 0, "run_s": 0.0,
                 "cpu_s": 0.0, "gc_s": 0.0, "shuffle_bytes": 0,
                 "py_rows": 0, "py_bytes": 0},
            )
            m = e.get("Task Metrics") or {}
            st["tasks"] += 1
            st["run_s"] += m.get("Executor Run Time", 0) / 1000.0
            st["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            st["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
            st["shuffle_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0
            )
            for acc in (e.get("Task Info") or {}).get("Accumulables", []):
                key = py_acc.get(acc.get("ID"))
                if key is not None:
                    st[key] += int(acc.get("Update") or 0)
        for job in self.jobs.values():
            if job["end"] is None:
                job["end"] = job["submit"]

    def attribute(self, spans: list[dict]) -> dict[int, str | None]:
        """Job id -> span id: the span whose id is the job's group, else
        the innermost span open when the job was submitted (jobs from
        engine thread pools and streaming threads carry no group)."""
        by_id = {s["id"]: s for s in spans}
        out = {}
        for job in self.jobs.values():
            if job["group"] in by_id:
                out[job["id"]] = job["group"]
                continue
            open_ = [s for s in spans if s["start"] <= job["submit"] <= s["end"]]
            out[job["id"]] = max(open_, key=lambda s: s["start"])["id"] if open_ else None
        return out

    def totals(self, job_ids) -> dict:
        """Summed task figures, job and pin-job counts over ``job_ids``."""
        job_ids = set(job_ids)
        tot = {"jobs": len(job_ids), "tasks": 0, "run_s": 0.0, "cpu_s": 0.0,
               "gc_s": 0.0, "shuffle_bytes": 0, "py_rows": 0, "py_bytes": 0,
               "pin_jobs": 0, "pin_s": 0.0}
        for jid in job_ids:
            job = self.jobs[jid]
            if job["pin"]:
                tot["pin_jobs"] += 1
                tot["pin_s"] += job["end"] - job["submit"]
        for st in self.stages.values():
            if st["job"] in job_ids:
                for k in ("tasks", "run_s", "cpu_s", "gc_s", "shuffle_bytes",
                          "py_rows", "py_bytes"):
                    tot[k] += st[k]
        return tot

    def job_gap(self, job_ids, start: float, end: float) -> float:
        """Wall time in [start, end] that no job of ``job_ids`` covers."""
        busy = _union_length(
            (max(self.jobs[j]["submit"], start), min(self.jobs[j]["end"], end))
            for j in job_ids
            if self.jobs[j]["end"] > start and self.jobs[j]["submit"] < end
        )
        return (end - start) - busy

"""Per-layer metrics of a traced run: spans folded with the event log.

Every workload reports every metric; a layer a workload does not use
reads 0 there (``streaming.*`` on topic_batch and query_mix,
``operators.*`` on the two message workloads)."""

from __future__ import annotations

import datetime
import statistics

import stats
from spans import self_times
from workloads import MIX, MODULES

_LOWER, _HIGHER = "lower", "higher"

PER_LAYER: list[tuple[str, str, str]] = [
    ("session.start_s", "s", _LOWER),
    ("setup.stage_s", "s", _LOWER),
    ("session.warmup_s", "s", _LOWER),
    ("sources.publish_s", "s", _LOWER),
    ("sources.topic_bytes_per_msg", "B", _LOWER),
    ("sources.scan_s", "s", _LOWER),
    ("sources.scan_tasks", "count", _HIGHER),
    ("crypto.encrypt_s", "s", _LOWER),
    ("crypto.decrypt_verify_s", "s", _LOWER),
    ("crypto.rows_in", "count", _HIGHER),
    ("crypto.rows_verified", "count", _HIGHER),
    ("crypto.verify_ratio", "ratio", _HIGHER),
    ("crypto.python_rows", "count", _LOWER),
    ("crypto.python_bytes", "B", _LOWER),
    ("crypto.python_rows_per_msg", "ratio", _LOWER),
    ("streaming.batches", "count", _LOWER),
    ("streaming.batch_ms_p50", "ms", _LOWER),
    ("streaming.batch_ms_p95", "ms", _LOWER),
    ("streaming.add_batch_ms_p50", "ms", _LOWER),
    ("streaming.overhead_ms_p50", "ms", _LOWER),
    ("streaming.tasks_per_batch", "count", _HIGHER),
    ("streaming.core_busy", "ratio", _HIGHER),
    ("streaming.backlog_max_segments", "count", _LOWER),
    ("streaming.generator_late_ms", "ms", _LOWER),
]
for _m in dict.fromkeys(MODULES):
    PER_LAYER += [
        (f"operators.{_m}.s", "s", _LOWER),
        (f"operators.{_m}.cpu_s", "s", _LOWER),
        (f"operators.{_m}.shuffle_bytes", "B", _LOWER),
        (f"operators.{_m}.tasks", "count", _LOWER),
        (f"operators.{_m}.jobs", "count", _LOWER),
    ]
PER_LAYER += [(f"query.{label}.s", "s", _LOWER) for label, _, _ in MIX]
PER_LAYER += [
    ("materialize.pins", "count", _LOWER),
    ("materialize.pin_jobs", "count", _LOWER),
    ("materialize.pin_s", "s", _LOWER),
    ("spark.executor_cpu_s", "s", _LOWER),
    ("spark.gc_s", "s", _LOWER),
    ("spark.driver_gap_s", "s", _LOWER),
    ("trace.overhead_pct", "%", _LOWER),
    ("stream.drain_eps", "events/s", _HIGHER),
    ("stream.latency_p50_ms", "ms", _LOWER),
    ("stream.latency_p95_ms", "ms", _LOWER),
    ("mix.total_s", "s", _LOWER),
    ("mix.geomean_s", "s", _LOWER),
]


def _subtree(spans, pred) -> set[str]:
    """Ids of spans matching ``pred`` and of all their descendants."""
    ids = {s["id"] for s in spans if pred(s)}
    grew = True
    while grew:
        more = {s["id"] for s in spans if s["parent"] in ids} - ids
        ids |= more
        grew = bool(more)
    return ids


def _jobs_in(job_span, span_ids) -> list[int]:
    return [j for j, sid in job_span.items() if sid in span_ids]


def _epoch(iso: str) -> float:
    """Seconds since the epoch of a progress event's UTC timestamp."""
    return datetime.datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp()


def _durations(spans, name) -> list[float]:
    return [s["end"] - s["start"] for s in spans if s["name"] == name]


def fold(b, out, spans, log) -> dict[str, float]:
    """Every PER_LAYER metric for one traced run."""
    m = {name: 0.0 for name, _, _ in PER_LAYER}
    f = out.facts
    job_span = log.attribute(spans)
    measure = _subtree(spans, lambda s: s["name"] == "measure")
    measure_jobs = _jobs_in(job_span, measure)
    (measure_span,) = [s for s in spans if s["name"] == "measure"]

    m["session.start_s"] = b.launch_s
    m["setup.stage_s"] = statistics.median(b.stage_s)
    m["session.warmup_s"] = b.warmup_s

    eng = log.totals(measure_jobs)
    m["spark.executor_cpu_s"] = eng["cpu_s"]
    m["spark.gc_s"] = eng["gc_s"]
    m["spark.driver_gap_s"] = log.job_gap(
        measure_jobs, measure_span["start"], measure_span["end"]
    )

    if "topic_dir" in f:  # the two message workloads
        pubs = _durations(spans, "sources.publish")
        m["sources.publish_s"] = statistics.median(pubs)
        m["sources.topic_bytes_per_msg"] = f["topic_bytes_per_msg"]
        for name in ("sources.scan", "crypto.decrypt_verify", "crypto.encrypt"):
            (probe,) = [s for s in spans if s["name"] == f"probe.{name}"]
            m[f"{name}_s"] = probe["end"] - probe["start"]
            if name == "sources.scan":
                ids = _subtree(spans, lambda s, p=probe: s["id"] == p["id"])
                m["sources.scan_tasks"] = log.totals(_jobs_in(job_span, ids))["tasks"]
        m["crypto.decrypt_verify_s"] = max(
            0.0, m["crypto.decrypt_verify_s"] - m["sources.scan_s"]
        )
        m["crypto.rows_in"] = f["rows_in"]
        m["crypto.rows_verified"] = f["rows_verified"]
        m["crypto.verify_ratio"] = f["rows_verified"] / f["rows_in"]
        decode = _subtree(
            spans,
            lambda s: s["id"] in measure
            and s["name"].startswith(("crypto.", "streaming.")),
        )
        py = log.totals(_jobs_in(job_span, decode))
        m["crypto.python_rows"] = py["py_rows"]
        m["crypto.python_bytes"] = py["py_bytes"]
        m["crypto.python_rows_per_msg"] = py["py_rows"] / f["msgs"]

    if "query_id" in f:  # stream_decrypt
        t0 = measure_span["start"]
        prog = [
            p for p in log.progress
            if p["id"] == f["query_id"] and _epoch(p["timestamp"]) >= t0
            and sum(src.get("numInputRows", 0) for src in p.get("sources", [])) > 0
        ]
        dur = [p["durationMs"] for p in prog]
        batch_ms = [d.get("triggerExecution", 0) for d in dur]
        m["streaming.batches"] = len(prog)
        m["streaming.batch_ms_p50"] = stats.percentile(batch_ms, 50.0)
        m["streaming.batch_ms_p95"] = stats.percentile(batch_ms, 95.0)
        m["streaming.add_batch_ms_p50"] = stats.percentile(
            [d.get("addBatch", 0) for d in dur], 50.0
        )
        m["streaming.overhead_ms_p50"] = stats.percentile(
            [sum(d.get(k, 0) for k in ("latestOffset", "getBatch", "queryPlanning",
                                       "walCommit")) for d in dur],
            50.0,
        )
        q_jobs = [
            j for j, job in log.jobs.items()
            if job["query"] == f["query_id"] and job["submit"] >= t0
        ]
        q_tot = log.totals(q_jobs)
        m["streaming.tasks_per_batch"] = q_tot["tasks"] / len(prog)
        m["streaming.core_busy"] = q_tot["run_s"] / (sum(batch_ms) / 1000.0 * b.cores)
        m["streaming.backlog_max_segments"] = f["backlog_max"]
        m["streaming.generator_late_ms"] = f["generator_late_ms"]

    if "query_s" in f:  # query_mix
        passes = f["passes"]
        self_s = self_times(spans)
        for module in dict.fromkeys(MODULES):
            own = [
                s["id"] for s in spans
                if s["id"] in measure and s["name"].startswith(f"operators.{module}.")
            ]
            tot = log.totals(_jobs_in(job_span, _subtree(spans, lambda s: s["id"] in own)))
            m[f"operators.{module}.s"] = sum(self_s[i] for i in own) / passes
            m[f"operators.{module}.cpu_s"] = tot["cpu_s"] / passes
            m[f"operators.{module}.shuffle_bytes"] = tot["shuffle_bytes"] / passes
            m[f"operators.{module}.tasks"] = tot["tasks"] / passes
            m[f"operators.{module}.jobs"] = tot["jobs"] / passes
        for label, sec in f["query_s"].items():
            m[f"query.{label}.s"] = sec
        m["materialize.pins"] = f["pins"]
        m["materialize.pin_jobs"] = eng["pin_jobs"] / passes
        m["materialize.pin_s"] = eng["pin_s"] / passes

    for name, (value, _unit) in out.named.items():
        if name in m:
            m[name] = value
    return m

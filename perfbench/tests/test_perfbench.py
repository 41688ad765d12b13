"""Tests of the benchmark's own arithmetic: no Spark session needed.

Run: python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import sys
import time

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
sys.path.insert(0, BENCH)

import gen  # noqa: E402
import layers  # noqa: E402
import run  # noqa: E402
import stats  # noqa: E402
import workloads  # noqa: E402
from spans import EventLog, Tracer, self_times  # noqa: E402


@pytest.mark.parametrize(
    "n, p",
    [(5, None), (19, None), (20, 50.0), (39, 50.0), (40, 75.0), (99, 75.0),
     (100, 90.0), (199, 90.0), (200, 95.0), (999, 95.0), (1000, 99.0)],
)
def test_tail_percentile_keeps_ten_samples_beyond(n, p):
    assert stats.tail_percentile(n) == p


def test_weighted_percentile_counts_each_row():
    # one segment of 90 rows at 1.0 and one of 10 rows at 5.0
    assert stats.percentile([5.0, 1.0], 50.0, [10, 90]) == 1.0
    assert stats.percentile([5.0, 1.0], 90.0, [10, 90]) == 1.0
    assert stats.percentile([5.0, 1.0], 91.0, [10, 90]) == 5.0
    assert stats.percentile([3.0, 1.0, 2.0], 50.0) == 2.0
    with pytest.raises(ValueError):
        stats.percentile([], 50.0)


def test_geomean():
    assert stats.geomean([1.0, 100.0]) == pytest.approx(10.0)
    assert stats.geomean([2.0, 8.0], [3, 0]) == pytest.approx(2.0)
    with pytest.raises(ValueError):
        stats.geomean([0.0, 1.0])


def _span(sid, parent, start, end, name="x"):
    return {"id": sid, "name": name, "parent": parent, "run": "r",
            "start": start, "end": end}


def test_self_time_subtracts_union_of_children():
    spans = [
        _span("p", None, 0.0, 10.0),
        _span("a", "p", 1.0, 3.0),
        _span("b", "p", 2.0, 5.0),   # overlaps a: union 1..5
        _span("c", "p", 9.0, 12.0),  # clipped to the parent: 9..10
        _span("d", "a", 1.5, 2.5),
    ]
    st = self_times(spans)
    assert st["p"] == pytest.approx(10.0 - 4.0 - 1.0)
    assert st["a"] == pytest.approx(1.0)
    assert st["d"] == pytest.approx(1.0)


def test_disabled_tracer_records_nothing():
    tr = Tracer("r", enabled=False)
    with tr.span("a"):
        pass
    assert tr.spans == []
    tr = Tracer("r", enabled=True)
    with tr.span("a"):
        with tr.span("b"):
            pass
    assert [(s["name"], s["parent"]) for s in tr.spans] == [("a", None), ("b", "r.0")]


def _canned_log():
    plan = {
        "nodeName": "Project", "metrics": [],
        "children": [{
            "nodeName": "ArrowEvalPython",
            "metrics": [
                {"name": "data sent to Python workers", "accumulatorId": 7},
                {"name": "number of output rows", "accumulatorId": 8},
                {"name": "time to run Python workers", "accumulatorId": 9},
            ],
            "children": [],
        }],
    }

    def job(jid, t, stages, group=None, query=None, stage_name="save at x"):
        props = {}
        if group:
            props["spark.jobGroup.id"] = group
        if query:
            props["sql.streaming.queryId"] = query
        return {"Event": "SparkListenerJobStart", "Job ID": jid,
                "Submission Time": t, "Stage IDs": stages, "Properties": props,
                "Stage Infos": [{"Stage ID": s, "Stage Name": stage_name}
                                for s in stages]}

    def task(stage, run_ms, cpu_ns, shuffle=0, acc=()):
        return {"Event": "SparkListenerTaskEnd", "Stage ID": stage,
                "Task Info": {"Accumulables": [{"ID": i, "Update": str(u)}
                                               for i, u in acc]},
                "Task Metrics": {"Executor Run Time": run_ms,
                                 "Executor CPU Time": cpu_ns, "JVM GC Time": 5,
                                 "Shuffle Write Metrics": {
                                     "Shuffle Bytes Written": shuffle}}}

    return [
        {"Event": "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart",
         "sparkPlanInfo": plan},
        job(0, 1000_000, [0, 1], group="r.1"),
        task(0, 100, 50_000_000, shuffle=300, acc=[(7, 4096), (8, 10), (9, 99)]),
        task(1, 200, 150_000_000, acc=[(8, 5)]),
        {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 1001_000},
        job(1, 1002_500, [2], query="q1", stage_name="localCheckpoint at y"),
        task(2, 50, 10_000_000),
        {"Event": "SparkListenerJobEnd", "Job ID": 1, "Completion Time": 1003_000},
        {"Event": "org.apache.spark.sql.streaming.StreamingQueryListener$QueryProgressEvent",
         "progress": {"id": "q1", "durationMs": {"triggerExecution": 40},
                      "sources": [{"numInputRows": 3}]}},
    ]


def test_event_log_fold_on_canned_log():
    log = EventLog([json.loads(json.dumps(e)) for e in _canned_log()])
    spans = [_span("r.0", None, 999.0, 1004.0, "measure"),
             _span("r.1", "r.0", 999.5, 1001.5, "crypto.consume"),
             _span("r.2", "r.0", 1002.0, 1003.5, "streaming.drain")]
    job_span = log.attribute(spans)
    assert job_span == {0: "r.1", 1: "r.2"}  # by group, then by time
    t0 = log.totals([0])
    assert (t0["jobs"], t0["tasks"], t0["shuffle_bytes"]) == (1, 2, 300)
    assert t0["run_s"] == pytest.approx(0.3)
    assert t0["cpu_s"] == pytest.approx(0.2)
    assert t0["gc_s"] == pytest.approx(0.01)
    assert (t0["py_rows"], t0["py_bytes"], t0["pin_jobs"]) == (15, 4096, 0)
    t1 = log.totals([1])
    assert (t1["pin_jobs"], t1["pin_s"]) == (1, pytest.approx(0.5))
    # jobs cover 1000..1001 and 1002.5..1003 of the 999..1004 window
    assert log.job_gap([0, 1], 999.0, 1004.0) == pytest.approx(3.5)
    assert log.progress[0]["durationMs"]["triggerExecution"] == 40


def test_lateness_and_backlog_accounting():
    released = [(0, 10.0, 10.002), (1, 11.0, 10.9), (2, 12.0, 12.5)]
    assert workloads.lateness_ms(released) == pytest.approx([2.0, 0.0, 500.0])
    assert workloads.backlog_max([(1, 0), (3, 1), (3, 3)]) == 2
    assert workloads.backlog_max([]) == 0


def test_open_loop_releases_in_order_on_schedule(tmp_path):
    src, dst = tmp_path / "src", tmp_path / "dst"
    src.mkdir()
    dst.mkdir()
    files = []
    for i in range(4):
        f = src / f"part-{i}.parquet"
        f.write_text(str(i))
        files.append(str(f))
    t0 = time.time() + 0.05
    loop = workloads._OpenLoop(files, str(dst), t0, rate=40.0)
    loop.thread.start()
    loop.thread.join(timeout=10)
    assert not loop.thread.is_alive()
    assert [s for s, _, _ in loop.released] == [0, 1, 2, 3]
    assert [due for _, due, _ in loop.released] == pytest.approx(
        [t0 + i / 40.0 for i in range(4)])
    assert all(actual >= due for _, due, actual in loop.released)
    assert sorted(os.listdir(dst)) == [f"part-{i}.parquet" for i in range(4)]


def test_stream_segments_scale_with_seconds():
    assert workloads.stream_segments(10) == (5, 5)
    assert workloads.stream_segments(1) == (2, 2)


def test_inputs_are_a_function_of_the_seed(tmp_path):
    import numpy as np

    a = gen.events_table(np.random.default_rng(3), 500, 10)
    b = gen.events_table(np.random.default_rng(3), 500, 10)
    c = gen.events_table(np.random.default_rng(4), 500, 10)
    assert a.equals(b) and not a.equals(c)
    ts = a["ts"].cast("int64").to_numpy()
    assert (np.diff(ts) > 0).all()
    n, k = gen.expected_decode(a)
    assert n == 250
    assert k == sum(int(p[6:-1]) for p in a["props"].to_pylist()[::2])
    rows = gen.write_tables(str(tmp_path), seed=5, sf=0.001)
    assert rows["lineitem"] == 6000 and rows["events"] == 1000


def test_benchmark_json_matches_the_code():
    with open(os.path.join(os.path.dirname(BENCH), "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert [m["name"] for m in spec["end_to_end"]] == list(run.E2E_UNITS)
    assert [m["unit"] for m in spec["end_to_end"]] == list(run.E2E_UNITS.values())
    assert [(m["name"], m["unit"], m["better"]) for m in spec["per_layer"]] == [
        tuple(x) for x in layers.PER_LAYER]
    assert {w["name"] for w in spec["workloads"]} <= set(workloads.WORKLOADS)


def test_tracer_keeps_one_stack_per_thread():
    import threading

    tr = Tracer("r", enabled=True)
    gate = threading.Barrier(2)

    def work(name):
        with tr.span(name):
            gate.wait(timeout=5)
            with tr.span(name + ".child"):
                gate.wait(timeout=5)

    threads = [threading.Thread(target=work, args=(n,)) for n in ("a", "b")]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=10)
    assert not any(t.is_alive() for t in threads)
    by_name = {s["name"]: s for s in tr.spans}
    assert len({s["id"] for s in tr.spans}) == 4
    for n in ("a", "b"):
        assert by_name[n]["parent"] is None
        assert by_name[n + ".child"]["parent"] == by_name[n]["id"]


def test_fold_of_a_stream_run_reads_the_measured_batches_only():
    class B:
        launch_s, stage_s, warmup_s, cores = 7.0, [9.0, 2.0, 3.0], 4.0, 4

    out = workloads.Outcome()
    out.facts = {
        "query_id": "q1", "topic_dir": "t", "topic_bytes_per_msg": 70.0,
        "rows_in": 100, "rows_verified": 50, "msgs": 100, "backlog_max": 1,
        "generator_late_ms": 0.5,
    }
    out.named = {"stream.drain_eps": (2500.0, "events/s")}
    spans = [
        _span("r.0", None, 0.0, 7.0, "session.start"),
        _span("r.1", None, 7.0, 9.0, "setup.stage"),
        _span("r.2", "r.1", 7.0, 9.0, "sources.publish"),
        _span("r.3", None, 9.0, 13.0, "warmup"),
        _span("r.4", None, 13.0, 23.0, "measure"),
        _span("r.5", "r.4", 13.0, 20.0, "streaming.open_loop"),
        _span("r.6", "r.4", 20.0, 23.0, "streaming.drain"),
        _span("r.7", None, 23.0, 23.5, "probe.sources.scan"),
        _span("r.8", None, 23.5, 24.5, "probe.crypto.decrypt_verify"),
        _span("r.9", None, 24.5, 25.0, "probe.crypto.encrypt"),
    ]

    def job(jid, t, stage):
        return {"Event": "SparkListenerJobStart", "Job ID": jid,
                "Submission Time": t * 1000, "Stage IDs": [stage],
                "Properties": {"sql.streaming.queryId": "q1"}}

    def task(stage, run_ms):
        return {"Event": "SparkListenerTaskEnd", "Stage ID": stage,
                "Task Metrics": {"Executor Run Time": run_ms}}

    def progress(t_iso, ms, rows):
        return {"Event": "x$QueryProgressEvent", "progress": {
            "id": "q1", "timestamp": t_iso,
            "durationMs": {"triggerExecution": ms, "addBatch": ms - 100,
                           "latestOffset": 40, "getBatch": 10,
                           "queryPlanning": 30, "walCommit": 20},
            "sources": [{"numInputRows": rows}]}}

    events = [
        job(0, 10.0, 0), task(0, 4000),  # warm-up batch: not counted
        job(1, 14.0, 1), task(1, 300),
        job(2, 15.0, 2), task(2, 300), task(2, 200),
        progress("1970-01-01T00:00:10Z", 4000, 10),
        progress("1970-01-01T00:00:14Z", 500, 10),
        progress("1970-01-01T00:00:15Z", 700, 10),
        progress("1970-01-01T00:00:16Z", 50, 0),  # empty trigger
    ]
    m = layers.fold(B(), out, spans, EventLog(events))
    assert set(m) == {name for name, _, _ in layers.PER_LAYER}
    assert m["session.start_s"] == 7.0 and m["setup.stage_s"] == 3.0
    assert m["streaming.batches"] == 2
    assert m["streaming.batch_ms_p50"] == 500 and m["streaming.batch_ms_p95"] == 700
    assert m["streaming.overhead_ms_p50"] == 100
    assert m["streaming.tasks_per_batch"] == 1.5
    assert m["streaming.core_busy"] == pytest.approx(0.8 / (1.2 * 4))
    assert m["sources.scan_s"] == 0.5
    assert m["crypto.decrypt_verify_s"] == pytest.approx(0.5)
    assert m["crypto.verify_ratio"] == 0.5
    assert m["stream.drain_eps"] == 2500.0
    assert m["operators.graph.s"] == 0.0 and m["mix.total_s"] == 0.0


def test_round_counts_depend_on_seconds_only():
    assert workloads.rounds_for(20, 6.5) == 3
    assert workloads.rounds_for(1, 6.5) == 2
    assert workloads.rounds_for(12, 3.0) == 4

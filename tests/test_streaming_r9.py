"""Round-9 streaming surface tests (VERDICT r8 items 3/4/5/7): the
custom Python streaming DataSource with at-least-once redelivery, the
event-time-timer session processor, and the multi-table commit-log
sink. The left-outer interval join (item 3) is covered in
test_streaming.py via the refactored pipeline function."""

from __future__ import annotations

import glob
import os
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from dataflow_pubsub_message_encryption_spark import streaming as st
from dataflow_pubsub_message_encryption_spark.sources import load_events


@pytest.fixture()
def tmpdir():
    d = tempfile.mkdtemp(prefix="sparkgraft-stream9-")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def _stage_split(sf_dir: str, out: str, n_files: int) -> None:
    """Split the events fixture into ts-sorted segment files."""
    import pyarrow.parquet as pq

    tbl = pq.read_table(glob.glob(f"{sf_dir}/events.parquet")[0])
    n = tbl.num_rows
    idx = tbl["ts"].to_pandas().sort_values().index
    os.makedirs(out, exist_ok=True)
    for i in range(n_files):
        pq.write_table(
            tbl.take(sorted(idx[i * n // n_files : (i + 1) * n // n_files])),
            f"{out}/part{i}.parquet",
        )


# --- item 5: custom Python streaming DataSource -----------------------------


def test_pubsub_replay_source_at_least_once_and_dedup(spark, sf_dir, tmpdir):
    """The Spark-4 ``pyspark.sql.datasource`` streaming source delivers
    the Pub/Sub message shape (value BINARY + attrs MAP) segment-per-
    micro-batch, redelivers segment 0 once (at-least-once), and
    consumer-side dedup on the message id restores effectively-once —
    the reference's own delivery contract [U/H]."""
    from dataflow_pubsub_message_encryption_spark.sources.pubsub_replay import (
        PubsubReplayDataSource,
    )

    src = f"{tmpdir}/src"
    _stage_split(sf_dir, src, 3)
    try:
        spark.dataSource.register(PubsubReplayDataSource)
    except Exception as e:  # re-registration across tests in one session
        if "already" not in str(e).lower():
            raise

    def drain(sdf, name):
        q = (
            sdf.writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .option("checkpointLocation", f"{tmpdir}/ckpt-{name}")
            .start()
        )
        q.processAllAvailable()
        q.stop()
        return spark.table(name).collect()

    stream = (
        spark.readStream.format("pubsub_replay")
        .option("path", src)
        .option("redeliver_first", "true")
        .load()
    )
    raw = drain(stream, "pubsub_raw")

    ev = load_events(spark, sf_dir)
    n = ev.count()
    import pyarrow.parquet as pq

    seg0 = pq.read_table(f"{src}/part0.parquet")
    assert len(raw) == n + seg0.num_rows, "redelivery must duplicate segment 0"
    # the duplicate is bit-identical: distinct (id, value) collapses to n
    assert len({(r.event_id, bytes(r.value)) for r in raw}) == n
    # attrs map carries the envelope metadata; the redelivered copies are
    # tagged delivery=2 and are exactly segment 0
    redelivered = {r.event_id for r in raw if r.attrs["delivery"] == "2"}
    assert redelivered == set(seg0["event_id"].to_pylist())
    by_id = {r.event_id: r for r in raw}
    for b in ev.select("event_id", "event_type", "props").limit(50).collect():
        got = by_id[b.event_id]
        assert got.attrs["event_type"] == b.event_type
        assert bytes(got.value).decode("utf-8") == (b.props or "")

    # consumer-side dedup THROUGH the stream (R11) -> effectively-once
    stream2 = (
        spark.readStream.format("pubsub_replay")
        .option("path", src)
        .option("redeliver_first", "true")
        .load()
    )
    deduped = drain(
        stream2.dropDuplicates(["event_id"]), "pubsub_dedup"
    )
    assert len(deduped) == n


# --- commit-log table format (VERDICT r8 'missing' item 4) ------------------


def test_versioned_commit_log_end_to_end_with_time_travel(
    spark, sf_dir, tmpdir
):
    """The versioned MERGE target over a 3-file replay: one committed
    version per micro-batch, atomic across both member tables, with the
    full history time-travelable — version k's cross-table invariant
    (sum(users.n_versions) == sum(totals.n)) must hold at EVERY
    version, and the latest must equal the batch computation."""
    from dataflow_pubsub_message_encryption_spark.streaming import versioned as V

    src = f"{tmpdir}/src"
    _stage_split(sf_dir, src, 3)
    target = f"{tmpdir}/target"
    q = (
        V.versioned_upsert_sink(
            st.events_file_stream(spark, src), target, f"{tmpdir}/ckpt"
        )
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(300)

    assert V.latest_version(target) == 2
    hist = V.history(target)
    assert [h["version"] for h in hist] == [0, 1, 2]
    assert [h["batch_id"] for h in hist] == [0, 1, 2]

    ev = load_events(spark, sf_dir)
    running = 0
    for v in range(3):
        tabs = V.read_version(spark, target, v)
        n_users = sum(r.n_versions for r in tabs["users"].collect())
        n_totals = sum(r.n for r in tabs["totals"].collect())
        assert n_users == n_totals, f"v{v} cross-table invariant broken"
        assert n_users > running, f"v{v} did not grow"
        running = n_users
    assert running == ev.count()  # latest == the whole log

    final = V.read_version(spark, target)
    got = {
        (r.user_id, r.last_event_id, r.n_versions)
        for r in final["users"].collect()
    }
    batch = {
        (r.user_id, r.last_event_id, r.n_versions)
        for r in ev.groupBy("user_id")
        .agg(
            F.max_by("event_id", F.struct("ts", "event_id")).alias(
                "last_event_id"
            ),
            F.count("*").alias("n_versions"),
        )
        .collect()
    }
    assert got == batch

    batch_totals = {
        (r.event_type, r.n, round(r.value_sum, 6))
        for r in ev.groupBy("event_type")
        .agg(F.count("*").alias("n"), F.sum("value").alias("value_sum"))
        .collect()
    }
    got_totals = {
        (r.event_type, r.n, round(r.value_sum, 6))
        for r in final["totals"].collect()
    }
    assert got_totals == batch_totals

    # cross-table atomicity invariant at the latest: both tables reflect
    # the same event prefix (here: the whole log)
    n_users = sum(r.n_versions for r in final["users"].collect())
    n_totals = sum(r.n for r in final["totals"].collect())
    assert n_users == n_totals == ev.count()

    # vacuum keeps the newest 2; time travel to v1/v2 still serves,
    # history shrinks, the latest is untouched
    assert V.vacuum(target, keep=2) == [0]
    assert [h["version"] for h in V.history(target)] == [1, 2]
    assert V.read_version(spark, target, 1)["users"].count() > 0
    assert V.latest_version(target) == 2


def test_versioned_commit_log_crash_drill(tmpdir):
    """Roll-back recovery at every crash point: the pointer is the only
    commit witness; anything past it (orphan v-dirs, uncommitted log
    entries, torn write-asides) is dropped so the replayed batch redoes
    the merge from the committed parent — never roll-forward. A v-dir a
    killed vacuum left behind (no log entry names it) is dropped too."""
    import json

    from dataflow_pubsub_message_encryption_spark.streaming import versioned as V

    t = f"{tmpdir}/t"
    os.makedirs(f"{t}/_log")

    def commit_fs(v, bid):
        os.makedirs(f"{t}/v{v}/users", exist_ok=True)
        with open(f"{t}/v{v}/users/part", "w") as fh:
            fh.write(f"b{bid}")
        with open(f"{t}/_log/v{v}.json", "w") as fh:
            json.dump(
                {"version": v, "batch_id": bid,
                 "tables": {"users": f"v{v}/users"}}, fh,
            )
        with open(f"{t}/{'_latest'}", "w") as fh:
            fh.write(str(v))

    commit_fs(0, 0)  # a healthy committed v0

    # (a) crash after snapshot write, before the log entry: orphan v1
    os.makedirs(f"{t}/v1/users")
    V.recover(t)
    assert not os.path.exists(f"{t}/v1")
    assert V.latest_version(t) == 0 and V.committed_batch_id(t) == 0

    # (b) crash after the log entry, before the pointer swap: v1 + log
    # exist, pointer still 0 -> BOTH dropped (uncommitted)
    os.makedirs(f"{t}/v1/users")
    with open(f"{t}/_log/v1.json", "w") as fh:
        json.dump({"version": 1, "batch_id": 1, "tables": {}}, fh)
    V.recover(t)
    assert not os.path.exists(f"{t}/v1")
    assert not os.path.exists(f"{t}/_log/v1.json")
    assert V.latest_version(t) == 0

    # replay rule: batch 0 skips, batch 1 proceeds
    assert V.committed_batch_id(t) == 0

    # (c) torn write-asides are swept, the pointer is never torn
    with open(f"{t}/_latest.w", "w") as fh:
        fh.write("9")
    with open(f"{t}/_log/v9.json.w", "w") as fh:
        fh.write("{")
    V.recover(t)
    assert not os.path.exists(f"{t}/_latest.w")
    assert not os.path.exists(f"{t}/_log/v9.json.w")
    assert V.latest_version(t) == 0

    # (d) crash mid-vacuum: batch 1 committed v1, then vacuum(keep=1)
    # removed v0's log entry and was killed before its rmtree -> the
    # v-dir below the pointer that no log entry names is dropped; the
    # committed latest is untouched
    commit_fs(1, 1)
    os.remove(f"{t}/_log/v0.json")
    V.recover(t)
    assert not os.path.exists(f"{t}/v0")
    assert os.path.exists(f"{t}/v1/users/part")
    assert V.latest_version(t) == 1 and V.committed_batch_id(t) == 1

    # recovery is re-runnable: a second pass re-derives the same state
    V.recover(t)
    assert V.latest_version(t) == 1 and V.committed_batch_id(t) == 1


# --- item 4: event-time timers in transformWithStateInPandas ----------------


def test_session_timeout_processor_unit():
    """Processor logic against a fake handle: in-batch merge, timer
    re-arm at min(last)+gap, expiry split at the watermark."""
    import pandas as pd

    from dataflow_pubsub_message_encryption_spark.streaming.stateful_v2 import (
        SessionTimeoutProcessor,
    )

    class FakeList:
        def __init__(self):
            self._v = []

        def exists(self):
            return bool(self._v)

        def get(self):
            return iter(self._v)

        def put(self, rows):
            self._v = list(rows)

        def clear(self):
            self._v = []

    class FakeHandle:
        def __init__(self):
            self.timers = []

        def listTimers(self):
            return iter(list(self.timers))

        def deleteTimer(self, t):
            self.timers.remove(t)

        def registerTimer(self, t):
            self.timers.append(t)

    gap = 1000
    p = SessionTimeoutProcessor(gap)
    p._handle = FakeHandle()
    p._sessions = FakeList()

    # two in-batch sessions (gap between 2000 and 10000 exceeds 1000)
    out = list(
        p.handleInputRows(
            (7,), [pd.DataFrame({"ts_ms": [2000, 1500, 10000]})], None
        )
    )
    assert out == []  # nothing emits on input
    assert p._sessions._v == [(1500, 2000, 2), (10000, 10000, 1)]
    assert p._handle.timers == [3000]  # min(last)+gap

    class WM:
        def __init__(self, wm):
            self._wm = wm

        def getCurrentWatermarkInMs(self):
            return self._wm

    # watermark passes the first session's expiry only
    out = list(p.handleExpiredTimer((7,), WM(3500), None))
    assert len(out) == 1
    r = out[0].iloc[0]
    assert (r.user_id, r.session_start, r.session_end, r.n_events) == (
        7, 1500, 2000, 2,
    )
    assert p._sessions._v == [(10000, 10000, 1)]
    assert p._handle.timers == [11000]

    # a later batch EXTENDS the surviving session and re-arms its timer
    list(p.handleInputRows((7,), [pd.DataFrame({"ts_ms": [10800]})], None))
    assert p._sessions._v == [(10000, 10800, 2)]
    assert p._handle.timers == [11800]

    out = list(p.handleExpiredTimer((7,), WM(99999), None))
    assert [tuple(out[0].iloc[0])] == [(7, 10000, 10800, 2)]
    assert p._sessions._v == [] and p._handle.timers == []


def test_session_timeout_timers_end_to_end(spark, tmpdir):
    """transformWithStateInPandas with timeMode=EventTime: sessions emit
    at timer expiry as the watermark advances across a 4-file replay;
    the emitted set must equal the batch gap-sessionization restricted
    to sessions the final watermark provably closed (last + gap <= wm).
    Same protobuf/RocksDB harness as the leaderboard e2e.

    The events fixture is useless here — its sf0.001 replay spans 43
    MINUTES, so every user has exactly one still-open session and no
    timer can ever fire (probed). The replay is synthesized instead:
    8 users x 6 sessions each, sessions 2 h apart (gap 30 min clearly
    exceeded), 3-6 events 5 min apart inside a session — the last
    session per user stays open at the final watermark, every earlier
    one MUST have been emitted by its timer."""
    from collections import defaultdict

    from dataflow_pubsub_message_encryption_spark.streaming._pb_vendor import (
        BOOT_DIR,
        ensure_protobuf,
    )

    if not ensure_protobuf():
        pytest.skip("protobuf unavailable: no real install, no vendorable runtime")
    spark.sparkContext.environment["PYTHONPATH"] = BOOT_DIR
    prev_provider = spark.conf.get(
        "spark.sql.streaming.stateStore.providerClass", None
    )
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider",
    )
    try:
        import pyarrow as pa
        import pyarrow.parquet as pq

        base_ms = 1_700_000_000_000  # deterministic epoch anchor
        rows = []
        eid = 0
        for uid in range(8):
            for s in range(6):
                start = base_ms + s * 2 * 3600_000 + uid * 60_000
                for k in range(3 + (uid + s) % 4):
                    rows.append((eid, (start + k * 300_000) * 1_000_000, uid))
                    eid += 1
        rows.sort(key=lambda r: r[1])
        src = f"{tmpdir}/src"
        os.makedirs(src)
        n = len(rows)
        for i in range(4):
            chunk = rows[i * n // 4 : (i + 1) * n // 4]
            pq.write_table(
                pa.table(
                    {
                        "event_id": pa.array(
                            [r[0] for r in chunk], pa.int64()
                        ),
                        "ts": pa.array([r[1] for r in chunk], pa.int64()),
                        "user_id": pa.array(
                            [r[2] for r in chunk], pa.int64()
                        ),
                        "event_type": pa.array(["click"] * len(chunk)),
                        "value": pa.array([1.0] * len(chunk)),
                        "props": pa.array(["{}"] * len(chunk)),
                    }
                ),
                f"{src}/part{i}.parquet",
            )

        stream = st.session_timeout_summaries(
            st.events_file_stream(spark, src, max_files_per_trigger=1)
        )
        q = (
            stream.writeStream.format("memory")
            .queryName("tws_sessions")
            .outputMode("append")
            .option("checkpointLocation", f"{tmpdir}/ckpt")
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(300)
        got = {
            (r.user_id, r.session_start, r.session_end, r.n_events)
            for r in spark.table("tws_sessions").collect()
        }

        # batch twin in ms (raw int64 ns -> the stream's ns->us->ms floor)
        gap_ms, delay_ms = 30 * 60 * 1000, 10 * 60 * 1000
        by_user = defaultdict(list)
        max_ms = 0
        for _eid, ts_ns, uid in rows:
            ms = ts_ns // 1_000_000
            by_user[uid].append(ms)
            max_ms = max(max_ms, ms)
        wm = max_ms - delay_ms
        expected = set()
        for uid, tss in by_user.items():
            tss.sort()
            start = last = tss[0]
            cnt = 1
            for t in tss[1:]:
                if t - last > gap_ms:
                    if last + gap_ms <= wm:
                        expected.add((uid, start, last, cnt))
                    start, last, cnt = t, t, 1
                else:
                    last, cnt = t, cnt + 1
            if last + gap_ms <= wm:
                expected.add((uid, start, last, cnt))
        assert len(expected) == 8 * 5, "all but the open tail sessions close"
        assert got == expected
    finally:
        if prev_provider is None:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
        else:
            spark.conf.set(
                "spark.sql.streaming.stateStore.providerClass", prev_provider
            )

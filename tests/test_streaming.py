"""Streaming mirror tests (SURVEY §5.4): batch ≡ stream on the windowed
counts (prefix consistency), watermark late-data handling, stateful dedup,
and the exactly-once parquet sink."""

from __future__ import annotations

import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from dataflow_pubsub_message_encryption_spark import streaming as st
from dataflow_pubsub_message_encryption_spark.operators.ref_pipeline import (
    QUERIES as REFQ,
)
from dataflow_pubsub_message_encryption_spark.sources import load_events


@pytest.fixture()
def tmpdir():
    d = tempfile.mkdtemp(prefix="sparkgraft-stream-")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def _run_stream_to_memory(spark, sdf, name, mode="append"):
    q = (
        sdf.writeStream.format("memory")
        .queryName(name)
        .outputMode(mode)
        .trigger(availableNow=True)
        .start()
    )
    # availableNow terminates on its own once the backlog drains; the cap
    # only bounds a hang. 120 s proved too tight once on a loaded box
    # (Python-UDF worker spin-up under contention -> zero batches
    # committed -> empty memory table); fail loudly instead of returning
    # partial state.
    drained = q.awaitTermination(300)
    assert drained, f"stream {name} still active after 300s"
    return spark.table(name)


def test_stream_windowed_counts_equal_batch(spark, sf_dir, tmpdir):
    """Replaying the events table through a file stream must yield the
    exact batch R8 result once the stream drains.

    Complete mode is the deterministic drain: availableNow never runs the
    no-data micro-batch that would flush watermark-closed windows in append
    mode (probed on 4.1.2 — append emits nothing for a fully-drained replay),
    while complete mode's final trigger holds the entire result table, which
    must equal batch EXACTLY (a stronger assertion than the append prefix).
    Append-mode watermark emission/drop semantics are covered separately by
    test_watermark_drops_late_rows."""
    # stage the parquet into a stream-source dir
    import glob
    import shutil as sh

    src = glob.glob(f"{sf_dir}/events.parquet")[0]
    sh.copy(src, f"{tmpdir}/events.parquet")

    stream = st.events_file_stream(spark, tmpdir)
    counts = st.windowed_counts_stream(stream, watermark="10 minutes")
    got = _run_stream_to_memory(spark, counts, "stream_counts", mode="complete")

    batch = REFQ["window_tumbling_counts"](spark, sf_dir)
    g = {
        (r.window_start.strftime("%Y-%m-%d %H:%M:%S.%f"), r.event_type): r.cnt
        for r in got.collect()
    }
    b = {(r.window_start, r.event_type): r.cnt for r in batch.collect()}
    assert g == b


def test_stream_stream_interval_join_equals_batch(spark, sf_dir, tmpdir):
    """The watermarked stream-stream attribution join, drained over the
    full replay, must produce exactly the batch interval-join result."""
    import glob
    import shutil as sh

    sh.copy(glob.glob(f"{sf_dir}/events.parquet")[0], f"{tmpdir}/events.parquet")
    stream = st.events_file_stream(spark, tmpdir)
    got = _run_stream_to_memory(
        spark, st.attribution_join_stream(stream), "stream_ssjoin"
    ).collect()

    ev = load_events(spark, sf_dir)
    clicks = ev.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"),
        F.col("event_id").alias("click_id"),
        F.col("ts").alias("click_ts"),
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"),
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("purchase_ts"),
    )
    batch = (
        clicks.join(
            purchases,
            F.expr(
                "c_user = p_user AND click_ts <= purchase_ts "
                "AND purchase_ts <= click_ts + INTERVAL 30 MINUTES"
            ),
        )
        .select("click_id", "purchase_id")
        .collect()
    )
    assert len(batch) > 0
    assert {(r.click_id, r.purchase_id) for r in got} == {
        (r.click_id, r.purchase_id) for r in batch
    }


def test_stream_stream_left_outer_join_matches_batch_matches(spark, sf_dir, tmpdir):
    """LEFT OUTER stream-stream interval join: matched rows emit on match
    (same as inner); null-padded unmatched clicks emit only once the
    watermark proves no purchase can still arrive. Multi-file replay
    advances the watermark between micro-batches, so early unmatched
    clicks DO flush; the drained output's matched set must equal batch,
    emitted null rows must be truly unmatched, and no click may appear
    both matched and null-padded."""
    import glob
    import shutil as sh

    import pyarrow.parquet as pq

    # split events into 4 files so the watermark advances across batches
    tbl = pq.read_table(glob.glob(f"{sf_dir}/events.parquet")[0])
    n = tbl.num_rows
    idx = tbl["ts"].to_pandas().sort_values().index
    for i in range(4):
        pq.write_table(tbl.take(sorted(idx[i * n // 4 : (i + 1) * n // 4])),
                       f"{tmpdir}/part{i}.parquet")

    stream = st.events_file_stream(spark, tmpdir)
    # the join itself is the registered pipeline stage (one source of
    # truth — this test used to inline a copy of it)
    joined = st.attribution_join_stream_outer(stream).select(
        "click_id", "purchase_id"
    )
    got = _run_stream_to_memory(spark, joined, "stream_ssjoin_outer").collect()

    ev = load_events(spark, sf_dir)
    c = ev.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"),
        F.col("event_id").alias("click_id"),
        F.col("ts").alias("click_ts"),
    )
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"),
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("purchase_ts"),
    )
    batch_matched = {
        (r.click_id, r.purchase_id)
        for r in c.join(
            p,
            F.expr(
                "c_user = p_user AND click_ts <= purchase_ts "
                "AND purchase_ts <= click_ts + INTERVAL 30 MINUTES"
            ),
        ).collect()
    }
    got_matched = {(r.click_id, r.purchase_id) for r in got if r.purchase_id is not None}
    got_null = {r.click_id for r in got if r.purchase_id is None}
    assert got_matched == batch_matched
    matched_clicks = {cid for cid, _ in batch_matched}
    assert not (got_null & matched_clicks), "null-padded click also matched"
    # most clicks are unmatched on this fixture; the watermark must have
    # flushed the bulk of them (only the trailing horizon may be held)
    n_clicks = c.count()
    assert len(got_null) >= (n_clicks - len(matched_clicks)) * 0.8


def test_stream_static_enrichment_join(spark, sf_dir, tmpdir):
    """Stream-static join: the unbounded event stream enriched against a
    static (batch) dimension — no watermark needed on the static side;
    Spark re-plans the static relation per micro-batch. The drained
    stream must equal the batch join."""
    import glob
    import shutil as sh

    sh.copy(glob.glob(f"{sf_dir}/events.parquet")[0], f"{tmpdir}/events.parquet")
    ev_batch = load_events(spark, sf_dir)
    dim = (
        ev_batch.select("user_id")
        .distinct()
        .withColumn("tier", (F.col("user_id") % 3).cast("int"))
    )
    stream = st.events_file_stream(spark, tmpdir)
    got = _run_stream_to_memory(
        spark,
        stream.join(dim, "user_id").select("event_id", "tier"),
        "stream_static_join",
    ).collect()
    batch = ev_batch.join(dim, "user_id").select("event_id", "tier").collect()
    assert {(r.event_id, r.tier) for r in got} == {
        (r.event_id, r.tier) for r in batch
    }
    assert len(got) == ev_batch.count()  # dim covers every user: no drops


def test_stream_decrypt_matches_batch(spark, sf_dir, tmpdir):
    import glob
    import shutil as sh

    sh.copy(glob.glob(f"{sf_dir}/events.parquet")[0], f"{tmpdir}/events.parquet")
    stream = st.decrypted_stream(st.events_file_stream(spark, tmpdir), tamper=True)
    got = _run_stream_to_memory(
        spark, stream.select("event_id", "props_decrypted"), "stream_decrypt"
    )
    rows = got.collect()
    n = load_events(spark, sf_dir).count()
    assert len(rows) == n // 2  # tampered odd ids dropped in-flight
    assert all(r.event_id % 2 == 0 for r in rows)


def test_watermark_drops_late_rows(spark, tmpdir):
    """Two micro-batches: batch 2 carries an event 2 hours older than the
    advanced watermark -> its window is already closed and the row is
    dropped from the append-mode output."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    def write(batch_id, rows):
        tbl = pa.table(
            {
                "event_id": pa.array([r[0] for r in rows], pa.int64()),
                "ts": pa.array([r[1] for r in rows], pa.int64()),  # ns
                "user_id": pa.array([1] * len(rows), pa.int64()),
                "event_type": pa.array(["click"] * len(rows)),
                "value": pa.array([1.0] * len(rows)),
                "props": pa.array(['{"k": 1}'] * len(rows)),
            }
        )
        pq.write_table(tbl, f"{tmpdir}/b{batch_id}.parquet")

    H = 3_600_000_000_000  # 1h in ns
    base = 1_700_000_000_000_000_000
    write(0, [(0, base + 0 * H), (1, base + 4 * H)])  # watermark -> 4h - 10m
    # late event in hour-0 window: watermark (3h50m) >> window end (1h) -> drop
    write(1, [(2, base + 1), (3, base + 5 * H)])

    stream = st.events_file_stream(spark, tmpdir, max_files_per_trigger=1)
    counts = st.windowed_counts_stream(stream, watermark="10 minutes")
    got = _run_stream_to_memory(spark, counts, "late_counts")
    total = got.agg(F.sum("cnt")).collect()[0][0]
    assert total == 3, "late row must be dropped, open windows not emitted"


def test_stateful_dedup_within_watermark(spark, tmpdir):
    import pyarrow as pa
    import pyarrow.parquet as pq

    base = 1_700_000_000_000_000_000
    tbl = pa.table(
        {
            "event_id": pa.array([1, 1, 2, 2, 3], pa.int64()),
            "ts": pa.array([base, base + 1000, base, base + 5000, base], pa.int64()),
            "user_id": pa.array([1] * 5, pa.int64()),
            "event_type": pa.array(["click"] * 5),
            "value": pa.array([1.0] * 5),
            "props": pa.array(['{"k": 1}'] * 5),
        }
    )
    pq.write_table(tbl, f"{tmpdir}/dups.parquet")
    stream = st.stateful_dedup_stream(st.events_file_stream(spark, tmpdir))
    got = _run_stream_to_memory(spark, stream.select("event_id"), "dedup_stream")
    assert sorted(r.event_id for r in got.collect()) == [1, 2, 3]


def test_parquet_sink_checkpointed(spark, sf_dir, tmpdir):
    import glob
    import shutil as sh

    sh.copy(glob.glob(f"{sf_dir}/events.parquet")[0], f"{tmpdir}/events.parquet")
    out, ckpt = f"{tmpdir}/out", f"{tmpdir}/ckpt"
    stream = st.decrypted_stream(st.events_file_stream(spark, tmpdir))
    q = (
        st.write_parquet_sink(
            stream.select("event_id", "props_decrypted"), out, ckpt
        )
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    n = load_events(spark, sf_dir).count()
    assert spark.read.parquet(out).count() == n
    import os

    assert os.path.isdir(ckpt), "checkpoint log must exist (exactly-once)"


def test_custom_stateful_operator_accumulates_across_batches(spark, sf_dir, tmpdir):
    """applyInPandasWithState: state must persist across micro-batches —
    final census equals the batch groupBy over the full replay."""
    import glob
    import shutil as sh

    from dataflow_pubsub_message_encryption_spark.streaming.stateful import (
        running_user_census,
    )

    sh.copy(glob.glob(f"{sf_dir}/events.parquet")[0], f"{tmpdir}/events.parquet")
    stream = st.events_file_stream(spark, tmpdir)
    census = running_user_census(stream)
    q = (
        census.writeStream.format("memory")
        .queryName("user_census")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    # update mode: last row per user is the final state
    from pyspark.sql import Window

    got = spark.table("user_census")
    rows = {r.user_id: (r.n_events, round(r.total_value, 2)) for r in got.collect()}
    batch = (
        load_events(spark, sf_dir)
        .groupBy("user_id")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("tv"))
        .collect()
    )
    for r in batch:
        assert rows[r.user_id] == (r.n, r.tv), r.user_id


def test_text_sink_writes_decrypted_lines(spark, sf_dir, tmpdir):
    import glob
    import shutil as sh

    sh.copy(glob.glob(f"{sf_dir}/events.parquet")[0], f"{tmpdir}/events.parquet")
    out, ckpt = f"{tmpdir}/txt", f"{tmpdir}/txt_ckpt"
    stream = st.decrypted_stream(st.events_file_stream(spark, tmpdir))
    q = (
        st.write_text_sink(stream, out, ckpt, col="props_decrypted")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    lines = spark.read.text(out)
    assert lines.count() == load_events(spark, sf_dir).count()
    assert lines.filter(F.col("value").startswith('{"k":')).count() == lines.count()


def test_sliding_stream_equals_batch(spark, sf_dir, tmpdir):
    import glob
    import shutil as sh

    sh.copy(glob.glob(f"{sf_dir}/events.parquet")[0], f"{tmpdir}/events.parquet")
    stream = st.sliding_counts_stream(st.events_file_stream(spark, tmpdir))
    got = _run_stream_to_memory(spark, stream, "sliding_counts", mode="complete")
    batch = REFQ["window_sliding_counts"](spark, sf_dir)
    g = {
        (r.window_start.strftime("%Y-%m-%d %H:%M:%S.%f"), r.event_type): r.cnt
        for r in got.collect()
    }
    b = {(r.window_start, r.event_type): r.cnt for r in batch.collect()}
    # complete-mode drain (see test_stream_windowed_counts_equal_batch):
    # every pane, including the trailing open ones, must equal batch.
    assert g == b


def test_session_window_stream_prefix_of_batch(spark, sf_dir, tmpdir):
    """session_window under a watermark in streaming mode: the drained
    stream's sessions must equal the batch gaps-and-islands result.
    Complete-mode drain (see test_stream_windowed_counts_equal_batch) —
    session merging across micro-batches still exercises the streaming
    session-state machinery, and the final table must match batch EXACTLY."""
    import glob
    import shutil as sh

    sh.copy(glob.glob(f"{sf_dir}/events.parquet")[0], f"{tmpdir}/events.parquet")
    stream = st.events_file_stream(spark, tmpdir)
    sess = (
        stream.withWatermark("ts", "10 minutes")
        .groupBy(F.session_window("ts", "30 minutes"), "user_id")
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.col("session_window.start").alias("session_start"),
            "n_events",
        )
    )
    got = _run_stream_to_memory(spark, sess, "stream_sessions", mode="complete")
    batch = REFQ["window_session_stats"](spark, sf_dir)
    g = {
        (r.user_id, r.session_start.strftime("%Y-%m-%d %H:%M:%S.%f")): r.n_events
        for r in got.collect()
    }
    b = {(r.user_id, r.session_start): r.n_events for r in batch.collect()}
    assert g == b


def test_rate_source_through_decrypt_pipeline(spark):
    """Unbounded non-file source: the rate source synthesizes messages on
    the fly; the same envelope+decrypt transformations apply unchanged —
    source-agnostic pipeline, the Structured Streaming design point."""
    rate = (
        spark.readStream.format("rate")
        .option("rowsPerSecond", "500")
        .load()  # (timestamp, value)
    )
    events = rate.select(
        F.col("value").alias("event_id"),
        F.col("timestamp").alias("ts"),
        (F.col("value") % 7).alias("user_id"),
        F.lit("click").alias("event_type"),
        F.lit(1.0).alias("value"),
        F.concat(F.lit('{"k": '), (F.col("value") % 100), F.lit("}")).alias("props"),
    )
    dec = st.decrypted_stream(events)
    q = (
        dec.select("event_id", "props_decrypted")
        .writeStream.format("memory")
        .queryName("rate_decrypt")
        .outputMode("append")
        .start()
    )
    try:
        import time

        deadline = time.time() + 60
        n = 0
        while time.time() < deadline:
            n = spark.table("rate_decrypt").count()
            if n >= 100:
                break
            time.sleep(1)
        assert n >= 100, f"only {n} rows decrypted from rate source"
        sample = spark.table("rate_decrypt").limit(5).collect()
        assert all(r.props_decrypted.startswith('{"k": ') for r in sample)
    finally:
        q.stop()


def test_foreach_batch_sink_custom_logic(spark, sf_dir, tmpdir):
    """R9 variant: foreachBatch — arbitrary batch-DataFrame logic per
    micro-batch (the escape hatch for sinks Spark lacks, e.g. upserts).
    Here each batch appends its per-type counts with the batch id."""
    import glob
    import shutil as sh

    sh.copy(glob.glob(f"{sf_dir}/events.parquet")[0], f"{tmpdir}/events.parquet")
    out = f"{tmpdir}/batch_counts"

    def sink(batch_df, batch_id):
        (
            batch_df.groupBy("event_type")
            .count()
            .withColumn("batch_id", F.lit(batch_id))
            .write.mode("append").parquet(out)
        )

    stream = st.events_file_stream(spark, tmpdir)
    q = (
        stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", f"{tmpdir}/fb_ckpt")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.read.parquet(out)
    total = got.agg(F.sum("count")).collect()[0][0]
    from dataflow_pubsub_message_encryption_spark.sources import load_events as le

    assert total == le(spark, sf_dir).count()


def test_checkpoint_resume_is_exactly_once(spark, sf_dir, tmpdir):
    """Stop-and-resume against the same checkpoint must process new files
    only — every event reaches the sink exactly once across restarts."""
    import glob
    import shutil as sh

    src, out, ckpt = f"{tmpdir}/src", f"{tmpdir}/out", f"{tmpdir}/ckpt"
    import os

    os.makedirs(src)
    events_file = glob.glob(f"{sf_dir}/events.parquet")[0]
    sh.copy(events_file, f"{src}/batch1.parquet")

    def run_once():
        stream = st.events_file_stream(spark, src)
        q = (
            st.write_parquet_sink(stream.select("event_id"), out, ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run_once()
    n1 = spark.read.parquet(out).count()
    # second batch arrives (same rows, different file name), query restarts
    sh.copy(events_file, f"{src}/batch2.parquet")
    run_once()
    got = spark.read.parquet(out)
    n_events = load_events(spark, sf_dir).count()
    assert n1 == n_events
    assert got.count() == 2 * n_events  # batch1 NOT reprocessed on resume
    # each event id appears exactly twice (once per source file), never more
    over = got.groupBy("event_id").count().filter("count != 2").count()
    assert over == 0


def test_observe_metrics_on_decrypt_stream(spark, sf_dir, tmpdir):
    """The observe() API: in-flight metrics (rows, MAC failures survive as
    row-count delta) without a second pass over the stream."""
    import glob
    import shutil as sh

    sh.copy(glob.glob(f"{sf_dir}/events.parquet")[0], f"{tmpdir}/events.parquet")
    stream = st.decrypted_stream(
        st.events_file_stream(spark, tmpdir), tamper=True
    ).observe("decrypt_metrics", F.count(F.lit(1)).alias("rows_out"))
    captured = {}

    from pyspark.sql.streaming import StreamingQueryListener

    class L(StreamingQueryListener):
        def onQueryStarted(self, e):
            pass

        def onQueryProgress(self, e):
            om = e.progress.observedMetrics
            if "decrypt_metrics" in om:
                captured["rows_out"] = captured.get("rows_out", 0) + om[
                    "decrypt_metrics"
                ]["rows_out"]

        def onQueryIdle(self, e):
            pass

        def onQueryTerminated(self, e):
            pass

    listener = L()
    spark.streams.addListener(listener)
    try:
        q = (
            stream.writeStream.format("noop")
            .trigger(availableNow=True)
            .option("checkpointLocation", f"{tmpdir}/obs_ckpt")
            .start()
        )
        q.awaitTermination(120)
        import time

        time.sleep(2)  # listener delivery is async
        n = load_events(spark, sf_dir).count()
        assert captured.get("rows_out") == n // 2  # tampered half dropped
    finally:
        spark.streams.removeListener(listener)


def test_rocksdb_state_store_provider(spark, sf_dir, tmpdir):
    """The claimed 100 TB state backend: the same windowed aggregation
    runs on the RocksDB state store provider (off-heap state, the large-
    key-space configuration) and produces identical results."""
    import glob
    import shutil as sh

    sh.copy(glob.glob(f"{sf_dir}/events.parquet")[0], f"{tmpdir}/events.parquet")
    key = "spark.sql.streaming.stateStore.providerClass"
    prev = spark.conf.get(key, None)
    spark.conf.set(
        key,
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    try:
        stream = st.events_file_stream(spark, tmpdir)
        counts = st.windowed_counts_stream(stream, watermark="10 minutes")
        got = _run_stream_to_memory(spark, counts, "rocksdb_counts", mode="complete")
        batch = REFQ["window_tumbling_counts"](spark, sf_dir)
        g = {
            (r.window_start.strftime("%Y-%m-%d %H:%M:%S.%f"), r.event_type): r.cnt
            for r in got.collect()
        }
        b = {(r.window_start, r.event_type): r.cnt for r in batch.collect()}
        assert g == b and len(g) > 0
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)


# --- Kafka-wire topic: publisher + streaming consumer -----------------------


def test_wire_topic_publish_and_stream_decrypt(spark, sf_dir, tmpdir):
    """Publisher/pipeline split over the Kafka wire layout: publish an
    encrypted topic (value BINARY + headers, tampered), consume it as an
    unbounded stream, decrypt + verify in flight; the decrypted stream must
    equal the batch decode of the same topic, and survivors are exactly
    the untampered (even event_id) messages."""
    from dataflow_pubsub_message_encryption_spark.sources import wire

    n = wire.publish_topic(spark, sf_dir, tmpdir, tamper=True, n_files=4)
    assert n == load_events(spark, sf_dir).count()

    stream = wire.read_topic_stream(spark, tmpdir, max_files_per_trigger=1)
    got = _run_stream_to_memory(
        spark, wire.decode_wire(stream), "wire_decrypted"
    ).select("event_id", "props_decrypted")

    batch = wire.decode_wire(wire.read_topic_batch(spark, tmpdir)).select(
        "event_id", "props_decrypted"
    )
    g = {(r.event_id, r.props_decrypted) for r in got.collect()}
    b = {(r.event_id, r.props_decrypted) for r in batch.collect()}
    assert g == b and len(g) == n // 2
    assert all(eid % 2 == 0 for eid, _ in g)


def test_wire_topic_windowed_counts_stream_equals_batch(spark, sf_dir, tmpdir):
    """Full reference pipeline over the wire: encrypted topic -> streaming
    decrypt -> watermarked tumbling counts == the same aggregation computed
    in batch over the same topic."""
    from dataflow_pubsub_message_encryption_spark.sources import wire

    wire.publish_topic(spark, sf_dir, tmpdir, n_files=4)

    stream = wire.decode_wire(wire.read_topic_stream(spark, tmpdir))
    counts = st.windowed_counts_stream(stream, watermark="10 minutes")
    got = _run_stream_to_memory(spark, counts, "wire_counts")

    batch = (
        wire.decode_wire(wire.read_topic_batch(spark, tmpdir))
        .groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(F.count("*").alias("cnt"))
        .select(F.col("window.start").alias("window_start"), "event_type", "cnt")
    )
    g = {(r.window_start, r.event_type): r.cnt for r in got.collect()}
    b = {(r.window_start, r.event_type): r.cnt for r in batch.collect()}
    # append mode withholds windows the watermark never closed
    assert g and all(b[k] == v for k, v in g.items())


def test_wire_topic_hmac_mode(spark, sf_dir, tmpdir):
    """Wire topic signed with true HMAC-SHA256 decrypts + verifies."""
    from dataflow_pubsub_message_encryption_spark.sources import wire

    n = wire.publish_topic(
        spark, sf_dir, tmpdir, tamper=True, mac_mode="hmac", n_files=2
    )
    out = wire.decode_wire(
        wire.read_topic_batch(spark, tmpdir), mac_mode="hmac"
    )
    ids = [r.event_id for r in out.select("event_id").collect()]
    assert len(ids) == n // 2 and all(i % 2 == 0 for i in ids)


def test_wire_schema_matches_kafka_source_contract(spark, sf_dir, tmpdir):
    """The published topic's schema is byte-for-byte Spark's Kafka source
    schema — the documented drop-in seam."""
    from dataflow_pubsub_message_encryption_spark.sources import wire

    wire.publish_topic(spark, sf_dir, tmpdir, n_files=2)
    got = spark.read.parquet(tmpdir).schema.simpleString()
    want = (
        "struct<key:binary,value:binary,topic:string,partition:int,"
        "offset:bigint,timestamp:timestamp,timestampType:int,"
        "headers:array<struct<key:string,value:binary>>>"
    )
    assert got == want


def test_cdc_upsert_stream_equals_batch(spark, sf_dir, tmpdir):
    """foreachBatch MERGE upsert drained over a 4-file replay must equal
    the batch cdc_upsert_latest result exactly (latest-wins merge is
    associative, so ANY micro-batch split folds to the same state), and a
    checkpoint-resumed restart must not double-count versions."""
    import glob
    import os

    import pyarrow.parquet as pq

    from dataflow_pubsub_message_encryption_spark.operators.cdc import QUERIES as CQ
    from dataflow_pubsub_message_encryption_spark.streaming import (
        cdc_current_view,
        cdc_upsert_sink,
    )
    from dataflow_pubsub_message_encryption_spark.streaming.versioned import history

    def assert_one_live_version():
        # keep=1 retention: one committed version, one snapshot dir on disk
        assert len(history(target)) == 1
        vdirs = [d for d in os.listdir(target) if d[:1] == "v" and d[1:].isdigit()]
        assert len(vdirs) == 1, vdirs

    tbl = pq.read_table(glob.glob(f"{sf_dir}/events.parquet")[0])
    n = tbl.num_rows
    idx = tbl["ts"].to_pandas().sort_values().index
    src = f"{tmpdir}/src"
    os.makedirs(src)
    for i in range(4):
        pq.write_table(
            tbl.take(sorted(idx[i * n // 4 : (i + 1) * n // 4])),
            f"{src}/part{i}.parquet",
        )

    target, ckpt = f"{tmpdir}/target", f"{tmpdir}/ckpt"
    stream = st.events_file_stream(spark, src, max_files_per_trigger=1)
    q = cdc_upsert_sink(stream, target, ckpt).trigger(availableNow=True).start()
    q.awaitTermination(120)

    got = {
        r.user_id: (
            r.last_event_type,
            round(float(r.last_value), 2),
            r.last_ts.strftime("%Y-%m-%d %H:%M:%S.%f"),
            r.n_versions,
        )
        for r in cdc_current_view(spark, target).collect()
    }
    batch = {
        r.user_id: (r.last_event_type, r.last_value, r.last_ts, r.n_versions)
        for r in CQ["cdc_upsert_latest"](spark, sf_dir).collect()
    }
    assert got == batch
    assert_one_live_version()

    # restart from the same checkpoint: no new files -> state unchanged
    q2 = cdc_upsert_sink(
        st.events_file_stream(spark, src, max_files_per_trigger=1), target, ckpt
    ).trigger(availableNow=True).start()
    q2.awaitTermination(120)
    again = {
        r.user_id: r.n_versions for r in cdc_current_view(spark, target).collect()
    }
    assert again == {u: v[3] for u, v in got.items()}
    assert_one_live_version()


def test_session_window_stream_equals_batch_sessions(spark, sf_dir, tmpdir):
    """The streaming session_window aggregation, drained in complete mode
    over the full replay, must produce exactly the batch
    sessionize_gap_sql session set (same user, start, event count)."""
    import glob
    import shutil as sh

    from dataflow_pubsub_message_encryption_spark.operators.behavior import (
        QUERIES as BQ,
    )

    sh.copy(glob.glob(f"{sf_dir}/events.parquet")[0], f"{tmpdir}/events.parquet")
    stream = st.session_counts_stream(st.events_file_stream(spark, tmpdir))
    got = _run_stream_to_memory(spark, stream, "session_stream", mode="complete")
    g = {
        (r.user_id, r.session_start.strftime("%Y-%m-%d %H:%M:%S.%f")): r.n_events
        for r in got.collect()
    }
    b = {
        (r.user_id, r.session_start): r.n_events
        for r in BQ["sessionize_gap_sql"](spark, sf_dir).collect()
    }
    assert g == b


def test_transform_with_state_processor_logic():
    """TopPurchasesProcessor per-key logic against a fake ValueState:
    leaderboard merges across batches, n_seen accumulates, slots pad
    with None. (The Spark-side execution of transformWithStateInPandas
    needs protobuf, absent in this container — see stateful_v2.py; the
    end-to-end twin below auto-skips without it.)"""
    import pandas as pd

    from dataflow_pubsub_message_encryption_spark.streaming.stateful_v2 import (
        TopPurchasesProcessor,
    )

    class FakeState:
        def __init__(self):
            self._v = None

        def exists(self):
            return self._v is not None

        def get(self):
            return self._v

        def update(self, v):
            self._v = v

    p = TopPurchasesProcessor()
    p._state = FakeState()
    out1 = list(p.handleInputRows((7,), [pd.DataFrame({"value": [5.0, 2.0]})], None))
    r1 = out1[0].iloc[0]
    assert (r1.n_seen, r1.top1, r1.top2) == (2, 5.0, 2.0) and r1.top3 is None
    out2 = list(p.handleInputRows((7,), [pd.DataFrame({"value": [9.0, 1.0]})], None))
    r2 = out2[0].iloc[0]
    assert (r2.n_seen, r2.top1, r2.top2, r2.top3) == (4, 9.0, 5.0, 2.0)


def test_transform_with_state_top_purchases_equals_batch(spark, sf_dir, tmpdir):
    """transformWithStateInPandas leaderboard: drained over a 2-file
    replay, each user's FINAL update (max n_seen) must equal the batch
    top-3 purchase values and purchase count. Bootstraps the vendored
    pure-python protobuf runtime (streaming/_pb_vendor.py — the round-7
    unblock of the r6 env boundary) and routes it to the Python workers
    via sc.environment PYTHONPATH + the _worker_boot sitecustomize hook;
    skips only if no usable runtime exists at all."""
    from dataflow_pubsub_message_encryption_spark.streaming._pb_vendor import (
        BOOT_DIR,
        ensure_protobuf,
    )

    if not ensure_protobuf():
        pytest.skip("protobuf unavailable: no real install, no vendorable runtime")
    # workers fork from the daemon with env from sc.environment (merged
    # into the worker PYTHONPATH by PythonWorkerFactory) — this reaches
    # them even though the JVM predates the bootstrap
    spark.sparkContext.environment["PYTHONPATH"] = BOOT_DIR
    # transformWithState keeps each state variable in its own column
    # family — only the RocksDB provider supports that (the HDFS-backed
    # default hard-errors UNSUPPORTED_FEATURE); read per-query at start
    prev_provider = spark.conf.get(
        "spark.sql.streaming.stateStore.providerClass", None
    )
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider",
    )
    import glob
    try:

        import pyarrow.parquet as pq

        tbl = pq.read_table(glob.glob(f"{sf_dir}/events.parquet")[0])
        n = tbl.num_rows
        idx = tbl["ts"].to_pandas().sort_values().index
        import os as _os

        src = f"{tmpdir}/src"
        _os.makedirs(src)
        for i in range(2):
            pq.write_table(
                tbl.take(sorted(idx[i * n // 2 : (i + 1) * n // 2])),
                f"{src}/part{i}.parquet",
            )

        stream = st.running_top_purchases(
            st.events_file_stream(spark, src, max_files_per_trigger=1)
        )
        got_rows = _run_stream_to_memory(spark, stream, "twstate_top")
        final = {}
        for r in got_rows.collect():
            if r.user_id not in final or r.n_seen > final[r.user_id].n_seen:
                final[r.user_id] = r

        ev = load_events(spark, sf_dir)
        from collections import defaultdict

        purchases = defaultdict(list)
        for r in ev.filter(F.col("event_type") == "purchase").select(
            "user_id", "value"
        ).collect():
            purchases[r.user_id].append(r.value)
        assert purchases, "fixture must contain purchases"
        assert set(final) == set(purchases)
        for uid, vals in purchases.items():
            top = sorted(vals, reverse=True)[:3]
            got = [v for v in (final[uid].top1, final[uid].top2, final[uid].top3)
                   if v is not None]
            assert final[uid].n_seen == len(vals)
            assert got == top, f"user {uid}: {got} != {top}"
    finally:
        if prev_provider is None:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
        else:
            spark.conf.set(
                "spark.sql.streaming.stateStore.providerClass", prev_provider
            )
        spark.sparkContext.environment.pop("PYTHONPATH", None)


def test_watermark_progress_metrics_reported(spark, tmpdir):
    """Operational observability: StreamingQueryProgress must expose the
    signals an SRE alerts on — the event-time watermark advancing
    monotonically past the stream's frontier, and state eviction
    (numRowsRemoved) once windows close. (Probed 4.1.2:
    numRowsDroppedByWatermark stays 0 for this aggregation shape — the
    late row is filtered plan-side before the state operator; the DROP
    itself is asserted by row content in test_watermark_drops_late_rows,
    this test pins the metrics surface.)"""
    import pyarrow as pa
    import pyarrow.parquet as pq

    def write(batch_id, rows):
        tbl = pa.table(
            {
                "event_id": pa.array([r[0] for r in rows], pa.int64()),
                "ts": pa.array([r[1] for r in rows], pa.int64()),
                "user_id": pa.array([1] * len(rows), pa.int64()),
                "event_type": pa.array(["click"] * len(rows)),
                "value": pa.array([1.0] * len(rows)),
                "props": pa.array(['{"k": 1}'] * len(rows)),
            }
        )
        pq.write_table(tbl, f"{tmpdir}/b{batch_id}.parquet")

    H = 3_600_000_000_000
    base = 1_700_000_000_000_000_000
    write(0, [(0, base), (1, base + 4 * H)])
    write(1, [(2, base + 1), (3, base + 5 * H)])  # event 2 is hours late

    stream = st.windowed_counts_stream(
        st.events_file_stream(spark, tmpdir, max_files_per_trigger=1),
        watermark="10 minutes",
    )
    q = (
        stream.writeStream.format("memory")
        .queryName("wm_metrics")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    marks = [
        p["eventTime"]["watermark"]
        for p in q.recentProgress
        if p.get("eventTime", {}).get("watermark")
    ]
    assert marks == sorted(marks), "watermark must be monotone"
    assert marks and marks[-1] >= "2023-11-14T14", (
        f"watermark must pass the 4h frontier minus delay: {marks}"
    )
    removed = sum(
        op.get("numRowsRemoved", 0)
        for p in q.recentProgress
        for op in p.get("stateOperators", [])
    )
    assert removed >= 1, "closed windows must be evicted from state"


def test_observe_metrics_on_decrypt_pipeline(spark, sf_dir, tmpdir):
    """Dataset.observe: in-flight accumulator metrics (rows seen, MAC
    failures surface as seen-minus-emitted) collected DURING the pass —
    no second scan. The observability primitive a production pipeline
    attaches to the decrypt stage."""
    import glob
    import shutil as sh

    from pyspark.sql import Observation

    sh.copy(glob.glob(f"{sf_dir}/events.parquet")[0], f"{tmpdir}/events.parquet")
    ev = load_events(spark, tmpdir)
    from dataflow_pubsub_message_encryption_spark.sources import with_envelope
    from dataflow_pubsub_message_encryption_spark.functions import crypto

    env = with_envelope(ev, tamper=True)
    obs = Observation("wire")
    observed = env.observe(obs, F.count(F.lit(1)).alias("n_wire"))
    out = crypto.decrypt_verify(observed)
    n_out = out.count()
    n_wire = obs.get["n_wire"]
    n_total = ev.count()
    assert n_wire == n_total, "observe must count every wire row in-flight"
    # tamper=True corrupts odd event_ids: survivors are exactly the evens
    assert n_out == n_total - ev.filter(F.col("event_id") % 2 == 1).count()


def test_bitmap_distinct_stream_equals_batch(spark, sf_dir, tmpdir):
    """foreachBatch bitmap merge drained over a 4-file replay must equal
    the batch agg_bitmap_distinct exactly (bit_or is associative,
    commutative AND idempotent — any micro-batch split, and any replay,
    folds to the same word table)."""
    import glob
    import os

    import pyarrow.parquet as pq

    from dataflow_pubsub_message_encryption_spark.operators.scale import (
        QUERIES as SCQ,
    )

    tbl = pq.read_table(glob.glob(f"{sf_dir}/events.parquet")[0])
    n = tbl.num_rows
    src = f"{tmpdir}/src"
    os.makedirs(src)
    for i in range(4):
        pq.write_table(
            tbl.slice(i * n // 4, (i + 1) * n // 4 - i * n // 4),
            f"{src}/part{i}.parquet",
        )

    target, ckpt = f"{tmpdir}/target", f"{tmpdir}/ckpt"
    stream = st.events_file_stream(spark, src, max_files_per_trigger=1)
    q = st.bitmap_distinct_sink(stream, target, ckpt).trigger(
        availableNow=True
    ).start()
    q.awaitTermination(120)

    got = {
        r.event_type: (r.n_words, r.distinct_users)
        for r in st.bitmap_distinct_view(spark, target).collect()
    }
    batch = {
        r.event_type: (r.n_words, r.distinct_users)
        for r in SCQ["agg_bitmap_distinct"](spark, sf_dir).collect()
    }
    assert got == batch

    # replay from the same checkpoint: OR idempotence -> state unchanged
    q2 = st.bitmap_distinct_sink(
        st.events_file_stream(spark, src, max_files_per_trigger=1), target, ckpt
    ).trigger(availableNow=True).start()
    q2.awaitTermination(120)
    again = {
        r.event_type: (r.n_words, r.distinct_users)
        for r in st.bitmap_distinct_view(spark, target).collect()
    }
    assert again == batch


def test_stateful_v2_env_boundary_is_exactly_protobuf():
    """Pin the (round-7 unblocked) env boundary: the ONLY thing between
    this container and the transformWithStateInPandas e2e path is a
    usable protobuf runtime. streaming/_pb_vendor bootstraps the image's
    vendored pure-python runtime when no real install exists, so
    ensure_protobuf() must succeed exactly when a real protobuf OR the
    vendored SDK copy is present — if the SDK copy ever vanishes from
    the image (reverting the e2e to skip), this assertion makes that
    visible instead of silent."""
    import importlib
    import os

    from dataflow_pubsub_message_encryption_spark.streaming._pb_vendor import (
        VENDOR_DIR,
        ensure_protobuf,
    )

    try:
        importlib.import_module("google.protobuf")
        has_real = True
    except ImportError:
        has_real = False
    has_vendor = os.path.isdir(os.path.join(VENDOR_DIR, "google", "protobuf"))
    assert ensure_protobuf() == (has_real or has_vendor), (
        "protobuf bootstrap outcome diverged from runtime availability"
    )
    if has_real or has_vendor:
        # after a successful bootstrap the state protocol must import
        importlib.import_module(
            "pyspark.sql.streaming.proto.StateMessage_pb2"
        )


def test_protobuf_version_bypass_is_scoped():
    """The bootstrap's validator patch must admit ONLY the proven
    one-minor gencode/runtime skew — a gencode a full major (or two
    minors) ahead must still raise through the real validator. A blanket
    no-op here would silently accept any future skew for every protobuf
    user in the interpreter (the round-7 advisory)."""
    import pytest

    from dataflow_pubsub_message_encryption_spark.streaming._pb_vendor import (
        ensure_protobuf,
    )

    if not ensure_protobuf():
        pytest.skip("no protobuf runtime in this environment")
    from google.protobuf import runtime_version as rv

    v = rv.ValidateProtobufRuntimeVersion
    if not getattr(v, "_spark_graft_scoped", False):
        # a real protobuf install needs no patch — nothing to scope-check,
        # but the validator must then be the genuine article (a bare
        # lambda bypass would be the bug this test exists to catch)
        assert v.__module__ == "google.protobuf.runtime_version", (
            "validator replaced by an unscoped bypass"
        )
        pytest.skip("real protobuf runtime: validator unpatched")
    # the known-good skew passes...
    assert v(rv.Domain.PUBLIC, rv.MAJOR, rv.MINOR + 1, 0, "", "t.proto") is None
    # ...a larger skew still fails loudly (VersionError subclasses vary;
    # any raise is the contract)
    with pytest.raises(Exception):
        v(rv.Domain.PUBLIC, rv.MAJOR + 1, 0, 0, "", "t.proto")
    with pytest.raises(Exception):
        v(rv.Domain.PUBLIC, rv.MAJOR, rv.MINOR + 2, 0, "", "t.proto")


def test_cms_sketch_stream_equals_batch_grid(spark, sf_dir, tmpdir):
    """The streaming CMS counter grid, folded over a 4-file replay, must
    be BIT-IDENTICAL to the batch-built sketch (cell sums are associative
    over any micro-batch split), and a checkpoint-resumed restart must
    not double-count — SUM is not idempotent, so this e2e is what proves
    the batch-id journal + crash recovery actually carry the
    at-least-once contract (the bitmap twin's bit_or would mask a replay
    bug)."""
    import glob
    import os

    import pyarrow.parquet as pq

    from dataflow_pubsub_message_encryption_spark.streaming import (
        cms_grid_view,
        cms_sketch_sink,
    )
    from dataflow_pubsub_message_encryption_spark.streaming.cms import (
        _batch_cells,
    )
    from dataflow_pubsub_message_encryption_spark.sources import load_events

    tbl = pq.read_table(glob.glob(f"{sf_dir}/events.parquet")[0])
    n = tbl.num_rows
    src = f"{tmpdir}/src"
    os.makedirs(src)
    for i in range(4):
        pq.write_table(
            tbl.slice(i * n // 4, (i + 1) * n // 4 - i * n // 4),
            f"{src}/part{i}.parquet",
        )

    target, ckpt = f"{tmpdir}/target", f"{tmpdir}/ckpt"
    stream = st.events_file_stream(spark, src, max_files_per_trigger=1)
    q = cms_sketch_sink(stream, target, ckpt).trigger(availableNow=True).start()
    q.awaitTermination(120)

    got = {
        (r.i, r.p): r.c for r in cms_grid_view(spark, target).collect()
    }
    want = {
        (r.i, r.p): r.c
        for r in _batch_cells(load_events(spark, sf_dir)).collect()
    }
    assert got == want, "stream-folded grid diverged from batch grid"

    # restart from the same checkpoint: replayed batches must be skipped
    # (a double-count would inflate every touched cell)
    q2 = cms_sketch_sink(
        st.events_file_stream(spark, src, max_files_per_trigger=1), target, ckpt
    ).trigger(availableNow=True).start()
    q2.awaitTermination(120)
    again = {(r.i, r.p): r.c for r in cms_grid_view(spark, target).collect()}
    assert again == want, "checkpoint restart double-counted cells"

    # crash after the sink committed its version but before the engine
    # logged the batch done: drop the engine's last commit marker, so the
    # restart really re-runs that batch id — the sink must skip it
    last = max(
        int(f) for f in os.listdir(f"{ckpt}/commits") if f.isdigit()
    )
    os.remove(f"{ckpt}/commits/{last}")
    os.remove(f"{ckpt}/commits/.{last}.crc")
    q3 = cms_sketch_sink(
        st.events_file_stream(spark, src, max_files_per_trigger=1), target, ckpt
    ).trigger(availableNow=True).start()
    q3.awaitTermination(120)
    assert q3.lastProgress["batchId"] == last, "batch was not replayed"
    replayed = {
        (r.i, r.p): r.c for r in cms_grid_view(spark, target).collect()
    }
    assert replayed == want, "replayed batch double-counted cells"

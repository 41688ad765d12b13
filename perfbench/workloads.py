"""The three workloads. Each one stages its seeded inputs through the
engine, measures for the run's seconds, and checks every output outside
the timed region. See README.md for why each was chosen."""

from __future__ import annotations

import glob
import math
import os
import shutil
import threading
import time
from concurrent.futures import ThreadPoolExecutor

import numpy as np
import pyarrow.compute as pc
import pyarrow.parquet as pq

import gen
import stats

# --- stream_decrypt sizing --------------------------------------------------
#: messages per wire segment; the stream takes one segment per micro-batch
STREAM_SEG_MSGS = 2000
#: open-loop release rate, a third of the drain capacity measured at the
#: commit that introduced the benchmark (4 cores, ~1.5 segments/s): at
#: half of it, a machine running a third slower already queues segments,
#: and latency then measures the queue rather than the pipeline
STREAM_RATE_SEG_S = 0.5
STREAM_CAPACITY_SEG_S = 1.5
#: the open loop lasts the run's seconds; the drain backlog is sized to
#: take this share of them at the capacity above
STREAM_DRAIN_SHARE = 0.3
#: segments the measured query consumes before the open loop starts
#: (fewer leave the first open-loop batches visibly slower: JIT warming)
STREAM_WARM_SEGS = 8
STREAM_USERS = 1500


def stream_segments(seconds: int) -> tuple[int, int]:
    """(open-loop, drain) segment counts for a run of ``seconds``."""
    n_open = math.ceil(STREAM_RATE_SEG_S * seconds)
    n_drain = math.ceil(STREAM_CAPACITY_SEG_S * STREAM_DRAIN_SHARE * seconds)
    return max(2, n_open), max(2, n_drain)


# --- topic_batch sizing -----------------------------------------------------
TOPIC_MSGS = 20_000
#: one publish + consume round at the commit that introduced the benchmark
TOPIC_ROUND_S = 3.0
#: untimed rounds before the measured ones (the second is still warming)
TOPIC_WARM_ROUNDS = 2
TOPIC_USERS = 1500

# --- query_mix --------------------------------------------------------------
MIX_SF = 0.005
#: one warm pass over MIX at the commit that introduced the benchmark
MIX_PASS_S = 6.5
#: untimed noop passes after the checked one; passes keep getting faster
#: (JIT warming) for several executions of each query
MIX_WARM_PASSES = 1
#: (label, registry key, operators module): one query per module, from
#: the bench.py headline mix where its query for the module fits a run
MIX = [
    ("q4_encrypted_pipeline", "pipeline_end_to_end", "ref_pipeline"),
    ("q1_tpch_q1_agg", "agg_hash_groupby", "relational"),
    ("q10_tokenize_topterms", "text_tokenize_topterms", "text"),
    ("q9_near_dup_jaccard", "dedup_near_jaccard", "dedup"),
    ("q7_cosine_topk", "sim_cosine_topk", "similarity"),
    ("q25_cdc_chunking", "multimodal_cdc_chunk_savings", "multimodal"),
    ("corpus_source_mix", "corpus_source_mix", "curation"),
    ("graph_degree_histogram", "graph_degree_histogram", "graph"),
    ("q16_rolling_distinct", "events_rolling_distinct_users", "scale"),
]
MODULES = [m for _, _, m in MIX]
#: the tables a query_mix setup scans: the three with most rows
_MIX_STAGED = ["lineitem", "orders", "events"]


class Outcome:
    """What a workload measured and checked."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []
        self.e2e: dict[str, float] = {}
        self.named: dict[str, tuple[float, str]] = {}
        self.facts: dict = {}  # inputs to the per-layer fold
        self.detail: dict = {}  # workload-specific part of the detail line


def _latency_summary(out: Outcome, lat_s, weights) -> None:
    ms = [v * 1000.0 for v in lat_s]
    out.e2e["latency_p50_ms"] = stats.percentile(ms, 50.0, weights)
    out.e2e["latency_geomean_ms"] = stats.geomean(ms, weights)
    n = int(sum(weights))
    tail = stats.tail_percentile(n)
    out.facts["latency_tail"] = {
        "samples": n,
        "percentile": tail,
        "ms": stats.percentile(ms, tail, weights) if tail else None,
    }


def _load_events(b, in_dir: str) -> int:
    """The message workloads' setup staging: read the seeded events."""
    from dataflow_pubsub_message_encryption_spark.sources import fixtures

    with b.tracer.span("sources.load_events"):
        return fixtures.load_events(b.spark, in_dir).count()


def _topic_bytes(topic_dir: str) -> int:
    return sum(os.path.getsize(p) for p in glob.glob(f"{topic_dir}/*.parquet"))


def rounds_for(seconds: int, round_s: float) -> int:
    """Rounds of about ``round_s`` that fill ``seconds``; at least two.
    The count depends on the run's seconds only, so every run of one
    length does the same work."""
    return max(2, round(seconds / round_s))


# --- stream_decrypt ---------------------------------------------------------


def _segment_files(topic_dir: str) -> list[str]:
    """Published segments in release order (publish_topic stamps mtimes
    in time order, the order a file stream consumes them)."""
    return sorted(glob.glob(f"{topic_dir}/part-*.parquet"), key=os.path.getmtime)


def _segment_starts_us(files: list[str]) -> list[int]:
    starts = []
    for path in files:
        ts = pq.read_table(path, columns=["timestamp"])["timestamp"]
        starts.append(int(pc.min(ts.cast("timestamp[us]")).cast("int64").as_py()))
    return starts


class _OpenLoop:
    """Releases segments into the watched directory on a fixed schedule
    and records each one's due and actual release time."""

    def __init__(self, files, watch_dir, t0, rate):
        self.files, self.watch_dir, self.t0, self.rate = files, watch_dir, t0, rate
        self.released: list[tuple[int, float, float]] = []  # (seg, due, actual)
        self.thread = threading.Thread(target=self._run, daemon=True)

    def _run(self):
        for i, path in enumerate(self.files):
            due = self.t0 + i / self.rate
            delay = due - time.time()
            if delay > 0:
                time.sleep(delay)
            os.rename(path, os.path.join(self.watch_dir, os.path.basename(path)))
            self.released.append((i, due, time.time()))


def backlog_max(samples) -> int:
    """Largest (released - consumed) over (released, consumed) samples."""
    return max((r - c for r, c in samples), default=0)


def lateness_ms(released) -> list[float]:
    """How late the generator ran for each (seg, due, actual) release."""
    return [max(0.0, (actual - due) * 1000.0) for _, due, actual in released]


def stream_decrypt(b) -> Outcome:
    from pyspark.sql import functions as F

    from dataflow_pubsub_message_encryption_spark.sources import wire

    out = Outcome()
    n_open, n_drain = stream_segments(b.seconds)
    n_seg = STREAM_WARM_SEGS + n_open + n_drain
    rng = np.random.default_rng(b.seed)
    events = gen.events_table(rng, n_seg * STREAM_SEG_MSGS, STREAM_USERS)
    in_dir = b.path("in")
    pq.write_table(events, os.path.join(in_dir, "events.parquet"))

    b.setup(lambda rep: _load_events(b, in_dir))
    t_warm = time.time()
    topic = b.path("topic")
    with b.tracer.span("warmup"), b.tracer.span("sources.publish"):
        wire.publish_topic(
            b.spark, in_dir, topic, tamper=True, mac_mode="sha2", n_files=n_seg
        )
    files = _segment_files(topic)
    if len(files) != n_seg:
        raise RuntimeError(f"published {len(files)} segments, expected {n_seg}")
    starts = _segment_starts_us(files)
    ev_ts = events["ts"].cast("int64").to_numpy()
    ev_seg = np.searchsorted(np.array(starts), ev_ts, side="right") - 1
    ids = events["event_id"].to_numpy()
    k = np.array([int(p[6:-1]) for p in events["props"].to_pylist()])
    even = ids % 2 == 0
    seg_msgs = np.bincount(ev_seg, minlength=n_seg)
    exp_n = np.bincount(ev_seg[even], minlength=n_seg)
    exp_k = np.bincount(ev_seg[even], weights=k[even], minlength=n_seg)
    out.facts["topic_bytes_per_msg"] = _topic_bytes(topic) / len(events)

    bounds = F.array(*[F.lit(s) for s in starts])
    seg_col = F.size(F.filter(bounds, lambda s: s <= F.unix_micros("ts"))) - 1
    lock = threading.Lock()
    batches: list[tuple[int, float, list]] = []

    def sink(df, batch_id):
        rows = (
            df.select(
                seg_col.alias("seg"),
                F.get_json_object("props_decrypted", "$.k").cast("long").alias("k"),
                (F.col("event_id") % 2 == 0).cast("int").alias("even"),
            )
            .groupBy("seg")
            .agg(F.count("*").alias("n"), F.sum("k").alias("k"), F.sum("even").alias("e"))
            .collect()
        )
        done = time.time()
        with lock:
            batches.append((batch_id, done, [(r.seg, r.n, r.k, r.e) for r in rows]))

    def dec_query(watch, ckpt):
        dec = wire.decode_wire(wire.read_topic_stream(b.spark, watch), mac_mode="sha2")
        return dec.writeStream.foreachBatch(sink).option("checkpointLocation", ckpt).start()

    watch = b.path("watch")
    q = dec_query(watch, b.path("ckpt"))
    out.facts["query_id"] = q.id
    with b.tracer.span("warmup"):
        for path in files[:STREAM_WARM_SEGS]:
            os.rename(path, os.path.join(watch, os.path.basename(path)))
        q.processAllAvailable()
    b.warmup_s = time.time() - t_warm
    open_files = files[STREAM_WARM_SEGS:STREAM_WARM_SEGS + n_open]
    drain_files = files[STREAM_WARM_SEGS + n_open:]
    backlog: list[tuple[int, int]] = []
    with b.tracer.span("measure"):
        with b.tracer.span("streaming.open_loop"):
            gen_loop = _OpenLoop(open_files, watch, time.time() + 0.2, STREAM_RATE_SEG_S)
            gen_loop.thread.start()
            while gen_loop.thread.is_alive():
                with lock:
                    consumed = {
                        s for _, _, rows in batches for s, *_ in rows
                        if s >= STREAM_WARM_SEGS
                    }
                backlog.append((len(gen_loop.released), len(consumed)))
                time.sleep(0.05)
            gen_loop.thread.join()
            q.processAllAvailable()
        with b.tracer.span("streaming.drain"):
            t_drain = time.time()
            for path in drain_files:
                os.rename(path, os.path.join(watch, os.path.basename(path)))
            q.processAllAvailable()
            drain_s = time.time() - t_drain
    q.stop()

    # --- checks and metrics (outside the timed region) ---
    got_n = np.zeros(n_seg, dtype=np.int64)
    got_k = np.zeros(n_seg, dtype=np.int64)
    got_e = np.zeros(n_seg, dtype=np.int64)
    lat, weight = [], []
    due = {STREAM_WARM_SEGS + i: d for i, d, _ in gen_loop.released}
    for _, t_done, rows in batches:
        for s, n, ksum, e in rows:
            got_n[s] += n
            got_k[s] += ksum or 0
            got_e[s] += e or 0
            if s in due:
                lat.append(t_done - due[s])
                weight.append(n)
    out.attempted = int(len(events))
    out.failed = int(np.abs(got_n - exp_n).sum() + (got_n - got_e).sum())
    if out.failed:
        out.problems.append(f"stream: {out.failed} verified rows lost, duplicated or odd")
    if int(got_k.sum()) != int(exp_k.sum()):
        out.problems.append(f"stream: sum k {int(got_k.sum())} != {int(exp_k.sum())}")
    drain_msgs = int(seg_msgs[STREAM_WARM_SEGS + n_open:].sum())
    out.e2e["throughput_per_s"] = drain_msgs / drain_s
    _latency_summary(out, lat, weight)
    late = lateness_ms(gen_loop.released)
    out.facts.update(
        rows_in=int(len(events)),
        rows_verified=int(got_n.sum()),
        backlog_max=backlog_max(backlog),
        generator_late_ms=max(late),
        msgs=int(seg_msgs[STREAM_WARM_SEGS:].sum()),  # the measured batches
    )
    out.detail = {
        "open_loop_segments_per_s": STREAM_RATE_SEG_S,
        "latency_by_segment_ms": [round(v * 1000.0, 1) for v in lat],
        "backlog_max_segments": out.facts["backlog_max"],
        "generator_late_ms_max": out.facts["generator_late_ms"],
        "drain_s": drain_s,
    }
    out.facts["topic_dir"] = watch  # every segment ends up here
    out.facts["probe"] = (in_dir, "sha2")
    out.named = {
        "stream.drain_eps": (out.e2e["throughput_per_s"], "events/s"),
        "stream.latency_p50_ms": (out.e2e["latency_p50_ms"], "ms"),
        "stream.latency_p95_ms": (
            stats.percentile([v * 1000.0 for v in lat], 95.0, weight), "ms"
        ),
    }
    return out


# --- topic_batch ------------------------------------------------------------


def topic_batch(b) -> Outcome:
    from pyspark.sql import functions as F

    from dataflow_pubsub_message_encryption_spark.sources import wire

    out = Outcome()
    rng = np.random.default_rng(b.seed)
    events = gen.events_table(rng, TOPIC_MSGS, TOPIC_USERS)
    exp_n, exp_k = gen.expected_decode(events)
    in_dir = b.path("in")
    pq.write_table(events, os.path.join(in_dir, "events.parquet"))

    def publish(topic):
        with b.tracer.span("sources.publish"):
            return wire.publish_topic(
                b.spark, in_dir, topic, tamper=True, mac_mode="hmac",
                n_files=b.cores,
            )

    def consume(topic):
        with b.tracer.span("crypto.consume"):
            dec = wire.decode_wire(wire.read_topic_batch(b.spark, topic), mac_mode="hmac")
            return (
                dec.groupBy(F.window("ts", "1 hour"))
                .agg(
                    F.count("*").alias("n"),
                    F.sum(F.get_json_object("props_decrypted", "$.k").cast("long")).alias("k"),
                )
                .collect()
            )

    b.setup(lambda rep: _load_events(b, in_dir))
    with b.tracer.span("warmup"):
        t0 = time.time()
        for i in range(TOPIC_WARM_ROUNDS):
            warm = b.path(f"warm_topic{i}")
            publish(warm)
            consume(warm)
        b.warmup_s = time.time() - t0

    pub_s, con_s, results = [], [], []
    with b.tracer.span("measure"):
        for _ in range(rounds_for(b.seconds, TOPIC_ROUND_S)):
            topic = b.path(f"topic{len(pub_s)}")
            t0 = time.time()
            published = publish(topic)
            t1 = time.time()
            rows = consume(topic)
            t2 = time.time()
            pub_s.append(t1 - t0)
            con_s.append(t2 - t1)
            results.append((published, rows))
            if "topic_dir" in out.facts:
                shutil.rmtree(out.facts["topic_dir"])
            out.facts["topic_dir"] = topic

    rounds = len(pub_s)
    out.attempted = rounds * len(events)
    for published, rows in results:
        got_n = sum(r.n for r in rows)
        got_k = sum(r.k or 0 for r in rows)
        out.failed += abs(published - len(events)) + abs(got_n - exp_n)
        if got_k != exp_k:
            out.problems.append(f"topic: sum k {got_k} != {exp_k}")
    if out.failed:
        out.problems.append(f"topic: {out.failed} messages lost or duplicated")
    msgs = rounds * len(events)
    out.e2e["throughput_per_s"] = msgs / (sum(pub_s) + sum(con_s))
    _latency_summary(out, [p + c for p, c in zip(pub_s, con_s)], [1] * rounds)
    out.facts.update(
        rows_in=msgs,
        rows_verified=sum(sum(r.n for r in rows) for _, rows in results),
        topic_bytes_per_msg=_topic_bytes(out.facts["topic_dir"]) / len(events),
        msgs=msgs,
        probe=(in_dir, "hmac"),
    )
    out.detail = {"rounds": rounds, "publish_s": pub_s, "consume_s": con_s}
    out.named = {
        "publish.msgs_per_s": (msgs / sum(pub_s), "msgs/s"),
        "consume.msgs_per_s": (msgs / sum(con_s), "msgs/s"),
    }
    return out


# --- query_mix --------------------------------------------------------------


def noop(df) -> None:
    """Materialize ``df`` fully without collecting or writing it."""
    df.write.format("noop").mode("overwrite").save()


def _oracle_digest(pdf) -> tuple[int, int]:
    """(row count, order-insensitive hash) of a result, canonicalized the
    way tools/check.py compares Spark against DuckDB."""
    import hashlib

    df = pdf.reindex(sorted(pdf.columns), axis=1)
    df = df.astype(object).where(df.notnull(), None)
    rows = sorted(repr(tuple(repr(v) for v in r)) for r in df.itertuples(index=False))
    return len(rows), int(hashlib.sha256("\n".join(rows).encode()).hexdigest()[:15], 16)


def query_mix(b) -> Outcome:
    import duckdb

    from dataflow_pubsub_message_encryption_spark.materialize import release_pins
    from dataflow_pubsub_message_encryption_spark.operators import registry
    from dataflow_pubsub_message_encryption_spark.sources import fixtures

    out = Outcome()
    sf_dir = b.path("sf")
    gen.write_tables(sf_dir, b.seed, MIX_SF)
    queries, oracles = registry()

    def stage(rep):
        with b.tracer.span("sources.load_tables"):
            return sum(
                fixtures.load(b.spark, sf_dir, t).count() for t in _MIX_STAGED
            )

    b.setup(stage)
    con = duckdb.connect()
    for t in fixtures.TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )

    # warm-up pass: each query once through toPandas, three at a time (a
    # cold pass is mostly driver-side planning and code generation), then
    # checked against its DuckDB oracle outside every timer
    def collect(label, key):
        with b.tracer.span(f"warmup.{label}"):
            return queries[key](b.spark, sf_dir).toPandas()

    t0 = time.time()
    with ThreadPoolExecutor(max_workers=3) as pool:
        futures = {label: pool.submit(collect, label, key) for label, key, _ in MIX}
        results = {label: f.result() for label, f in futures.items()}
    release_pins(b.spark)
    for _ in range(MIX_WARM_PASSES):
        for label, key, _ in MIX:
            with b.tracer.span(f"warmup.{label}"):
                noop(queries[key](b.spark, sf_dir))
                release_pins(b.spark)
    b.warmup_s = time.time() - t0
    for label, key, _ in MIX:
        duck_pdf = con.execute(oracles[key]).fetchdf()
        if _oracle_digest(results[label]) != _oracle_digest(duck_pdf):
            out.failed += 1
            out.problems.append(f"mix: {label} ({key}) differs from its oracle")
    con.close()

    times: dict[str, list[float]] = {label: [] for label, _, _ in MIX}
    pins: list[int] = []
    passes = rounds_for(b.seconds, MIX_PASS_S)
    with b.tracer.span("measure"):
        for _ in range(passes):
            for label, key, module in MIX:
                with b.tracer.span(f"operators.{module}.{label}"):
                    t0 = time.time()
                    noop(queries[key](b.spark, sf_dir))
                    times[label].append(time.time() - t0)
                    with b.tracer.span("materialize.release_pins"):
                        pins.append(release_pins(b.spark))
    out.attempted = len(MIX) * (passes + 1)
    # each query's best pass: a slow execution (a GC, a late JIT compile)
    # does not move it
    best = {label: min(v) for label, v in times.items()}
    total = sum(best.values())
    out.e2e["throughput_per_s"] = len(MIX) / total
    _latency_summary(out, list(best.values()), [1] * len(MIX))
    out.facts.update(query_s=best, passes=passes, pins=sum(pins) / passes)
    out.detail = {"passes": passes, "query_s": best, "pass_s": [
        sum(v[i] for v in times.values()) for i in range(passes)]}
    out.named = {
        "mix.total_s": (total, "s"),
        "mix.geomean_s": (stats.geomean(list(best.values())), "s"),
    }
    return out


WORKLOADS = {
    "stream_decrypt": stream_decrypt,
    "topic_batch": topic_batch,
    "query_mix": query_mix,
}

"""Benchmark of the spark-graft engine: one command per workload run.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout. It generates the workload's inputs from
``--seed`` under ``.perfbench_work/``, starts the session and stages the
inputs through the engine three times (``setup_s`` is the session start
plus the median staging), measures for ``--seconds``, checks every
output, and prints as its last stdout line one JSON object with
``correct``, ``attempted``, ``failed`` and ``metrics``. With ``--trace 0``
the metrics are the end-to-end ones of BENCHMARK.json; with ``--trace 1``
Spark's event log is turned on from outside the engine and the metrics
are the per-layer ones. The line before it is a detail record (named
metrics with units, tail latency, environment). Workloads: stream_decrypt,
topic_batch, query_mix (see perfbench/README.md).
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "dataflow_pubsub_message_encryption_spark"
#: input stagings per run; setup_s is the session launch plus their median
SETUP_REPS = 3
#: driver heap, sized so the JVM, 4 Python workers and the benchmark fit
#: a 16 GB machine shared with other work
DRIVER_MEM = "3g"
#: a run that has not finished by then is stopped and fails
DEADLINE_S = 170
#: untraced results kept per workload for the tracing-overhead figure
_KEEP_UNTRACED = 10

E2E_UNITS = {
    "setup_s": "s",
    "peak_rss_mb": "MB",
    "throughput_per_s": "1/s",
    "latency_p50_ms": "ms",
    "latency_geomean_ms": "ms",
}


def _pss_bytes(pid: int) -> int:
    """Proportional set size: resident pages, each shared page divided
    among the processes that map it."""
    with open(f"/proc/{pid}/smaps_rollup") as fh:
        for line in fh:
            if line.startswith("Pss:"):
                return int(line.split()[1]) * 1024
    return 0


def _process_tree(root_pid: int) -> dict[int, str]:
    """``root_pid`` and all its descendants: pid -> command name."""
    parent: dict[int, int] = {}
    comm: dict[int, str] = {}
    for stat in glob.glob("/proc/[0-9]*/stat"):
        try:
            with open(stat) as fh:
                head, tail = fh.read().rsplit(")", 1)
            pid = int(stat.split("/")[2])
            parent[pid] = int(tail.split()[1])
            comm[pid] = head.split("(", 1)[1]
        except (OSError, IndexError, ValueError):
            continue  # the process ended while we read it
    tree, frontier = {root_pid}, [root_pid]
    while frontier:
        p = frontier.pop()
        kids = [c for c, pp in parent.items() if pp == p and c not in tree]
        tree.update(kids)
        frontier.extend(kids)
    return {p: comm[p] for p in tree if p in comm}


def _tree_rss_mb(root_pid: int) -> dict[str, float]:
    """Resident memory of ``root_pid`` and all its descendants, in MB, by
    command name (the driver interpreter, ``java``, Python workers).
    Summing PSS counts a page shared by forked processes once: the
    Python workers share the daemon's pages, and a JVM that forks to
    start a worker is briefly two processes with one set of pages."""
    comm = _process_tree(root_pid)
    out: dict[str, float] = {}
    for p in comm:
        try:
            size = _pss_bytes(p)
        except (OSError, ValueError):
            continue  # the process ended while we read it
        out[comm[p]] = out.get(comm[p], 0.0) + size / 1e6
    return out


class _RssSampler:
    """Samples the process tree's memory; keeps the peak total and the
    breakdown at that peak. A peak must hold for two samples in a row: a
    JVM thread that starts a process vforks, and for that instant the
    child reports the whole JVM address space as its own."""

    def __init__(self, period_s: float = 0.25):
        self.peak_mb = 0.0
        self.peak_by_command: dict[str, float] = {}
        self._stop = threading.Event()
        self._period = period_s
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self):
        prev: dict[str, float] = {}
        while not self._stop.is_set():
            cur = _tree_rss_mb(os.getpid())
            held = min((prev, cur), key=lambda d: sum(d.values()))
            if sum(held.values()) > self.peak_mb:
                self.peak_mb = sum(held.values())
                self.peak_by_command = held
            prev = cur
            self._stop.wait(self._period)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()


class Bench:
    """One run: its work directory, session, tracer and setup timings."""

    def __init__(self, args, work: str):
        from spans import Tracer

        self.workload = args.workload
        self.seed = args.seed
        self.seconds = args.seconds
        self.trace = bool(args.trace)
        self.work = work
        self.cores = len(os.sched_getaffinity(0))
        self.tracer = Tracer(f"{args.workload}-{args.seed}", self.trace)
        self.spark = None
        self.launch_s = 0.0
        self.stage_s: list[float] = []
        self.warmup_s = 0.0

    def path(self, name: str) -> str:
        p = os.path.join(self.work, name)
        os.makedirs(p, exist_ok=True)
        return p

    def setup(self, stage):
        """Launch the JVM and the session, then stage the inputs through
        the engine SETUP_REPS times; returns the last stage's result."""
        from dataflow_pubsub_message_encryption_spark.session import get_session

        t0 = time.time()
        with self.tracer.span("session.start"):
            self.spark = get_session("perfbench", cpus=self.cores)
            self.spark.sparkContext.setLogLevel("ERROR")
            self.tracer.sc = self.spark.sparkContext
        self.launch_s = time.time() - t0
        result = None
        for rep in range(SETUP_REPS):
            t0 = time.time()
            with self.tracer.span("setup.stage"):
                result = stage(rep)
            self.stage_s.append(time.time() - t0)
        return result

    def stop(self):
        self.tracer.sc = None
        if self.spark is not None:
            self.spark.stop()
            self.spark = None


def _stop_jvm() -> None:
    """End the JVM PySpark launched and wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def _end_descendants(grace_s: float = 20.0) -> None:
    """Terminate every process this run started that is still alive (a
    run stopped while the JVM was starting has no gateway to shut down)
    and wait until each has ended."""
    left = set(_process_tree(os.getpid())) - {os.getpid()}
    for sig in (signal.SIGTERM, signal.SIGKILL):
        for p in left:
            try:
                os.kill(p, sig)
            except ProcessLookupError:
                pass
        deadline = time.time() + grace_s
        while left and time.time() < deadline:
            while True:  # reap our own children so they do not linger
                try:
                    if os.waitpid(-1, os.WNOHANG)[0] == 0:
                        break
                except ChildProcessError:
                    break
            left = {p for p in left if os.path.exists(f"/proc/{p}")}
            time.sleep(0.1)
        if not left:
            return


def _environment(work: str, trace: bool) -> None:
    """Size the session to the machine and keep every file inside the
    checkout, from outside the engine (its code reads these)."""
    cores = len(os.sched_getaffinity(0))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    # Python workers import the engine package by name
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["TMPDIR"] = tmp
    # the launcher JVM that spark-submit runs first
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    conf = [
        f"--driver-java-options=-Djava.io.tmpdir={tmp} -XX:-UsePerfData -Xms1g",
        "--conf", "spark.ui.showConsoleProgress=false",
        "--conf", f"spark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
    ]
    if trace:
        log_dir = os.path.join(work, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        conf += [
            "--conf", "spark.eventLog.enabled=true",
            "--conf", f"spark.eventLog.dir=file://{log_dir}",
            "--conf", "spark.eventLog.compress=false",
            "--conf", "spark.eventLog.rolling.enabled=false",
        ]
    import shlex

    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join(conf + ["pyspark-shell"])


def _untraced_reference(args, state_dir: str) -> float:
    """Median untraced throughput for this workload: from earlier
    untraced runs in this checkout, else from one untraced run now."""
    path = os.path.join(state_dir, f"untraced-{args.workload}.json")
    if os.path.exists(path):
        with open(path) as fh:
            return statistics.median(json.load(fh))
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", args.workload,
           "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", "0"]
    proc = subprocess.run(cmd, capture_output=True, text=True,
                          timeout=100, cwd=ROOT, check=True)
    return json.loads(proc.stdout.strip().splitlines()[-1])["metrics"][
        "throughput_per_s"]["value"]


def _remember_untraced(args, state_dir: str, value: float) -> None:
    path = os.path.join(state_dir, f"untraced-{args.workload}.json")
    old = []
    if os.path.exists(path):
        with open(path) as fh:
            old = json.load(fh)
    with open(path, "w") as fh:
        json.dump((old + [value])[-_KEEP_UNTRACED:], fh)


def _probe(b, out) -> None:
    """Traced runs only: time the topic read, the decode and the
    envelope encrypt each alone, after the measured phase."""
    from dataflow_pubsub_message_encryption_spark.sources import fixtures, wire
    from workloads import noop

    in_dir, mac_mode = out.facts["probe"]
    topic = out.facts["topic_dir"]

    with b.tracer.span("probe.sources.scan"):
        noop(wire.read_topic_batch(b.spark, topic))
    with b.tracer.span("probe.crypto.decrypt_verify"):
        noop(
            wire.decode_wire(wire.read_topic_batch(b.spark, topic), mac_mode=mac_mode)
        )
    with b.tracer.span("probe.crypto.encrypt"):
        noop(fixtures.with_envelope(
            fixtures.load_events(b.spark, in_dir), tamper=True, mac_mode=mac_mode))


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    t_start = time.time()

    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"run.py: engine package {PACKAGE}/ not found under {ROOT}; "
              "run from the root of a full checkout", file=sys.stderr)
        return 2
    sys.path[:0] = [HERE, ROOT]
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"run.py: unknown workload {args.workload!r}; choose from "
              f"{sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2
    if args.seconds < 1:
        print("run.py: --seconds must be at least 1", file=sys.stderr)
        return 2

    state_dir = os.path.join(ROOT, ".perfbench_work")
    os.makedirs(state_dir, exist_ok=True)
    overhead_ref = _untraced_reference(args, state_dir) if args.trace else None
    work = os.path.join(state_dir, f"{args.workload}-{args.seed}-{os.getpid()}")
    _environment(work, bool(args.trace))

    def _deadline(signum, frame):
        raise TimeoutError(f"run exceeded {DEADLINE_S} s")

    signal.signal(signal.SIGALRM, _deadline)
    # a terminated run still stops Spark and removes its work directory
    signal.signal(signal.SIGTERM, lambda signum, frame: sys.exit(128 + signum))
    signal.alarm(max(1, int(DEADLINE_S - (time.time() - t_start))))
    load_start = os.getloadavg()[0]
    b = Bench(args, work)
    try:
        with _RssSampler() as rss:
            out = workloads.WORKLOADS[args.workload](b)
            if args.trace and "probe" in out.facts:
                _probe(b, out)
            spark_version = b.spark.version
            b.stop()
        signal.alarm(0)
        out.e2e["setup_s"] = b.launch_s + statistics.median(b.stage_s)
        out.e2e["peak_rss_mb"] = rss.peak_mb
        detail = {
            "workload": args.workload,
            "seed": args.seed,
            "trace": args.trace,
            "named": {k: {"value": v, "unit": u} for k, (v, u) in out.named.items()},
            "latency_tail": out.facts["latency_tail"],
            "session_start_s": b.launch_s,
            "stage_reps_s": b.stage_s,
            "peak_rss_mb_by_command": rss.peak_by_command,
            "problems": out.problems,
            **out.detail,
            "env": {
                "cores": b.cores,
                "driver_mem": DRIVER_MEM,
                "spark": spark_version,
                "loadavg_1m": [load_start, os.getloadavg()[0]],
            },
        }
        if args.trace:
            import layers
            from spans import EventLog, read_event_log

            (log_path,) = glob.glob(os.path.join(work, "eventlog", "*"))
            log = EventLog(read_event_log(log_path))
            b.tracer.write(os.path.join(state_dir, f"spans-{args.workload}.json"))
            values = layers.fold(b, out, b.tracer.spans, log)
            values["trace.overhead_pct"] = 100.0 * (
                overhead_ref / out.e2e["throughput_per_s"] - 1.0
            )
            metrics = {
                name: {"value": values[name], "unit": unit}
                for name, unit, _ in layers.PER_LAYER
            }
        else:
            _remember_untraced(args, state_dir, out.e2e["throughput_per_s"])
            metrics = {
                name: {"value": out.e2e[name], "unit": unit}
                for name, unit in E2E_UNITS.items()
            }
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        signal.alarm(0)
        try:
            b.stop()
        finally:
            try:
                _stop_jvm()
            finally:
                _end_descendants()
                shutil.rmtree(work, ignore_errors=True)

    print(json.dumps(detail))
    print(json.dumps({
        "correct": not out.problems,
        "attempted": out.attempted,
        "failed": out.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())

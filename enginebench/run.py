#!/usr/bin/env python3
"""Closed-loop engine benchmark for the Spark segment engine.

    python3 enginebench/run.py --workload crm_agent --seed 1 --seconds 10 --trace 0

Workloads: ``crm_agent`` (the agent's ``api`` tool calls on a 1M-row fan
table), ``olap`` (read-only registry analytics) and ``pipeline`` (registry
dedup, text, streaming and write operators). See ``enginebench/DESIGN.md``.

A run generates its inputs from ``--seed`` (cached per seed), sets up the
session, runs an untimed warm-up, then runs whole blocks of the workload's
op deck until ``--seconds`` have passed, timing each op alone. Every op's
output is checked after the clock stops. With ``--trace 1`` the run repeats
the timed phase on a fresh session with spans, Spark job groups and an event
log, then once more untraced, and reports per-layer metrics instead of
end-to-end ones.

The last line of stdout is the result:
``{"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}``; the
line before it is the full record (box state, phase times, set-up samples,
per-kind latencies and, for a traced run, every span and each span name's
self time).
"""

from __future__ import annotations

import sys

sys.dont_write_bytecode = True

import argparse  # noqa: E402
import atexit  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import resource  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import tempfile  # noqa: E402
import time  # noqa: E402
from dataclasses import dataclass  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from enginebench import gen, tracing  # noqa: E402
from enginebench.stats import BoxProbe, gmean, nearest_rank, tail_percentile  # noqa: E402
from enginebench.workloads import WORKLOADS, Op  # noqa: E402

#: driver heap for every run (the program's 16g default exceeds small boxes)
HEAP = "2g"
#: set-ups per run: the first (which starts the JVM) plus repeats on the
#: same JVM after ``spark.stop()``; ``setup_s`` is their median
SETUP_REPEATS = 2

UNITS = {"setup_s": "s", "ops_per_s": "1/s", "op_gmean_s": "s"}


@dataclass
class Sample:
    op: Op
    seconds: float
    out: object
    error: str | None
    start: float  # epoch seconds, to line up with event-log stage windows
    end: float
    ok: bool = False


class Run:
    """One benchmark process: its temp root, session and samples."""

    def __init__(self, workload, seed: int, smoke: bool) -> None:
        self.wl = workload
        self.seed = seed
        self.smoke = smoke
        self.cpus = len(os.sched_getaffinity(0))
        os.makedirs(os.path.join(HERE, ".run"), exist_ok=True)
        self.root = tempfile.mkdtemp(prefix=f"{workload.name}-", dir=os.path.join(HERE, ".run"))
        atexit.register(shutil.rmtree, self.root, ignore_errors=True)
        self.dirs = {k: os.path.join(self.root, k) for k in
                     ("warehouse", "tmp", "local", "events", "checkpoint")}
        for d in self.dirs.values():
            os.makedirs(d)
        # everything the program or Spark writes lands under the run root
        os.environ.update({
            "SPARK_GRAFT_CPUS": str(self.cpus),
            "SPARK_GRAFT_DRIVER_MEM": HEAP,
            "SPARK_LOCAL_DIRS": self.dirs["local"],
            "TMPDIR": self.dirs["tmp"],
            "PYTHONDONTWRITEBYTECODE": "1",
            # every JVM of the run, the launcher's too: temp files under the
            # run root, and no hsperfdata file in the system temp dir
            "JAVA_TOOL_OPTIONS": f"-XX:-UsePerfData -Djava.io.tmpdir={self.dirs['tmp']}",
        })
        tempfile.tempdir = self.dirs["tmp"]
        self.spark = None
        self.ctx = None
        self.setups: list[tuple[float, float]] = []

    # ---- inputs

    def inputs(self) -> tuple[str, float]:
        ds = self.wl.dataset(self.smoke)
        if isinstance(ds, str):
            return ds, 0.0
        kind, size = ds
        return gen.ensure(kind, size, self.seed, os.path.join(HERE, ".cache"))

    # ---- session

    def conf(self, event_log: bool) -> dict[str, str]:
        return {
            "spark.sql.warehouse.dir": self.dirs["warehouse"],
            "spark.eventLog.enabled": str(event_log).lower(),
            "spark.eventLog.dir": "file://" + self.dirs["events"],
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        }

    def start(self, data_dir: str, tracer, event_log: bool = False) -> None:
        """Set up: ``session.get_spark`` until table registration returns."""
        from hive_feature_demo_spark.session import get_spark

        t0 = time.perf_counter()
        with tracer.span("session.start"):
            self.spark = get_spark(app_name="enginebench", extra_conf=self.conf(event_log))
        t1 = time.perf_counter()
        with tracer.span("catalog.register"):
            self.ctx = self.wl.register(self.spark, data_dir)
        t2 = time.perf_counter()
        self.setups.append((t1 - t0, t2 - t1))
        self.spark.sparkContext.setCheckpointDir(self.dirs["checkpoint"])

    def stop(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def shutdown_jvm(self) -> None:
        """Stop the session and wait for the JVM process to exit."""
        from pyspark import SparkContext

        self.stop()
        gw = SparkContext._gateway
        if gw is None:
            return
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except Exception:
                proc.kill()
                proc.wait()

    def peak_rss_mb(self) -> dict[str, float]:
        """Peak RSS so far of this Python process and of the JVM, in MB."""
        from pyspark import SparkContext

        jvm_kb = 0
        with open(f"/proc/{SparkContext._gateway.proc.pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    jvm_kb = int(line.split()[1])
        py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
        return {"python": py_kb / 1024, "jvm": jvm_kb / 1024}

    # ---- ops

    def run_op(self, op: Op, tracer, op_id: int | None = None) -> Sample:
        before = _persistent_ids(self.spark)
        start = time.time()
        t0 = time.perf_counter()
        out, error = None, None
        try:
            with tracer.span("op", op=op_id):
                out = self.wl.execute(self.ctx, op, tracer)
        except Exception as exc:  # an op that raises counts as failed
            error = f"{type(exc).__name__}: {exc}"[:500]
        dt = time.perf_counter() - t0
        end = time.time()
        # release what the op persisted or localCheckpoint()ed, so storage
        # memory does not fill up across the run
        _unpersist_ids(self.spark, _persistent_ids(self.spark) - before)
        return Sample(op, dt, out, error, start, end)

    def warmup(self) -> float:
        t0 = time.perf_counter()
        null = tracing.NullTracer()
        self.warm = [self.run_op(op, null) for op in self.wl.warmup(self.seed)]
        return time.perf_counter() - t0

    def measure(self, seconds: float, tracer) -> list[Sample]:
        """Run ``seconds`` worth of whole deck blocks, timing each op alone.

        The block count comes from the workload's nominal block time, not
        from the clock, so every run of a workload does the same work
        whatever the box's speed."""
        deck = self.wl.deck(self.seed)
        samples: list[Sample] = []
        for i in range(max(1, int(seconds / self.wl.block_s + 0.5))):
            for op in deck[i % len(deck)]:
                samples.append(self.run_op(op, tracer, len(samples)))
        return samples

    def bytes_on_disk(self) -> int:
        """Bytes under the warehouse and scratch dirs."""
        return _dir_bytes(self.dirs["warehouse"]) + _dir_bytes(self.dirs["tmp"])


def _persistent_ids(spark) -> set:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())


def _unpersist_ids(spark, ids) -> None:
    jmap = spark.sparkContext._jsc.getPersistentRDDs()
    for i in ids:
        rdd = jmap.get(i)
        if rdd is not None:
            rdd.unpersist(False)


def _dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(root, f))
            except OSError:
                pass
    return total


def check(samples: list[Sample], oracle) -> float:
    """Mark each sample ok when its output matches the oracle; returns the
    seconds spent in the oracle (DuckDB), kept apart from Spark time."""
    t0 = time.perf_counter()
    for s in samples:
        if s.error is None:
            s.ok = oracle.same(s.op, s.out, oracle.expected(s.op, s.out))
            if not s.ok:
                s.error = "output does not match the oracle"
    return time.perf_counter() - t0


def end_to_end(samples: list[Sample], setup_s: float) -> dict[str, float]:
    """Throughput and geometric mean over the timed ops, each op counted at
    the median latency of its kind over the run, so a burst of load that
    slows a few ops (one pass of the registry deck) moves neither."""
    kinds: dict[str, list[float]] = {}
    for s in samples:
        kinds.setdefault(s.op.kind, []).append(s.seconds)
    seconds = [statistics.median(kinds[s.op.kind]) for s in samples]
    ok = [t for s, t in zip(samples, seconds) if s.ok]
    return {
        "setup_s": setup_s,
        "ops_per_s": len(ok) / sum(seconds),
        # over completed ops; if none completed the run is incorrect anyway
        "op_gmean_s": gmean(ok or seconds),
    }


def by_kind(samples: list[Sample]) -> dict[str, dict]:
    kinds: dict[str, list[float]] = {}
    for s in samples:
        kinds.setdefault(s.op.kind, []).append(s.seconds)
    return {
        k: {"n": len(v), "p50_s": nearest_rank(v, 0.5),
            "p90_s": tail_percentile(v, 0.9), "max_s": max(v)}
        for k, v in sorted(kinds.items())
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="tiny inputs: sf0.001 tables and the 80-row fan fixture")
    args = ap.parse_args(argv)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    import hive_feature_demo_spark.plans  # noqa: F401 -- fail fast without the program

    wl = WORKLOADS[args.workload]
    run = Run(wl, args.seed, args.smoke)
    atexit.register(run.shutdown_jvm)  # runs before the temp root is removed
    box = BoxProbe()  # before the JVM starts
    data_dir, gen_s = run.inputs()
    oracle = wl.oracle(data_dir, run.cpus)
    null = tracing.NullTracer()
    tracer = null

    phases = {"gen_s": gen_s}
    clock = time.perf_counter()

    def lap(name: str) -> None:
        nonlocal clock
        now = time.perf_counter()
        phases[name] = now - clock
        clock = now

    run.start(data_dir, null)
    lap("setup_s")
    warmup_s = run.warmup()
    if hasattr(oracle, "warm"):
        for s in run.warm:
            if s.error is None:
                oracle.warm.setdefault(s.op.kind, oracle.canon(s.out))
    lap("warmup_s")
    # a traced run reports no end-to-end metric, so its three phases are
    # each half as long, which keeps it well inside the per-run time limit
    samples = run.measure(args.seconds / 2 if args.trace else args.seconds, null)
    lap("measure_s")

    traced: list[Sample] = []
    if args.trace:
        # A-B-A: the traced phase B sits between two untraced phases of the
        # same length, B and the second A each on a fresh session of the
        # same JVM, so JIT warm-up favours neither side
        run.stop()
        tracer = tracing.Tracer()
        run.start(data_dir, tracer, event_log=True)
        tracer.sc = run.spark.sparkContext
        on_disk = run.bytes_on_disk()
        traced = run.measure(args.seconds / 2, tracer)
        bytes_left = run.bytes_on_disk() - on_disk
        dedup = wl.dedup_probe(run.ctx)
        run.stop()
        run.start(data_dir, null)
        after = run.measure(args.seconds / 2, null)
        lap("traced_s")

    for _ in range(SETUP_REPEATS):
        run.stop()
        run.start(data_dir, null)
    lap("setup_repeats_s")
    rss = run.peak_rss_mb()
    run.shutdown_jvm()
    lap("shutdown_s")

    check_s = check(samples, oracle) + check(traced, oracle)
    if args.trace:
        check_s += check(after, oracle)
        traced_all = traced + after
    else:
        traced_all = []
    lap("check_s")
    setup_s = statistics.median(a + b for a, b in run.setups)
    e2e = end_to_end(samples, setup_s)
    all_samples = samples + traced_all
    failed = sum(not s.ok for s in all_samples)

    if args.trace:
        from enginebench.layers import per_layer

        untraced = (e2e["ops_per_s"] + end_to_end(after, setup_s)["ops_per_s"]) / 2
        metrics = per_layer(
            traced, tracer.spans, tracing.fold_event_log(run.dirs["events"]), dedup, run.cpus,
            base={
                "session.start_s": statistics.median(a for a, _ in run.setups),
                "catalog.register_s": statistics.median(b for _, b in run.setups),
                "bytes_left": bytes_left,
                "rss": rss,
                "gen_s": gen_s,
                "warmup_s": warmup_s,
                "oracle.check_s": check_s / len(all_samples),
                "trace.ops_per_s": end_to_end(traced, setup_s)["ops_per_s"],
                "untraced_ops_per_s": untraced,
            },
        )
    else:
        metrics = e2e

    record = {
        "workload": wl.name, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "smoke": args.smoke,
        "box": box.finish(),
        "phases_s": phases, "peak_rss_mb": rss,
        "setups_s": run.setups,
        "end_to_end": e2e,
        "kinds": by_kind(samples),
        "samples": [[s.op.kind, s.seconds] for s in samples],
        "errors": sorted({s.error for s in all_samples if s.error})[:5],
    }
    if args.trace:
        record["span_self_s"] = tracer.self_times()
        record["spans"] = [sp.__dict__ for sp in tracer.spans]
    print(json.dumps(record))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": len(all_samples),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": _unit(k)} for k, v in metrics.items()},
    }))
    return 0


def _unit(name: str) -> str:
    from enginebench.layers import UNITS as LAYER_UNITS

    return UNITS.get(name) or LAYER_UNITS[name]


if __name__ == "__main__":
    sys.exit(main())

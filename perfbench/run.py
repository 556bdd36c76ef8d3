#!/usr/bin/env python3
"""Closed-loop benchmark of small_etl_spark: one client, one driver process.

    python3 perfbench/run.py --workload analytics|etl --seed N \
        --seconds S --trace 0|1

Run from the root of a checkout. The run generates its inputs from
``--seed`` under ``.perfbench_work/`` in the checkout, starts one Spark
session on ``local[N]`` (N = usable cores), runs the workload's untimed
warm-up rounds, then runs timed rounds back to back for ``--seconds``
and at least three rounds. A round calls every entry of the workload
once.

The last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0``
the metrics are the end-to-end ones; with ``--trace 1`` timed rounds
alternate between traced and untraced, and the metrics are the
per-layer ones, read from the Spark jobs each call started (see
``layers.py``). Every metric is also printed by name with its unit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import layers  # noqa: E402
from perfbench.workloads import WORKLOADS  # noqa: E402

END_TO_END = {"unit_cpu_s": "s", "setup_s": "s", "retained_mb": "MB"}
# per-layer metrics and their units; every workload reports all of them,
# so a layer a workload does not reach reads 0
PER_LAYER = {
    "unit.p50_s": "s",
    "session.start_s": "s",
    "sources.input_bytes": "bytes",
    "sources.input_rows": "count",
    "queries.build_ms": "ms",
    "queries.build_jobs": "count",
    "operators.wall_ms": "ms",
    "operators.run_ms": "ms",
    "operators.cpu_ms": "ms",
    "operators.gc_ms": "ms",
    "operators.stages": "count",
    "operators.tasks": "count",
    "operators.shuffle_write_bytes": "bytes",
    "operators.spill_bytes": "bytes",
    "llm.wall_ms": "ms",
    "llm.run_ms": "ms",
    "llm.cpu_ms": "ms",
    "llm.tasks": "count",
    "llm.shuffle_write_bytes": "bytes",
    "llm.output_rows": "count",
    "plans.sequence_ms": "ms",
    "plans.jobs": "count",
    "plans.driver_cpu_s": "s",
    "plans.stage_ms.posts": "ms",
    "plans.stage_ms.news": "ms",
    "plans.stage_ms.combined": "ms",
    "sinks.files_bytes": "bytes",
    "sinks.files_count": "count",
    "sinks.versioned_merge_ms": "ms",
    "sinks.versioned_read_ms": "ms",
    "sinks.manifest_bytes": "bytes",
    "monitor.cpu_s": "s",
    "monitor.rss_mb": "MB",
    "monitor.rss_growth_mb": "MB",
    "monitor.temp_bytes": "bytes",
    "host.probe_s": "s",
    "host.calibration_s": "s",
    "host.steal_pct": "%",
    "trace.overhead_pct": "%",
    "trace.count_mismatches": "count",
}
# per-layer counts that must repeat exactly between traced rounds
# (bytes of files a unit writes itself are not among them: the sequence
# stamps each row with its processing time)
REPEATABLE = (
    "sources.input_rows", "queries.build_jobs",
    "operators.stages", "operators.tasks", "operators.shuffle_write_bytes",
    "llm.tasks", "llm.shuffle_write_bytes", "plans.jobs", "sinks.files_count",
)


def layer_metrics(spans: dict, extra: dict) -> dict[str, float]:
    """One traced round's spans and extras, named as in ``PER_LAYER``."""
    def g(layer, key):
        return spans.get(layer, {}).get(key, 0)

    m = {
        "sources.input_bytes": sum(c.get("input_bytes", 0) for c in spans.values()),
        "sources.input_rows": sum(c.get("input_rows", 0) for c in spans.values()),
        "queries.build_ms": g("queries", "ms"),
        "queries.build_jobs": g("queries", "jobs"),
        "plans.sequence_ms": g("plans", "ms"),
        "plans.jobs": g("plans", "jobs"),
        "sinks.versioned_merge_ms": g("sinks_merge", "ms"),
        "sinks.versioned_read_ms": g("sinks_read", "ms"),
    }
    for layer in ("operators", "llm"):
        m[f"{layer}.wall_ms"] = g(layer, "ms")
        for key in ("run_ms", "cpu_ms", "gc_ms", "stages", "tasks",
                    "shuffle_write_bytes", "spill_bytes"):
            name = f"{layer}.{key}"
            if name in PER_LAYER:
                m[name] = g(layer, key)
    m.update(extra)
    return m


class Session:
    """The Spark session of one run, and every process it started."""

    def __init__(self, work: str, cpus: int) -> None:
        from small_etl_spark.session import get_spark

        self.spark = get_spark(
            "perfbench",
            master=f"local[{cpus}]",
            shuffle_partitions=cpus,
            extra_conf={
                "spark.ui.showConsoleProgress": "false",
                "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
                "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work}/tmp",
            },
        )
        from pyspark import SparkContext

        self.jvm_proc = getattr(SparkContext._gateway, "proc", None)

    def retained_mb(self) -> float:
        """Driver RSS plus the JVM's used heap after a full collection
        and its used non-heap (metaspace, code cache). JVM RSS itself
        keeps whatever heap the collector has not yet handed back, so
        it moves with GC timing rather than with what the run retains."""
        jvm = self.spark.sparkContext._jvm
        jvm.System.gc()
        mx = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
        used = mx.getHeapMemoryUsage().getUsed() + mx.getNonHeapMemoryUsage().getUsed()
        with open("/proc/self/statm") as f:
            driver = int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
        return (driver + used) / (1024 * 1024)

    def stop(self) -> None:
        from pyspark import SparkContext

        spawned = layers.descendants(os.getpid())
        try:
            self.spark.stop()
            if SparkContext._gateway is not None:
                SparkContext._gateway.shutdown()
        finally:
            self._end_processes(spawned)

    def _end_processes(self, spawned: list[int]) -> None:
        if self.jvm_proc is not None:
            self.jvm_proc.stdin.close()
            try:
                self.jvm_proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                self.jvm_proc.kill()
                self.jvm_proc.wait(timeout=30)
        deadline = time.time() + 30
        for pid in spawned:  # Python workers the JVM started
            while os.path.exists(f"/proc/{pid}") and time.time() < deadline:
                time.sleep(0.05)
            if os.path.exists(f"/proc/{pid}"):
                try:
                    os.kill(pid, signal.SIGKILL)
                except OSError:
                    pass


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    for sub in ("tmp", "spark-local", "units"):
        os.makedirs(os.path.join(work, sub))
    cpus = len(os.sched_getaffinity(0))
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": "2g",
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "TMPDIR": os.path.join(work, "tmp"),
        "PYSPARK_PYTHON": sys.executable,
        # no perf-data file in /tmp/hsperfdata_<user> from the launcher
        # or driver JVM: the run writes only inside the checkout
        "JAVA_TOOL_OPTIONS": "-XX:-UsePerfData",
    })
    tempfile.tempdir = os.path.join(work, "tmp")
    # on SIGTERM, unwind through the finally below: stop the JVM and its
    # workers and remove the work directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    sessions: list[Session] = []
    try:
        result = bench(args, work, cpus, sessions)
    finally:
        try:
            for session in sessions:
                session.stop()
        finally:
            shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


def bench(args, work: str, cpus: int, sessions: list[Session]) -> dict:
    wl = WORKLOADS[args.workload]()
    steal = layers.CpuSteal()
    probe_before = layers.probe_s()

    t_setup = time.perf_counter()
    wl.write_inputs(work, args.seed)
    t_session = time.perf_counter()
    session = Session(work, cpus)
    sessions.append(session)
    session_start_s = time.perf_counter() - t_session
    spark = session.spark
    print(f"perfbench {args.workload} seed={args.seed} trace={args.trace} "
          f"master={spark.sparkContext.master} "
          f"parallelism={spark.sparkContext.defaultParallelism} "
          f"shuffle_partitions={spark.conf.get('spark.sql.shuffle.partitions')}")
    wl.prepare(spark)
    tracer = layers.Tracer(spark)
    errors: dict[str, str] = {}
    temp_dirs = [os.path.join(work, "tmp"), os.path.join(work, "spark-local")]

    def one_round(collect: bool = False) -> dict:
        """Run every call once; per-call wall seconds, CPU and extras."""
        rnd = {"times": {}, "cpu": {}, "extra": {}}
        for call in wl.round_order:
            unit_dir = tempfile.mkdtemp(dir=os.path.join(work, "units"))
            cpu0 = layers.tree_cpu_s()
            t0 = time.perf_counter()
            try:
                extra = wl.run(spark, tracer, call, unit_dir, collect=collect)
            except Exception as e:  # noqa: BLE001 - a failed unit is counted, not fatal
                errors.setdefault(call, f"{type(e).__name__}: {e}"[:300])
                extra = None
            dt = time.perf_counter() - t0
            rnd["cpu"][call] = layers.tree_cpu_s() - cpu0
            shutil.rmtree(unit_dir, ignore_errors=True)
            rnd["times"][call] = dt if extra is not None else None
            for k, v in (extra or {}).items():
                rnd["extra"][k] = rnd["extra"].get(k, 0) + v
        rnd["total"] = sum(t for t in rnd["times"].values() if t is not None)
        rnd["cpu_s"] = sum(rnd["cpu"].values())
        return rnd

    # warm-up: the first round also collects results for the output check
    warm = [one_round(collect=True)] + [one_round() for _ in range(wl.warm_rounds - 1)]
    tracer.collect()  # drop the warm-up spans
    setup_s = time.perf_counter() - t_setup

    # timed rounds; traced runs alternate traced and untraced rounds
    timed, traced = [], []
    rss_series, temp_series = [], []
    layers.calibrate_s(spark, cpus)  # compiles the calibration job's code
    cal_series = [layers.calibrate_s(spark, cpus)]
    t_timed = time.perf_counter()
    while True:
        tracer.enabled = bool(args.trace) and len(timed) % 2 == 0
        rnd = one_round()
        rnd["traced"] = tracer.enabled
        spans = tracer.collect()
        if rnd["traced"]:
            traced.append(layer_metrics(spans, rnd["extra"]))
        timed.append(rnd)
        cal_series.append(layers.calibrate_s(spark, cpus))
        rss_series.append(layers.tree_rss_mb())
        temp_series.append(sum(layers.dir_bytes(d) for d in temp_dirs))
        # at least three rounds, so the median can outvote one slow round
        done = time.perf_counter() - t_timed >= args.seconds and len(timed) >= 3
        if done and (not args.trace or len(traced) >= 2):
            break
    retained_mb = session.retained_mb()

    # output correctness, once per run, untimed
    checks = wl.check()
    bad_calls = {c for c, err in checks.items() if err} | set(errors)

    def p50_unit(rounds: list[dict], key: str = "times") -> float:
        """Median seconds per unit: per-call medians over the rounds,
        summed over the calls of one round. ``key`` picks wall
        (``times``) or process-tree CPU (``cpu``) seconds. Failed calls
        are excluded."""
        total = 0.0
        for call in wl.round_order:
            ts = [r[key][call] for r in rounds if r["times"][call] is not None]
            if ts and call not in bad_calls:
                total += statistics.median(ts)
        return total

    untraced = [r for r in timed if not r["traced"]]
    attempted = len(timed) * len(wl.round_order)
    failed = sum(1 for r in timed for c, t in r["times"].items() if t is None or c in bad_calls)
    probe_after = layers.probe_s()

    unit_p50_s = p50_unit(untraced)
    e2e = {
        # CPU, not wall, seconds per unit: hypervisor steal on the shared
        # host moved the wall time of identical runs by up to 40%, and
        # stolen time is not charged to the process
        "unit_cpu_s": p50_unit(untraced, key="cpu"),
        "setup_s": setup_s,
        "retained_mb": retained_mb,
    }
    per_layer: dict[str, float] = {}
    if args.trace:
        for name in PER_LAYER:
            vals = [t.get(name, 0) for t in traced]
            per_layer[name] = float(statistics.median(vals))
        per_layer["unit.p50_s"] = unit_p50_s
        per_layer["session.start_s"] = session_start_s
        per_layer["llm.output_rows"] = float(wl.output_rows())
        per_layer["monitor.cpu_s"] = statistics.median(r["cpu_s"] for r in timed)
        per_layer["monitor.rss_mb"] = rss_series[-1]
        per_layer["monitor.rss_growth_mb"] = rss_series[-1] - rss_series[0]
        per_layer["monitor.temp_bytes"] = float(temp_series[-1])
        per_layer["host.probe_s"] = (probe_before + probe_after) / 2
        per_layer["host.calibration_s"] = statistics.median(cal_series)
        per_layer["host.steal_pct"] = steal.pct()
        traced_p50 = p50_unit([r for r in timed if r["traced"]])
        per_layer["trace.overhead_pct"] = 100.0 * (traced_p50 / unit_p50_s - 1.0)
        per_layer["trace.count_mismatches"] = float(sum(
            1 for name in REPEATABLE if len({t.get(name, 0) for t in traced}) > 1
        ))

    # human-readable report, then the JSON line
    print(f"warm-up rounds (s): {[round(r['total'], 3) for r in warm]}")
    print(f"timed rounds (s): {[round(r['total'], 3) for r in timed]} "
          f"traced={[r['traced'] for r in timed]}")
    for call in wl.round_order:
        print(f"  {call}: {[round(r['times'][call], 3) if r['times'][call] else None for r in timed]}")
    print(f"cpu_s per round: {[round(r['cpu_s'], 2) for r in timed]}")
    print(f"calibration_s per round: {[round(c, 3) for c in cal_series]}")
    print(f"rss_mb per round: {[round(x, 1) for x in rss_series]}")
    print(f"temp bytes per round: {temp_series}")
    for call, err in sorted({**checks, **errors}.items()):
        print(f"check {call}: {'ok' if not err and call not in errors else 'FAIL ' + (err or errors[call])}")
    print(f"end-to-end: unit_cpu_s = {e2e['unit_cpu_s']:.4f} s, wall unit_p50_s = "
          f"{unit_p50_s:.4f} s (n={len(untraced)} rounds x {len(wl.round_order)} calls)")
    print(f"end-to-end: setup_s = {e2e['setup_s']:.4f} s "
          f"(session start {session_start_s:.3f} s, {len(warm)} warm-up rounds)")
    print(f"end-to-end: retained_mb = {e2e['retained_mb']:.1f} MB")
    print(f"end-to-end: failed_pct = {100.0 * failed / attempted:.1f} % "
          f"({failed} of {attempted} units)")
    print(f"host: probe_before_s = {probe_before:.4f} s, probe_after_s = {probe_after:.4f} s, "
          f"calibration_s = {statistics.median(cal_series):.4f} s, steal_pct = {steal.pct():.2f} %")
    for name, value in per_layer.items():
        print(f"per-layer: {name} = {value:.6g} {PER_LAYER[name]}")
    if args.trace:
        for name in REPEATABLE:
            print(f"repeat {name}: {[t.get(name, 0) for t in traced]}")

    metrics = e2e if not args.trace else per_layer
    units = END_TO_END if not args.trace else PER_LAYER
    result = {
        "correct": not bad_calls,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }
    return result


if __name__ == "__main__":
    sys.exit(main())

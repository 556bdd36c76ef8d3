#!/usr/bin/env python3
"""Per-stage profile of registry queries (guide §1.1: empirical loop).

Usage: python scripts/profile_query.py name [name ...] [--reps=N]

Runs every named query once untimed, then N timed rounds over all of
them, with the noop sink. For each query's best run it prints
per-stage wall-clock, task counts, and shuffle read/write bytes from
the app status store — the UI-less stand-in for the Stages tab — and
the run's Janino compiles and compile ms (Spark's codegen cache
misses) next to the JVM's JIT compile ms. Last comes the Janino
compile count of each timed round: a warm round that still compiles
is evicting its own generated classes.
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from small_etl_spark.queries import REGISTRY
from small_etl_spark.session import get_spark


def stage_rows(spark):
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    jvm = sc._jvm
    empty_doubles = sc._gateway.new_array(jvm.double, 0)
    it = store.stageList(
        jvm.java.util.ArrayList(), False, False, empty_doubles,
        jvm.java.util.ArrayList(),
    ).iterator()
    rows = []
    while it.hasNext():
        s = it.next()
        rows.append(
            {
                "stage": s.stageId(),
                "name": str(s.name())[:80],
                "tasks": s.numCompleteTasks(),
                "ms": (s.executorRunTime()),
                "cpu_ms": s.executorCpuTime() // 1_000_000,
                "sh_r": s.shuffleReadBytes(),
                "sh_w": s.shuffleWriteBytes(),
                "in": s.inputBytes(),
                "submitted": s.submissionTime(),
            }
        )
    return rows


def compile_counters(spark) -> tuple[int, float, int]:
    """(Janino compiles, Janino compile ms, JVM JIT compile ms) so far.
    Janino runs only on a codegen-cache miss."""
    jvm = spark.sparkContext._jvm
    compiles = (
        jvm.org.apache.spark.metrics.source.CodegenMetrics
        .METRIC_COMPILATION_TIME().getCount()
    )
    compile_ns = (
        jvm.org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
        .compileTime()
    )
    jit_ms = (
        jvm.java.lang.management.ManagementFactory.getCompilationMXBean()
        .getTotalCompilationTime()
    )
    return compiles, compile_ns / 1e6, jit_ms


def main() -> None:
    reps = 1
    names = []
    for a in sys.argv[1:]:
        if a.startswith("--reps="):
            reps = int(a.split("=", 1)[1])
        else:
            names.append(a)
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("profile")
    from small_etl_spark.sources.tables import load_table

    warm = load_table(spark, "/root/testdata/sf0.001", "lineitem")
    warm.groupBy("l_returnflag").count().write.format("noop").mode(
        "overwrite"
    ).save()

    def run(name):
        REGISTRY[name].builder(spark, sf_dir).write.format("noop").mode(
            "overwrite"
        ).save()

    for name in names:  # untimed warm-up round
        run(name)
    # timed rounds over every named query, so a query whose generated
    # classes a later one evicted recompiles in the next round
    best: dict[str, tuple] = {}
    round_compiles = []
    for _ in range(reps):
        n_round = 0
        for name in names:
            before = {r["stage"] for r in stage_rows(spark)}
            c0 = compile_counters(spark)
            t0 = time.perf_counter()
            run(name)
            el = time.perf_counter() - t0
            compiled = [b - a for a, b in zip(c0, compile_counters(spark))]
            n_round += compiled[0]
            if name not in best or el < best[name][0]:
                time.sleep(0.3)  # let the listener queue drain
                after = [r for r in stage_rows(spark) if r["stage"] not in before]
                best[name] = (el, compiled, after)
        round_compiles.append(n_round)
    for name in names:
        el, compiled, after = best[name]
        print(f"\n== {name}: {el:.3f}s wall ({reps} reps, best shown)")
        print(
            f"  codegen: {compiled[0]} Janino compiles, "
            f"{compiled[1]:.0f}ms compile; JVM JIT {compiled[2]}ms"
        )
        after.sort(key=lambda r: r["stage"])
        tot_ms = sum(r["ms"] for r in after)
        for r in after:
            print(
                f"  stage {r['stage']:>4} tasks={r['tasks']:>3} "
                f"run={r['ms']:>6}ms cpu={r['cpu_ms']:>6}ms "
                f"in={r['in']/1e6:7.2f}MB shR={r['sh_r']/1e6:6.2f}MB "
                f"shW={r['sh_w']/1e6:6.2f}MB  {r['name']}"
            )
        print(f"  total executor run-time {tot_ms}ms across {len(after)} stages")
    print(f"\nJanino compiles per timed round: {round_compiles}")


if __name__ == "__main__":
    main()

"""Measurement from outside the program: spans, job tags, host evidence.

The benchmark measures each layer without touching product code:

- ``Tracer.span(layer)`` times one call into a layer's public function.
  When tracing is on it also puts a unique job tag on the calling
  thread (``SparkContext.addJobTag``), so every Spark job the call
  starts, including broadcast and subquery jobs, carries the tag.
- ``Tracer.collect()`` waits for the listener bus to drain, then reads
  the tagged jobs and their stages from Spark's status store and sums
  their executor metrics per layer. Work is attributed per call, never
  by "stages that appeared meanwhile".
- ``probe_s`` and ``calibrate_s`` time fixed single-thread and all-core
  work beside the run; ``CpuSteal``, ``tree_cpu_s`` and ``tree_rss_mb``
  read the host and the process tree (this Python driver, the JVM and
  its Python workers) from ``/proc``.
"""

from __future__ import annotations

import os
import time
from collections import Counter
from contextlib import contextmanager


class Tracer:
    def __init__(self, spark) -> None:
        sc = spark.sparkContext
        jsc = sc._jsc.sc()
        self._sc = sc
        self._store = jsc.statusStore()
        self._tracker = jsc.statusTracker()
        self._bus = jsc.listenerBus()
        self._jvm = sc._jvm
        self._no_quantiles = sc._gateway.new_array(sc._jvm.double, 0)
        self.enabled = False
        self._n = 0
        self._pending: list[tuple[str, str | None, float]] = []

    @contextmanager
    def span(self, layer: str):
        tag = None
        if self.enabled:
            self._n += 1
            tag = f"perfbench-{os.getpid()}-{self._n}"
            self._sc.addJobTag(tag)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            wall = time.perf_counter() - t0
            if tag is not None:
                self._sc.removeJobTag(tag)
            self._pending.append((layer, tag, wall))

    def collect(self) -> dict[str, Counter]:
        """Per-layer sums for the spans since the last call."""
        if any(tag for _, tag, _ in self._pending):
            self._bus.waitUntilEmpty()
        out: dict[str, Counter] = {}
        for layer, tag, wall in self._pending:
            c = out.setdefault(layer, Counter())
            c["ms"] += wall * 1000.0
            if tag is not None:
                c.update(self._tag_metrics(tag))
        self._pending.clear()
        return out

    def _tag_metrics(self, tag: str) -> Counter:
        c: Counter = Counter()
        seen: set[tuple[int, int]] = set()
        for job_id in self._tracker.getJobIdsForTag(tag):
            c["jobs"] += 1
            stage_ids = self._store.job(job_id).stageIds().iterator()
            while stage_ids.hasNext():
                attempts = self._store.stageData(
                    stage_ids.next(), False, self._jvm.java.util.ArrayList(),
                    False, self._no_quantiles,
                ).iterator()
                while attempts.hasNext():
                    s = attempts.next()
                    key = (s.stageId(), s.attemptId())
                    if key in seen or s.status().toString() == "SKIPPED":
                        continue
                    seen.add(key)
                    c["stages"] += 1
                    c["tasks"] += s.numTasks()
                    c["run_ms"] += s.executorRunTime()
                    c["cpu_ms"] += s.executorCpuTime() / 1e6
                    c["gc_ms"] += s.jvmGcTime()
                    c["input_bytes"] += s.inputBytes()
                    c["input_rows"] += s.inputRecords()
                    c["shuffle_write_bytes"] += s.shuffleWriteBytes()
                    c["spill_bytes"] += s.memoryBytesSpilled() + s.diskBytesSpilled()
        return c


# --------------------------------------------------------------------------
# host and process-tree evidence
# --------------------------------------------------------------------------

_CLK_TCK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def probe_s() -> float:
    """Seconds for a fixed single-thread Python workload: a host-speed
    reading taken beside the run, so a slow host mode is visible."""
    t0 = time.perf_counter()
    acc = 0
    for i in range(1_500_000):
        acc = (acc + i * i) % 1_000_003
    return time.perf_counter() - t0


def calibrate_s(spark, cpus: int) -> float:
    """Seconds for a fixed all-core job in the run's own JVM: hash and
    sum 2e8 generated longs in 4 tasks per core. It reads no input and
    calls no product code, so it moves with the host (hypervisor steal,
    neighbours' cache and memory traffic), not with the program: the
    all-core twin of ``probe_s``.
    """
    t0 = time.perf_counter()
    spark.range(0, 200_000_000, 1, 4 * cpus).selectExpr("sum(hash(id))").collect()
    return time.perf_counter() - t0


class CpuSteal:
    """Share of CPU time stolen by the hypervisor since construction."""

    def __init__(self) -> None:
        self._start = self._read()

    @staticmethod
    def _read() -> tuple[int, int]:
        with open("/proc/stat") as f:
            fields = [int(x) for x in f.readline().split()[1:9]]
        return fields[7], sum(fields)

    def pct(self) -> float:
        steal, total = self._read()
        d_total = total - self._start[1]
        return 100.0 * (steal - self._start[0]) / d_total if d_total else 0.0


def _children(pid: int) -> list[int]:
    out: list[int] = []
    try:
        for tid in os.listdir(f"/proc/{pid}/task"):
            try:
                with open(f"/proc/{pid}/task/{tid}/children") as f:
                    out.extend(int(p) for p in f.read().split())
            except OSError:
                continue
    except OSError:
        pass
    return out


def descendants(pid: int) -> list[int]:
    out, todo = [], _children(pid)
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(_children(p))
    return out


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()
    except OSError:
        return None


def tree_cpu_s() -> float:
    """utime+stime of this process and every live descendant."""
    total = 0.0
    for pid in [os.getpid(), *descendants(os.getpid())]:
        st = _stat(pid)
        if st:
            total += (int(st[11]) + int(st[12])) / _CLK_TCK
    return total


def tree_rss_mb() -> float:
    total = 0
    for pid in [os.getpid(), *descendants(os.getpid())]:
        st = _stat(pid)
        if st:
            total += int(st[21])
    return total * _PAGE / (1024 * 1024)


def dir_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        for name in files:
            try:
                total += os.path.getsize(os.path.join(root, name))
            except OSError:
                continue
    return total

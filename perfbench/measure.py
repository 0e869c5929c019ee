"""Measurement plumbing read from outside the program: process CPU,
Spark's own status store, parquet footers, and a host-speed probe."""

from __future__ import annotations

import os
import statistics
import time
from dataclasses import dataclass


def host_probe(loops: int = 3, n: int = 1_000_000) -> float:
    """Median seconds of a fixed single-thread integer loop. Recorded at
    the start and end of every run so a steadiness failure can be told
    apart from the host itself slowing down."""
    samples = []
    for _ in range(loops):
        t = time.perf_counter()
        acc = 0
        for i in range(n):
            acc = (acc * 31 + i) % 1_000_000_007
        samples.append(time.perf_counter() - t)
    return statistics.median(samples)


def host_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of the whole host from ``/proc/stat``:
    the share of time the hypervisor gave to other guests is the other
    half of the host-drift record."""
    with open("/proc/stat") as fh:
        fields = [int(x) for x in fh.readline().split()[1:]]
    return fields[7], sum(fields[:8])


class CpuMeter:
    """CPU seconds of this Python process (all threads, so py4j
    callback threads count) plus the JVM it launched, less the JVM's
    JIT compiler threads.

    Compilation is left out because it is warm-up, not the work of a
    rep: on the near-dup job it fell from 10 to under 3 CPU-s per job
    over the first seven jobs of a JVM while the rest stayed near 7, so
    any rep count still on that slope spread from run to run. It is
    reported apart (:meth:`jit_s`). The JVM must run with
    ``-XX:-UseDynamicNumberOfCompilerThreads``, so that its compiler
    threads, found once here, live as long as it does."""

    def __init__(self, spark):
        self.jvm_pid = spark.sparkContext._gateway.proc.pid  # noqa: SLF001
        self.tick = os.sysconf("SC_CLK_TCK")
        task = f"/proc/{self.jvm_pid}/task"
        self.jit_stats = []
        for tid in os.listdir(task):
            with open(f"{task}/{tid}/comm") as fh:
                if fh.read().startswith(("C1 Compiler", "C2 Compiler")):
                    self.jit_stats.append(f"{task}/{tid}/stat")
        if not self.jit_stats:
            raise RuntimeError(f"no JIT compiler threads found in JVM {self.jvm_pid}")

    def _cpu_s(self, stat_path: str) -> float:
        with open(stat_path) as fh:
            fields = fh.read().rsplit(")", 1)[1].split()
        return (int(fields[11]) + int(fields[12])) / self.tick

    def jit_s(self) -> float:
        """CPU seconds of the JVM's JIT compiler threads so far."""
        return sum(self._cpu_s(p) for p in self.jit_stats)

    def now(self) -> tuple[float, float]:
        """(driver CPU, JVM CPU without the JIT compiler threads)."""
        return time.process_time(), self._cpu_s(f"/proc/{self.jvm_pid}/stat") - self.jit_s()


@dataclass
class StageTotals:
    stages: int = 0
    tasks: int = 0
    exec_cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_bytes: int = 0
    spill_bytes: int = 0
    max_task_s: float = 0.0  # summed over stages with >= 2 tasks
    median_task_s: float = 0.0  # likewise
    submitted_ms: tuple = ()  # submission time (epoch ms) per counted stage

    @property
    def task_skew(self) -> float:
        return self.max_task_s / self.median_task_s if self.median_task_s else 0.0


class StageReader:
    """Reads completed stages from Spark's status store (it is filled
    even with the UI off). Each :meth:`since_last` call returns totals
    over the stages completed since the previous call."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.jsc = self.sc._jsc.sc()  # noqa: SLF001
        gw = self.sc._gateway  # noqa: SLF001
        self._no_quantiles = gw.new_array(self.sc._jvm.double, 0)  # noqa: SLF001
        self._quantiles = gw.new_array(self.sc._jvm.double, 2)  # noqa: SLF001
        self._quantiles[0], self._quantiles[1] = 0.5, 1.0
        self._as_java = self.sc._jvm.scala.jdk.javaapi.CollectionConverters.asJava  # noqa: SLF001
        self.seen: set[tuple[int, int]] = set()
        self.since_last()

    def since_last(self) -> StageTotals:
        self.jsc.listenerBus().waitUntilEmpty()
        store = self.jsc.statusStore()
        out = StageTotals()
        subs = []
        for s in self._as_java(store.stageList(None, False, False, self._no_quantiles, None)):
            key = (s.stageId(), s.attemptId())
            if key in self.seen or s.status().toString() != "COMPLETE":
                continue
            self.seen.add(key)
            out.stages += 1
            n = s.numCompleteTasks()
            out.tasks += n
            out.exec_cpu_s += s.executorCpuTime() / 1e9
            out.gc_s += s.jvmGcTime() / 1e3
            out.shuffle_bytes += s.shuffleWriteBytes()
            out.spill_bytes += s.memoryBytesSpilled() + s.diskBytesSpilled()
            sub = s.submissionTime()
            subs.append(sub.get().getTime() if sub.isDefined() else 0)
            if n >= 2:
                summ = store.taskSummary(s.stageId(), s.attemptId(), self._quantiles)
                if summ.isDefined():
                    run = summ.get().executorRunTime()
                    out.median_task_s += run.apply(0) / 1e3
                    out.max_task_s += run.apply(1) / 1e3
        out.submitted_ms = tuple(subs)
        return out


def list_files(root: str) -> set[str]:
    found = set()
    for dirpath, _dirs, files in os.walk(root):
        found.update(os.path.join(dirpath, f) for f in files)
    return found


def parquet_rows(paths) -> int:
    import pyarrow.parquet as pq

    return sum(pq.ParquetFile(p).metadata.num_rows for p in paths)


def tail_percentile(values: list[float], beyond: int = 10) -> tuple[float, float]:
    """The highest percentile with at least ``beyond`` samples above it,
    as ``(value, percentile)``; with too few samples, the maximum and
    100."""
    xs = sorted(values)
    n = len(xs)
    if n <= beyond:
        return xs[-1], 100.0
    idx = n - beyond - 1  # exactly `beyond` samples lie above xs[idx]
    return xs[idx], round(100.0 * (idx + 1) / n, 1)

"""Benchmark-side measurement: spans, Spark job attribution, JVM GC time,
Python UDF profile time, peak RSS and the host-noise record.

All of it sits outside the package. A span wraps one call the benchmark
makes into a package layer. In a traced run each span also reads, from
Spark's own status store over py4j, the jobs that ran inside its wall
window: the benchmark is a single closed-loop client in one process, so
every job submitted between a span's start and end belongs to it. Untraced
runs keep only the wall time.
"""

from __future__ import annotations

import os
import statistics
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

from py4j.protocol import Py4JJavaError


def median(values) -> float:
    return float(statistics.median(values)) if values else 0.0


def mean(values) -> float:
    return float(statistics.mean(values)) if values else 0.0


@dataclass
class Span:
    layer: str
    name: str
    start: float = 0.0
    wall_s: float = 0.0
    jobs: list = field(default_factory=list)

    @property
    def job_count(self) -> int:
        return len(self.jobs)

    @property
    def tasks(self) -> int:
        return sum(j["tasks"] for j in self.jobs)

    @property
    def task_ms(self) -> float:
        return sum(j["task_ms"] for j in self.jobs)

    @property
    def shuffle_bytes(self) -> int:
        return sum(j["shuffle_bytes"] for j in self.jobs)

    @property
    def job_union_ms(self) -> float:
        """Wall time covered by at least one of the span's jobs."""
        lo, hi = self.start * 1000, (self.start + self.wall_s) * 1000
        ivs = sorted((max(lo, j["start_ms"]), min(hi, j["end_ms"]))
                     for j in self.jobs)
        total, cur_s, cur_e = 0.0, None, None
        for s, e in ivs:
            if e <= s:
                continue
            if cur_e is None or s > cur_e:
                if cur_e is not None:
                    total += cur_e - cur_s
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        if cur_e is not None:
            total += cur_e - cur_s
        return total

    @property
    def gap_ms(self) -> float:
        """Driver time: span wall minus the union of its job walls."""
        return max(0.0, self.wall_s * 1000 - self.job_union_ms)


class Tracer:
    """``span(layer, name)`` times a call; traced runs attach Spark jobs."""

    def __init__(self, spark, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        #: seconds spent in the tracer's own bookkeeping (status-store
        #: reads, GC bean reads, directory listings)
        self.overhead_s = 0.0
        self._sc = spark.sparkContext
        if enabled:
            jsc = self._sc._jsc.sc()
            self._store = jsc.statusStore()
            self._dag = jsc.dagScheduler()
            self._bus = jsc.listenerBus()
            mf = self._sc._jvm.java.lang.management.ManagementFactory
            self._gc_beans = list(mf.getGarbageCollectorMXBeans())

    def gc_ms(self) -> float:
        return float(sum(b.getCollectionTime() for b in self._gc_beans))

    def _job(self, jid: int) -> dict:
        jd = self._store.job(jid)
        sub, comp = jd.submissionTime(), jd.completionTime()
        start = sub.get().getTime() if sub.isDefined() else 0
        end = comp.get().getTime() if comp.isDefined() else start
        tasks = task_ms = shuffle = 0
        sids = jd.stageIds()
        for sid in (sids.apply(i) for i in range(sids.length())):
            try:
                sd = self._store.lastStageAttempt(int(sid))
            except Py4JJavaError:  # a stage that never ran has no attempt
                continue
            if str(sd.status()) == "SKIPPED":
                continue
            tasks += sd.numCompleteTasks()
            task_ms += sd.executorRunTime()
            shuffle += sd.shuffleWriteBytes()
        return {"id": jid, "start_ms": start, "end_ms": end, "tasks": tasks,
                "task_ms": task_ms, "shuffle_bytes": shuffle}

    @contextmanager
    def span(self, layer: str, name: str):
        sp = Span(layer, name)
        if self.enabled:
            t = time.perf_counter()
            job0 = self._dag.numTotalJobs()
            self.overhead_s += time.perf_counter() - t
        sp.start = time.time()
        t0 = time.perf_counter()
        try:
            yield sp
        finally:
            sp.wall_s = time.perf_counter() - t0
            if self.enabled:
                t = time.perf_counter()
                self._bus.waitUntilEmpty()
                sp.jobs = [self._job(j)
                           for j in range(job0, self._dag.numTotalJobs())]
                self.overhead_s += time.perf_counter() - t
            self.spans.append(sp)

    def persisted_rdds(self) -> int:
        return int(self._sc._jsc.getPersistentRDDs().size())


def udf_profile_s(spark) -> float:
    """Python time recorded by ``spark.sql.pyspark.udf.profiler=perf``
    since the last clear, summed over UDFs; clears the profiles."""
    collector = getattr(spark, "_profiler_collector", None)
    if collector is None:
        return 0.0
    total = sum(st.total_tt for st in collector._perf_profile_results.values())
    spark.profile.clear(type="perf")
    return float(total)


_TICK = os.sysconf("SC_CLK_TCK")


def descendants(pid: int) -> set[int]:
    """Every live process below ``pid``."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, ValueError, IndexError):
                continue
            children.setdefault(ppid, []).append(int(entry))
    out, todo = set(), [pid]
    while todo:
        for c in children.get(todo.pop(), []):
            out.add(c)
            todo.append(c)
    return out


def tree_cpu_s(pid: int) -> float:
    """User + system CPU seconds of ``pid`` and every process below it
    (the Spark JVM and its Python workers), reaped children included.
    Time the host stole from this machine's CPUs is not in it."""
    total = 0
    for p in descendants(pid) | {pid}:
        try:
            with open(f"/proc/{p}/stat") as f:
                total += sum(int(x) for x in f.read().rsplit(")", 1)[1].split()[11:15])
        except (OSError, ValueError):
            pass
    return total / _TICK


def rss_mb(pid: int, field: str = "VmHWM") -> float:
    """Peak (``VmHWM``) or current (``VmRSS``) resident set of a process,
    in MiB; 0 if it cannot be read."""
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith(field + ":"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def full_gc(spark) -> None:
    """A full collection of the JVM heap."""
    spark.sparkContext._jvm.java.lang.System.gc()


def retained_mb(spark) -> float:
    """Memory the session still holds: the JVM heap live after a full
    GC plus the Python driver's current resident set, in MiB."""
    full_gc(spark)
    heap = spark.sparkContext._jvm.java.lang.management.ManagementFactory \
        .getMemoryMXBean().getHeapMemoryUsage().getUsed()
    return heap / 2**20 + rss_mb(os.getpid(), "VmRSS")


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies from /proc/stat; (0, 0) where unavailable."""
    try:
        with open("/proc/stat") as f:
            vals = [int(x) for x in f.readline().split()[1:]]
        return (vals[7] if len(vals) > 7 else 0), sum(vals)
    except (OSError, ValueError):
        return 0, 0


def steal_pct(start: tuple[int, int], end: tuple[int, int]) -> float:
    total = end[1] - start[1]
    return round(100.0 * (end[0] - start[0]) / total, 3) if total > 0 else 0.0


def dir_files(root: str) -> dict[str, int]:
    """{path: size} of every regular file under ``root``."""
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            try:
                out[p] = os.path.getsize(p)
            except OSError:
                pass
    return out

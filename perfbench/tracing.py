"""Spans around calls into the program's layers, plus Spark and process counters.

Spans are kept in memory and written out when the run ends. A span may
carry a Spark job group: every job the span's thread launches is tagged
with it, and after the run the job, stage and task counts, shuffle bytes
and spill of each group are read from the Spark status tracker and the
application status store. With tracing off every method is a no-op, so
the end-to-end run pays nothing for it.
"""

from __future__ import annotations

import os
import threading
import time
from contextlib import contextmanager

from stats import Span


class Tracer:
    def __init__(self, spark, enabled: bool) -> None:
        self.spark = spark
        self.enabled = enabled
        self.spans: list[Span] = []
        self.groups: dict[int, str] = {}  # span id -> job group id
        self.overhead_s = 0.0
        self._stack: list[Span] = []

    @contextmanager
    def span(self, name: str, rid: int | None = None, job_group: bool = False, **attrs):
        if not self.enabled:
            yield None
            return
        t0 = time.perf_counter()
        parent = self._stack[-1] if self._stack else None
        s = Span(name, 0.0, 0.0, parent.sid if parent else None,
                 rid if rid is not None else (parent.rid if parent else None),
                 len(self.spans) + 1, attrs)
        self.spans.append(s)
        sc = self.spark.sparkContext
        if job_group:
            gid = f"pb-{s.sid}"
            self.groups[s.sid] = gid
            sc.setJobGroup(gid, f"{name} {attrs.get('query', '')}".strip())
        self._stack.append(s)
        s.start = time.perf_counter()
        self.overhead_s += s.start - t0
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            if job_group:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)
            self.overhead_s += time.perf_counter() - s.end

    def job_stats(self) -> dict[int, dict]:
        """Per tagged span: jobs, stages, tasks, failed tasks, shuffle
        write bytes and spilled bytes. Call once, after the run."""
        if not self.groups:
            return {}
        sc = self.spark.sparkContext
        jsc = sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty(30_000)
        tracker, store = sc.statusTracker(), jsc.statusStore()
        out = {}
        for sid, gid in self.groups.items():
            st = dict(jobs=0, stages=0, tasks=0, failed_tasks=0,
                      shuffle_write_bytes=0, spill_bytes=0)
            for job in tracker.getJobIdsForGroup(gid):
                st["jobs"] += 1
                info = tracker.getJobInfo(job)
                for stage in info.stageIds if info else ():
                    sinfo = tracker.getStageInfo(stage)
                    if sinfo is None or sinfo.numCompletedTasks + sinfo.numFailedTasks == 0:
                        continue  # skipped: its shuffle output was reused
                    st["stages"] += 1
                    st["tasks"] += sinfo.numTasks
                    st["failed_tasks"] += sinfo.numFailedTasks
                    data = store.lastStageAttempt(stage)
                    st["shuffle_write_bytes"] += data.shuffleWriteBytes()
                    st["spill_bytes"] += data.memoryBytesSpilled() + data.diskBytesSpilled()
            out[sid] = st
        return out


def jvm_gc(spark) -> tuple[float, int]:
    """Total collection time (s) and count over the JVM's GC MXBeans."""
    beans = spark.sparkContext._jvm.java.lang.management.ManagementFactory \
        .getGarbageCollectorMXBeans()
    return (sum(b.getCollectionTime() for b in beans) / 1000.0,
            sum(b.getCollectionCount() for b in beans))


def cpu_steal_s() -> float:
    """CPU time the hypervisor gave to other guests, summed over all CPUs."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


def _pss_bytes(pid: int) -> int:
    with open(f"/proc/{pid}/smaps_rollup") as f:
        for line in f:
            if line.startswith("Pss:"):
                return int(line.split()[1]) * 1024
    return 0


def descendants(root: int) -> list[int]:
    """Pids of every process below ``root`` in the process tree."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(d))
    out, todo = [], [root]
    while todo:
        kids = children.get(todo.pop(), ())
        out.extend(kids)
        todo.extend(kids)
    return out


def _tree_rss_bytes(root: int) -> int:
    """Resident memory of ``root`` and its descendants. Each process counts
    its proportional set size, so pages that forked Python workers share
    with their parent are counted once, not once per worker."""
    total = 0
    for pid in [root, *descendants(root)]:
        try:
            total += _pss_bytes(pid)
        except (OSError, ValueError):
            pass  # the process ended between listing and reading
    return total


class RssSampler:
    """Peak resident memory of this process and all its descendants (the
    Spark JVM and its Python workers), sampled from /proc."""

    def __init__(self, interval_s: float = 0.2) -> None:
        self.interval_s = interval_s
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while True:
            self.peak_bytes = max(self.peak_bytes, _tree_rss_bytes(os.getpid()))
            if self._stop.wait(self.interval_s):
                return

    def start(self) -> RssSampler:
        self._thread.start()
        return self

    def stop(self) -> None:
        """Take no more samples; ``peak_bytes`` keeps its value."""
        self._stop.set()
        if self._thread.is_alive():
            self._thread.join(timeout=10)

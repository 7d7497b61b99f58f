"""Measurement from outside the program: spans recorded around calls into
the program's modules, Spark job/stage counters read from the driver's
status store, JVM GC time, cached-block size, and the resident memory of
the benchmark's whole process tree.

Nothing here changes what the program computes. Spans are kept in memory
and written out once, when the run ends.
"""

from __future__ import annotations

import json
import os
import statistics
import time
from contextlib import contextmanager

from py4j.protocol import Py4JJavaError


def pct(values: list[float], q: int) -> float:
    """The q-th percentile (1..99) with linear interpolation; the value
    itself for a single sample."""
    if len(values) == 1:
        return float(values[0])
    return statistics.quantiles(values, n=100, method="inclusive")[q - 1]


class Timing:
    """Wall time of one block, in seconds once the block has ended."""

    seconds = 0.0


class Tracer:
    """The one clock of the benchmark. `timed(name)` times a block; while
    `enabled`, it also records the block as a span (id, parent, op, name,
    start, end, in seconds since the tracer was made). Spans stay in memory
    until `write`. End-to-end figures use the times of untraced blocks;
    per-layer figures are read back from the spans with `seconds`.
    `enabled` is set per operation, so one run can interleave traced and
    untraced operations."""

    def __init__(self) -> None:
        self.t0 = time.perf_counter()
        self.spans: list[dict] = []
        self.enabled = False
        self._stack: list[int] = []
        self._op = 0

    def begin_op(self, traced: bool) -> None:
        self.enabled = traced
        self._op += 1

    @contextmanager
    def timed(self, name: str):
        timing = Timing()
        rec = None
        if self.enabled:
            rec = {
                "id": len(self.spans),
                "parent": self._stack[-1] if self._stack else None,
                "op": self._op,
                "name": name,
            }
            self.spans.append(rec)
            self._stack.append(rec["id"])
        start = time.perf_counter()
        try:
            yield timing
        finally:
            end = time.perf_counter()
            timing.seconds = end - start
            if rec is not None:
                self._stack.pop()
                rec["start"], rec["end"] = start - self.t0, end - self.t0

    def seconds(self, name: str) -> list[float]:
        """Durations of the finished spans called `name`, in order."""
        return [r["end"] - r["start"] for r in self.spans if r["name"] == name and "end" in r]

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump({"spans": self.spans}, fh)


class SparkCounters:
    """Job, task, shuffle, spill and task-skew counts for the Spark jobs
    one job group ran, read through the driver's status tracker and
    AppStatusStore. Accumulates over every group passed to `collect`."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.store = self.sc._jsc.sc().statusStore()
        gw = self.sc._gateway
        self._quantiles = gw.new_array(gw.jvm.double, 2)
        self._quantiles[0] = 0.5
        self._quantiles[1] = 1.0
        self.jobs = 0
        self.tasks = 0
        self.shuffle_read = 0
        self.shuffle_write = 0
        self.spill = 0
        self.skews: list[float] = []

    def set_group(self, group: str | None) -> None:
        if group is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            self.sc.setJobGroup(group, group)

    def collect(self, group: str) -> tuple[int, int]:
        """Fold the group's jobs into the totals; return (jobs, tasks)."""
        tracker = self.sc.statusTracker()
        job_ids = tracker.getJobIdsForGroup(group)
        tasks = 0
        for job_id in job_ids:
            info = tracker.getJobInfo(job_id)
            for stage_id in info.stageIds if info else []:
                tasks += self._stage(stage_id)
        self.jobs += len(job_ids)
        self.tasks += tasks
        return len(job_ids), tasks

    def _stage(self, stage_id: int) -> int:
        try:
            data = self.store.lastStageAttempt(stage_id)
        except Py4JJavaError:  # evicted from the status store
            return 0
        if str(data.status()) != "COMPLETE":
            return 0
        self.shuffle_read += data.shuffleReadBytes()
        self.shuffle_write += data.shuffleWriteBytes()
        self.spill += data.memoryBytesSpilled() + data.diskBytesSpilled()
        n = data.numCompleteTasks()
        if n > 1:
            summary = self.store.taskSummary(stage_id, data.attemptId(), self._quantiles)
            if summary.isDefined():
                run = summary.get().executorRunTime()
                median, top = run.apply(0), run.apply(1)
                if median > 0:
                    self.skews.append(top / median)
        return n

    def gc_ms(self) -> int:
        beans = self.sc._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
        return sum(max(0, b.getCollectionTime()) for b in beans)

    def cached_mb(self) -> float:
        infos = self.sc._jsc.sc().getRDDStorageInfo()
        return sum(i.memSize() + i.diskSize() for i in infos) / 2**20


def reset_peak_rss() -> None:
    """Lower each live process's high-water mark (VmHWM) of the benchmark's
    process tree to its current resident size, so a later `peak_rss_mb`
    covers only what ran after this call."""
    for pid in [os.getpid(), *descendants(os.getpid())]:
        try:
            with open(f"/proc/{pid}/clear_refs", "w") as fh:
                fh.write("5")
        except OSError:  # exited meanwhile
            continue


def peak_rss_mb() -> float:
    """Peak resident memory of the benchmark since `reset_peak_rss`: the
    sum, over this process and every live descendant (the JVM and its
    Python workers), of each one's own high-water mark (VmHWM). Read once,
    before the session stops."""
    total_kb = 0
    for pid in [os.getpid(), *descendants(os.getpid())]:
        try:
            with open(f"/proc/{pid}/status") as fh:
                total_kb += next(int(line.split()[1]) for line in fh if line.startswith("VmHWM:"))
        except (OSError, StopIteration):  # exited meanwhile, or a kernel thread
            continue
    return total_kb / 1024


def descendants(root: int) -> list[int]:
    """Every live descendant of `root`, from the parent pids in /proc."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], list(children.get(root, []))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out

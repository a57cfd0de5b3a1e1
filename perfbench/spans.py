"""Per-layer readings for the traced run.

Spans are recorded by the benchmark around each call it makes into a
layer's public function (session, plans.catalog, a catalog row's build,
the action, sources.writers / operators.maintenance / operators.merge).
Spark's own layers are read from its ``AppStatusStore`` over py4j, which
works with the UI off: the benchmark tags the jobs a build or an action
starts with a job group, then sums the stage metrics of those jobs.
"""

from __future__ import annotations

import gc
import math
import os
import time
from dataclasses import dataclass, field

# Stage metrics summed per op: (record key, StageData accessor, scale).
_STAGE_SUMS = (
    ("exec.task_run_s", "executorRunTime", 1e-3),
    ("exec.task_cpu_s", "executorCpuTime", 1e-9),
    ("exec.input_bytes", "inputBytes", 1),
    ("exec.shuffle_write_bytes", "shuffleWriteBytes", 1),
    ("exec.shuffle_read_bytes", "shuffleReadBytes", 1),
    ("exec.spill_bytes", "memoryBytesSpilled", 1),
    ("exec.spill_bytes", "diskBytesSpilled", 1),
    ("exec.failed_tasks", "numFailedTasks", 1),
)


@dataclass
class Tracer:
    """Span log for one run; spans stay in memory until the record is
    written. ``parent`` is the index of the enclosing span, -1 for none."""

    spans: list[dict] = field(default_factory=list)
    _open: list[int] = field(default_factory=list)

    def start(self, name: str, qid: str | None = None) -> int:
        parent = self._open[-1] if self._open else -1
        self.spans.append(
            {"name": name, "start": time.time(), "end": None, "parent": parent, "qid": qid}
        )
        self._open.append(len(self.spans) - 1)
        return self._open[-1]

    def end(self, idx: int) -> float:
        """Close span ``idx`` and any still open inside it (an exception
        can leave a child open); returns the span's duration."""
        now = time.time()
        while self._open and self._open[-1] >= idx:
            self.spans[self._open.pop()]["end"] = now
        span = self.spans[idx]
        return span["end"] - span["start"]


def _opt_ms(opt) -> float | None:
    return opt.get().getTime() / 1000.0 if opt.isDefined() else None


def _covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


class SparkProbe:
    """Reads Spark's status stores for the jobs of one job group."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self._ssc = self.sc._jsc.sc()
        self._store = self._ssc.statusStore()

    def drain(self) -> None:
        """Wait until the listener bus has delivered every event, so the
        store holds the final metrics of the jobs that just ended."""
        self._ssc.listenerBus().waitUntilEmpty()

    def group_metrics(self, group: str, window: tuple[float, float] | None = None) -> dict:
        """Jobs, stages, tasks and summed stage metrics of ``group``; with
        ``window`` (epoch seconds) also the part of it no stage covered."""
        out = {"spark.jobs": 0, "spark.stages": 0, "spark.tasks": 0}
        out.update({key: 0 for key, _, _ in _STAGE_SUMS})
        intervals: list[tuple[float, float]] = []
        for job_id in self.sc.statusTracker().getJobIdsForGroup(group):
            out["spark.jobs"] += 1
            it = self._store.job(job_id).stageIds().iterator()
            while it.hasNext():
                attempts = self._store.stageData(it.next(), False, None, False, None)
                for i in range(attempts.size()):
                    sd = attempts.apply(i)
                    if sd.status().toString() == "SKIPPED":
                        continue
                    out["spark.stages"] += 1
                    out["spark.tasks"] += sd.numTasks()
                    for key, getter, scale in _STAGE_SUMS:
                        out[key] += getattr(sd, getter)() * scale
                    lo, hi = _opt_ms(sd.submissionTime()), _opt_ms(sd.completionTime())
                    if lo is not None and hi is not None:
                        intervals.append((lo, hi))
        if window is not None:
            lo, hi = window
            out["action.driver_gap_s"] = max(0.0, (hi - lo) - _covered(intervals, lo, hi))
        return out

    def jvm_gc_s(self) -> float:
        """Collector time of the whole JVM so far; in local mode the driver
        and the executors share it, so this is the executors' GC too."""
        beans = self.sc._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
        return sum(b.getCollectionTime() for b in beans) / 1000.0

    def retained_heap_mb(self) -> float:
        """Heap in use right after a full collection: what the driver JVM
        still holds, cached blocks and leaked objects included. Python's
        collector runs first, so py4j proxies the benchmark no longer uses
        release their JVM objects. Spark's ContextCleaner frees broadcast
        and shuffle state on its own thread once a collection found it
        unreachable, so collections repeat until the figure stops falling."""
        gc.collect()
        jvm = self.sc._jvm
        bean = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
        last = math.inf
        for _ in range(6):
            jvm.java.lang.System.gc()
            used = bean.getHeapMemoryUsage().getUsed() / 2**20
            if last - used < 1.0:
                break
            last = used
            time.sleep(0.5)
        return used

    def persisted_rdds(self) -> int:
        return self.sc._jsc.getPersistentRDDs().size()

    def cached_mem_bytes(self) -> int:
        infos = self._ssc.getRDDStorageInfo()
        return sum(info.memSize() for info in infos)


def dir_usage(path: str) -> tuple[int, int]:
    """(data files, bytes) under ``path``; Spark's marker and checksum
    files are not counted as files but their bytes are stored too."""
    files = size = 0
    for root, _dirs, names in os.walk(path):
        for name in names:
            size += os.path.getsize(os.path.join(root, name))
            if not name.startswith((".", "_")):
                files += 1
    return files, size

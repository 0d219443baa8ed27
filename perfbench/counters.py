"""Readers for the numbers a run reports, taken from outside the package.

- :class:`SparkCounters` reads job and stage metrics of one job group from
  ``statusTracker`` and the JVM status store, plus the storage the session
  holds. Both work with ``spark.ui.enabled=false``.
- :class:`LayerTimer` wraps public functions of package modules so calls
  into a layer are timed without code in the package.
- :func:`python_worker_cpu_s` and :func:`peak_rss_mb` read ``/proc``;
  :func:`held_mb` asks the JVM too.
"""

from __future__ import annotations

import gc
import os
import time
from collections import defaultdict
from pathlib import Path

from py4j.protocol import Py4JJavaError

_CLK_TCK = os.sysconf("SC_CLK_TCK")

STAGE_FIELDS = {
    # StageData accessor -> (record key, scale)
    "executorRunTime": ("executor_s", 1e-3),
    "jvmGcTime": ("gc_s", 1e-3),
    "inputBytes": ("input_mb", 1 / 2**20),
    "shuffleReadBytes": ("shuffle_mb", 1 / 2**20),
    "shuffleWriteBytes": ("shuffle_mb", 1 / 2**20),
    "memoryBytesSpilled": ("spill_mb", 1 / 2**20),
    "diskBytesSpilled": ("spill_mb", 1 / 2**20),
    "numTasks": ("tasks", 1),
}


class SparkCounters:
    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self._jsc_sc = self.sc._jsc.sc()
        self.tracker = self.sc.statusTracker()

    def set_group(self, group: str) -> None:
        self.sc.setJobGroup(group, group)

    def group_totals(self, group: str) -> dict:
        """Jobs, stages run (skipped ones excluded) and summed stage metrics
        of every job launched under ``group``."""
        self._jsc_sc.listenerBus().waitUntilEmpty()
        store = self._jsc_sc.statusStore()
        job_ids = list(self.tracker.getJobIdsForGroup(group))
        stage_ids = set()
        for jid in job_ids:
            info = self.tracker.getJobInfo(jid)
            if info is not None:
                stage_ids.update(info.stageIds)
        out = defaultdict(float, jobs=len(job_ids), stages=0)
        for sid in stage_ids:
            try:
                stage = store.lastStageAttempt(sid)
            except Py4JJavaError:
                # a reused shuffle stage of an earlier job, since evicted from
                # the store (spark.ui.retainedStages): skipped here
                continue
            if stage.status().toString() == "SKIPPED":
                continue
            out["stages"] += 1
            for accessor, (key, scale) in STAGE_FIELDS.items():
                out[key] += getattr(stage, accessor)() * scale
        return dict(out)

    def storage(self) -> tuple[int, float]:
        """(persistent RDDs, MB they hold in memory and on disk)."""
        self._jsc_sc.listenerBus().waitUntilEmpty()
        rdds = self._jsc_sc.statusStore().rddList(True)
        used = sum(
            rdds.apply(i).memoryUsed() + rdds.apply(i).diskUsed()
            for i in range(rdds.size())
        )
        return self.sc._jsc.getPersistentRDDs().size(), used / 2**20


class LayerTimer:
    """Replaces ``module.name`` with a wrapper adding the call's wall time
    to ``totals[metric]``; :meth:`restore` puts the originals back."""

    def __init__(self) -> None:
        self.totals: dict[str, float] = defaultdict(float)
        self._saved: list[tuple[object, str, object]] = []

    def wrap(self, module, name: str, metric: str) -> None:
        original = getattr(module, name)

        def timed(*args, **kwargs):
            t0 = time.perf_counter()
            try:
                return original(*args, **kwargs)
            finally:
                self.totals[metric] += time.perf_counter() - t0

        timed.__wrapped__ = original
        setattr(module, name, timed)
        self._saved.append((module, name, original))

    def restore(self) -> None:
        for module, name, original in reversed(self._saved):
            setattr(module, name, original)
        self._saved.clear()


def _stat(pid: int) -> tuple[int, int] | None:
    """(ppid, utime+stime+cutime+cstime in ticks) of one process."""
    try:
        text = Path(f"/proc/{pid}/stat").read_text()
    except OSError:
        return None
    fields = text[text.rindex(")") + 2:].split()
    return int(fields[1]), sum(int(f) for f in fields[11:15])


def descendants(root: int) -> dict[int, int]:
    """{pid: cpu ticks} of every live process below ``root``."""
    stats = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            st = _stat(int(entry))
            if st is not None:
                stats[int(entry)] = st
    children = defaultdict(list)
    for pid, (ppid, _) in stats.items():
        children[ppid].append(pid)
    out, todo = {}, list(children[root])
    while todo:
        pid = todo.pop()
        out[pid] = stats[pid][1]
        todo.extend(children[pid])
    return out


def python_worker_cpu_s(jvm_pid: int) -> float:
    """CPU seconds of the processes the JVM started (PySpark's daemon and
    the workers it forked; reaped workers count through the daemon's
    children times)."""
    return sum(descendants(jvm_pid).values()) / _CLK_TCK


def held_mb(spark) -> float:
    """Memory the session holds once its garbage is gone: JVM heap in use
    after full GCs, JVM non-heap in use (classes, JIT code) and the Python
    driver's resident set. Python's collection goes first: a DataFrame
    left in a reference cycle holds its JVM objects through py4j until it
    runs. The pause between the JVM's GCs lets Spark's ContextCleaner drop
    the blocks of RDDs nothing refers to any more."""
    gc.collect()
    memory = spark._jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    memory.gc()
    time.sleep(1.0)
    memory.gc()
    jvm = memory.getHeapMemoryUsage().getUsed() + memory.getNonHeapMemoryUsage().getUsed()
    return jvm / 2**20 + _status_kb(os.getpid(), "VmRSS") / 1024


def _status_kb(pid: int, field: str) -> int:
    for line in Path(f"/proc/{pid}/status").read_text().splitlines():
        if line.startswith(field + ":"):
            return int(line.split()[1])
    return 0


def peak_rss_mb(pids: list[int]) -> float:
    """Sum of VmHWM (peak resident set) over ``pids``."""
    return sum(_status_kb(pid, "VmHWM") for pid in pids) / 1024

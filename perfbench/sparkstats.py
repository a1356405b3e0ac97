"""Spark's own accounting, read from outside the engine.

Everything here goes through public or ``private[spark]`` JVM methods
on the running SparkContext, so the engine needs no hooks:

- stage task metrics for a job group, from the app status store
  (works with the UI off);
- blocks still persisted after a query;
- streaming micro-batches, from a ``StreamingQueryListener``;
- peak resident memory of this process and the Spark JVM.
"""

from __future__ import annotations

import threading
from collections import Counter

from py4j.protocol import Py4JJavaError
from pyspark.sql import SparkSession
from pyspark.sql.streaming import StreamingQueryListener


def drain_listeners(spark: SparkSession) -> None:
    """Block until every queued listener event has been handled, so
    the status store and the streaming tally are complete."""
    spark._jsc.sc().listenerBus().waitUntilEmpty()


class StageTally:
    """Sums stage metrics per job group, counting each stage once.

    A job that reuses a shuffle lists the stage that computed it as
    skipped; that stage id was already counted with the job that ran
    it, so the tally remembers every stage id it has seen."""

    def __init__(self, spark: SparkSession):
        self._tracker = spark.sparkContext.statusTracker()
        self._store = spark._jsc.sc().statusStore()
        self._seen: set[int] = set()

    def group(self, group_id: str) -> Counter:
        tot: Counter = Counter()
        for job_id in self._tracker.getJobIdsForGroup(group_id):
            tot["jobs"] += 1
            info = self._tracker.getJobInfo(job_id)
            if info is None:
                continue
            for sid in info.stageIds:
                if sid in self._seen:
                    continue
                self._seen.add(sid)
                try:
                    sd = self._store.lastStageAttempt(sid)
                except Py4JJavaError:  # never submitted, or evicted
                    continue
                if sd.status().toString() == "SKIPPED":
                    continue
                tot["stages"] += 1
                tot["tasks"] += sd.numTasks()
                tot["failed_tasks"] += sd.numFailedTasks()
                tot["task_run_s"] += sd.executorRunTime() / 1e3
                tot["task_cpu_s"] += sd.executorCpuTime() / 1e9
                tot["gc_s"] += sd.jvmGcTime() / 1e3
                tot["input_mb"] += sd.inputBytes() / 1e6
                tot["shuffle_mb"] += sd.shuffleWriteBytes() / 1e6
                tot["spill_mb"] += sd.diskBytesSpilled() / 1e6
        return tot


def cache_left(spark: SparkSession) -> tuple[int, float]:
    """(persisted RDDs, MB they hold) -- what a query left cached."""
    jsc = spark._jsc
    entries = jsc.getPersistentRDDs().size()
    mb = sum(
        i.memSize() + i.diskSize() for i in jsc.sc().getRDDStorageInfo()
    ) / 1e6
    return entries, mb


class StreamTally(StreamingQueryListener):
    """Counts micro-batches, their input rows and their duration."""

    def __init__(self):
        self._lock = threading.Lock()
        self.batches = 0
        self.rows = 0
        self.batch_s = 0.0

    def snapshot(self) -> tuple[int, int, float]:
        with self._lock:
            return self.batches, self.rows, self.batch_s

    def onQueryStarted(self, event) -> None:
        pass

    def onQueryProgress(self, event) -> None:
        p = event.progress
        with self._lock:
            self.batches += 1
            self.rows += p.numInputRows
            self.batch_s += p.batchDuration / 1e3

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        pass


def _hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) * 1024 / 1e6
    raise RuntimeError(f"no VmHWM for pid {pid}")


def peak_rss_mb(pids) -> float:
    """Sum of the peak resident set sizes of ``pids``."""
    return sum(_hwm_mb(p) for p in pids)

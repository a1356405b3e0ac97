"""Per-query run accounting, read from Spark's own status store.

Everything here works with the Spark UI off: stage metrics come from
the app status store through the job group a caller ran its query
under, and plan shapes from the query's formatted explain string.
``scripts/qprofile.py`` and ``scripts/bench_sf1.py`` share these
helpers.
"""

from __future__ import annotations

import re
from collections import Counter

from py4j.protocol import Py4JJavaError
from pyspark.sql import DataFrame, SparkSession

#: Every refuse-guard message states the budget its input exceeded
#: ("... and is bounded to N ..."); see graph.py and dedup.py.
GUARD_MARK = "bounded to"

_MB = 2**20
_PLAN_NODE = re.compile(r"^[+\-:*\s]*(\w[\w ]*\w)\s*\(\d+\)", re.M)


def is_refusal(exc: BaseException) -> bool:
    """True for a refuse-guard's ValueError: the operator's documented
    answer at that input size, not a failure.  Anything else is an
    error."""
    return isinstance(exc, ValueError) and GUARD_MARK in str(exc)


def stage_rows(spark: SparkSession, group_id: str) -> list[dict]:
    """One row per stage the jobs of ``group_id`` ran, in stage order.

    Stages a job skipped because it reused an earlier shuffle are left
    out: their work belongs to the job that computed that shuffle.
    Streaming micro-batches are not included either: a streaming
    query runs each batch under its own job group (the query's run
    id), so for the ``streaming_*`` queries only the stages of the
    caller's own jobs, e.g. the sink scan, are counted."""
    jsc = spark._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    tracker = spark.sparkContext.statusTracker()
    store = jsc.statusStore()
    stage_ids = sorted(
        {
            sid
            for job_id in tracker.getJobIdsForGroup(group_id)
            if (info := tracker.getJobInfo(job_id)) is not None
            for sid in info.stageIds
        }
    )
    rows = []
    for sid in stage_ids:
        try:
            sd = store.lastStageAttempt(sid)
        except Py4JJavaError:  # never submitted, or evicted
            continue
        if sd.status().toString() == "SKIPPED":
            continue
        rows.append(
            {
                "id": sid,
                "tasks": sd.numTasks(),
                "ms": sd.executorRunTime(),
                "cpu_ms": sd.executorCpuTime() // 1_000_000,
                "in_mb": round(sd.inputBytes() / _MB, 2),
                "sr_mb": round(sd.shuffleReadBytes() / _MB, 2),
                "sw_mb": round(sd.shuffleWriteBytes() / _MB, 2),
                "mem_spill_mb": round(sd.memoryBytesSpilled() / _MB, 2),
                "spill_mb": round(sd.diskBytesSpilled() / _MB, 2),
                "name": sd.name()[:50],
            }
        )
    return rows


def explain(spark: SparkSession, df: DataFrame) -> str:
    """The formatted plan of ``df``'s own query execution.  It shows
    AQE's final plan (``isFinalPlan=true``) only once that execution
    has run, e.g. after ``df.collect()``; a write runs its own."""
    return spark._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def plan_summary(plan: str) -> dict:
    """Operator counts of a formatted plan: exchanges, joins, Python
    and Arrow nodes, parquet scans, skew-join splits, and whether the
    adaptive plan is final."""
    counts = Counter(_PLAN_NODE.findall(plan))
    return {
        "exchanges": counts["Exchange"],
        "joins": {
            k: v
            for k, v in counts.items()
            if "Join" in k or "CartesianProduct" in k
        },
        "python": {
            k: v
            for k, v in counts.items()
            if "Python" in k or "Arrow" in k or "InPandas" in k
        },
        "scans": counts["Scan parquet"],
        "skew": len(re.findall(r"isSkew(?:Join)?=true|skew=true", plan)),
        "final": "isFinalPlan=true" in plan,
    }

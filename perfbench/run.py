#!/usr/bin/env python3
"""Closed-loop benchmark of the engine's query surface.

One client in one Python process drives the engine through its public
functions only -- ``session.get_spark``, ``registry.load_catalog``,
``registry.QUERIES[name](spark, data_dir)`` and a DataFrame action --
on ``local[<cores>]`` with ``SPARK_GRAFT_CPUS=<cores>``.  Inputs are
generated from ``--seed`` (``fixtures.py``); the seed also sets the
query order of every pass.

A run:

1. sets up ``SETUPS`` times: fresh temp root, session start (the
   first one launches the JVM, later ones stop the session and start
   a new one) and catalog load.  ``setup_s`` is the median set-up.
2. warms up with one correctness pass: each query's rows are
   collected and compared with its DuckDB oracle (``oracle.py``); the
   comparison is not timed.
3. runs passes until ``--seconds`` of pass time are measured.  Every
   query is timed from the query call to the end of its action (a
   ``noop`` write); ``spark.catalog.clearCache()`` runs after every
   query, so no pass reuses an earlier one's cached blocks.  Each
   query's times are reduced to their median over the passes, so a
   burst of host load that slows one or two passes does not move
   ``pass_s`` (the sum of those medians) or the latency quantiles
   (taken over them).
4. with ``--trace 1``, traces every other pass: per query, build
   (the query call), plan (forcing ``executedPlan``) and execute (the
   action) spans under one job group, with the stage task metrics of
   that group.  The untraced passes between give the tracing
   overhead.  Spans are written to ``perfbench/out/`` at the end.

Every run gets its own scratch area under ``perfbench/.work/``
(temp roots, ``SPARK_LOCAL_DIRS``, warehouse dir, JVM tmpdir), deleted
when the run ends.  The last stdout line is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``; ``--trace 0``
reports the end-to-end metrics, ``--trace 1`` the per-layer ones.

    python3 perfbench/run.py --workload console --seed 1 --seconds 25 --trace 0
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import random
import re
import shutil
import statistics
import sys
import tempfile
import time
import traceback
from collections import Counter, defaultdict
from dataclasses import dataclass, field
from pathlib import Path

import numpy as np

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))
# the engine, bench._calibration and tests/oracle.py
sys.path.insert(1, str(ROOT))

import oracle  # noqa: E402
import sparkstats  # noqa: E402
from fixtures import write_fixtures  # noqa: E402
from workloads import WORKLOADS, Workload  # noqa: E402

SF = 0.01
SETUPS = 5
# A pass started before --seconds of pass time are measured runs to
# the end; every run measures at least this many passes, so a slow
# host still gives every query a median of three times.  The first
# timed passes are still warming up (the JVM keeps compiling hot paths
# for tens of seconds); per-query medians put them in the upper half.
MIN_PASSES = 3

END_TO_END = {
    "setup_s": "s",
    "pass_s": "s",
    "query_p50_s": "s",
    "query_p90_s": "s",
    "success_rate": "ratio",
    "write_amp": "ratio",
    "peak_rss_mb": "MB",
}

# Stage totals summed over the execute-phase job groups of a pass.
EXEC_STAGE_KEYS = (
    "jobs", "stages", "tasks", "task_run_s", "task_cpu_s", "gc_s",
    "failed_tasks", "shuffle_mb", "spill_mb",
)

PER_LAYER = {
    "session.start_s": "s",
    "session.catalog_s": "s",
    "session.warmup_s": "s",
    "build.s": "s",
    "build.share": "ratio",
    "build.jobs": "count",
    "plan.s": "s",
    "plan.share": "ratio",
    "execute.s": "s",
    "execute.jobs": "count",
    "execute.stages": "count",
    "execute.tasks": "count",
    "execute.task_run_s": "s",
    "execute.task_cpu_s": "s",
    "execute.gc_s": "s",
    "execute.failed_tasks": "count",
    "execute.shuffle_mb": "MB",
    "execute.spill_mb": "MB",
    "execute.idle_core_s": "s",
    "execute.core_util": "ratio",
    "sources.input_mb": "MB",
    "sources.bytes_written_mb": "MB",
    "sources.files_written": "count",
    "sources.commits": "count",
    "streaming.batches": "count",
    "streaming.rows": "count",
    "streaming.batch_s": "s",
    "matcache.builds": "count",
    "matcache.setup_builds": "count",
    "cache.entries_left": "count",
    "cache.mb_left": "MB",
    "host.calib_s": "s",
    "trace.overhead_s": "s",
    "trace.unaccounted_s": "s",
}

_COMMIT = re.compile(r"(^|/)_txn_log/\d+\.json$")


@dataclass
class Measurements:
    """Raw samples of one run; ``summarize`` turns them into metrics."""

    cores: int
    fixture_bytes: int
    setups: list[dict] = field(default_factory=list)
    warmup_s: float = 0.0
    setup_builds: int = 0
    passes: list[dict] = field(default_factory=list)
    # query name -> its wall time in every timed pass
    latencies: dict[str, list[float]] = field(
        default_factory=lambda: defaultdict(list)
    )
    attempted: int = 0
    failed: int = 0
    peak_rss_mb: float = 0.0
    calib_s: float = 0.0


def _median(values) -> float:
    values = list(values)
    return statistics.median(values) if values else 0.0


def hd_quantile(values, q: float) -> float:
    """Harrell-Davis estimate of the ``q`` quantile: an average of all
    order statistics weighted by a Beta((n+1)q, (n+1)(1-q)) density.

    Per-query times are a mixture of 5 to 20 distinct queries, so a
    single order statistic jumps between neighbouring queries from run
    to run; the weighted average moves smoothly."""
    x = np.sort(np.asarray(list(values), dtype=float))
    n = len(x)
    a, b = (n + 1) * q, (n + 1) * (1 - q)
    grid = (np.arange(100_000) + 0.5) / 100_000  # bin midpoints
    pdf = np.exp((a - 1) * np.log(grid) + (b - 1) * np.log1p(-grid))
    cdf = np.concatenate(([0.0], np.cumsum(pdf)))
    cdf /= cdf[-1]
    edges = np.rint(np.arange(n + 1) / n * 100_000).astype(int)
    return float(np.diff(cdf[edges]) @ x)


def summarize(m: Measurements, trace: bool) -> dict:
    """``{name: {"value", "unit"}}`` for the end-to-end metrics
    (``trace=False``) or the per-layer metrics (``trace=True``)."""
    if not trace:
        per_query = [_median(t) for t in m.latencies.values()]
        values = {
            "setup_s": _median(s["total_s"] for s in m.setups),
            "pass_s": sum(per_query),
            "query_p50_s": hd_quantile(per_query, 0.5),
            "query_p90_s": hd_quantile(per_query, 0.9),
            "success_rate": 1 - m.failed / max(m.attempted, 1),
            "write_amp": _median(
                p["bytes_written"] / m.fixture_bytes for p in m.passes
            ),
            "peak_rss_mb": m.peak_rss_mb,
        }
        return {k: {"value": values[k], "unit": u} for k, u in END_TO_END.items()}

    traced = [p for p in m.passes if p["traced"]]
    plain = [p for p in m.passes if not p["traced"]]

    def med(fn) -> float:
        return _median(fn(p) for p in traced)

    def share(p, key) -> float:
        spans = p["build_s"] + p["plan_s"] + p["exec_s"]
        return p[key] / spans if spans else 0.0

    values = {
        "session.start_s": _median(s["start_s"] for s in m.setups),
        "session.catalog_s": _median(s["catalog_s"] for s in m.setups),
        "session.warmup_s": m.warmup_s,
        "build.s": med(lambda p: p["build_s"]),
        "build.share": med(lambda p: share(p, "build_s")),
        "build.jobs": med(lambda p: p["build_jobs"]),
        "plan.s": med(lambda p: p["plan_s"]),
        "plan.share": med(lambda p: share(p, "plan_s")),
        "execute.s": med(lambda p: p["exec_s"]),
        **{
            f"execute.{k}": med(lambda p, k=k: p["exec"][k])
            for k in EXEC_STAGE_KEYS
        },
        "execute.idle_core_s": med(
            lambda p: p["exec_s"] * m.cores - p["exec"]["task_run_s"]
        ),
        "execute.core_util": med(
            lambda p: p["exec"]["task_run_s"] / (p["exec_s"] * m.cores)
            if p["exec_s"] else 0.0
        ),
        "sources.input_mb": med(lambda p: p["input_mb"]),
        "sources.bytes_written_mb": med(lambda p: p["file_bytes"] / 1e6),
        "sources.files_written": med(lambda p: p["files_written"]),
        "sources.commits": med(lambda p: p["commits"]),
        "streaming.batches": med(lambda p: p["stream"][0]),
        "streaming.rows": med(lambda p: p["stream"][1]),
        "streaming.batch_s": med(lambda p: p["stream"][2]),
        "matcache.builds": med(lambda p: p["matcache_builds"]),
        "matcache.setup_builds": m.setup_builds,
        "cache.entries_left": med(lambda p: p["cache_entries"]),
        "cache.mb_left": med(lambda p: p["cache_mb"]),
        "host.calib_s": m.calib_s,
        "trace.overhead_s": med(lambda p: p["wall_s"])
        - _median(p["wall_s"] for p in plain),
        "trace.unaccounted_s": med(
            lambda p: p["wall_s"] - p["build_s"] - p["plan_s"] - p["exec_s"]
        ),
    }
    return {k: {"value": values[k], "unit": u} for k, u in PER_LAYER.items()}


def new_pass(traced: bool) -> dict:
    """Empty per-pass record; ``Bench._pass`` fills it in."""
    return {
        "traced": traced, "wall_s": 0.0,
        "build_s": 0.0, "plan_s": 0.0, "exec_s": 0.0, "build_jobs": 0,
        "exec": Counter(), "input_mb": 0.0, "disk_mb": 0.0,
        "cache_entries": 0, "cache_mb": 0.0, "stream": [0, 0, 0.0],
        "file_bytes": 0, "files_written": 0, "commits": 0,
        "matcache_builds": 0, "bytes_written": 0.0,
    }


def missing_writes(p: dict) -> list[str]:
    """The write counters a pass left at zero.  Every pass of a
    ``fresh_root`` workload commits to a txn log, builds a matcache
    table and writes files; a pass that did not was served by some
    earlier pass's output, and counts as failed."""
    return [k for k in ("commits", "matcache_builds", "file_bytes") if not p[k]]


def result_line(m: Measurements, trace: bool) -> dict:
    """The object printed as the last stdout line."""
    return {
        "correct": m.failed == 0,
        "attempted": m.attempted,
        "failed": m.failed,
        "metrics": summarize(m, trace),
    }


def _files(root: Path) -> dict[str, tuple[int, int]]:
    out = {}
    for dirpath, _, names in os.walk(root):
        for n in names:
            p = os.path.join(dirpath, n)
            try:
                st = os.stat(p)
            except FileNotFoundError:  # removed while walking
                continue
            out[os.path.relpath(p, root)] = (st.st_size, st.st_mtime_ns)
    return out


def _written(before: dict, after: dict) -> dict:
    """Files created or rewritten between two ``_files`` snapshots."""
    new = {p: v for p, v in after.items() if before.get(p) != v}
    tops = {p.split(os.sep, 1)[0] for p in new}
    return {
        "file_bytes": sum(size for size, _ in new.values()),
        "files_written": len(new),
        "commits": sum(1 for p in new if _COMMIT.search(p)),
        # a matcache table is built into a .tmp dir, then renamed
        "matcache_builds": sum(
            1 for t in tops if t.startswith("hqmdw_mat_") and ".tmp" not in t
        ),
    }


class Bench:
    def __init__(self, workload: Workload, seed: int, seconds: int,
                 trace: bool, work: Path):
        self.wl = workload
        self.seconds = seconds
        self.trace = trace
        self.work = work
        self.rng = random.Random(seed)
        self.cores = len(os.sched_getaffinity(0))
        self.data = str(work / "data")
        self.spark = None
        self.tally = None
        self.stream = None
        self.spans: list[dict] = []
        self.verify_s: dict[str, float] = {}
        self.mismatches: dict[str, str] = {}
        for d in ("tmp", "local", "warehouse", "jvmtmp"):
            (work / d).mkdir(parents=True)
        # SPARK_GRAFT_CPUS must be set before the engine's session
        # module is imported: it fixes the shuffle partition count.
        os.environ["SPARK_GRAFT_CPUS"] = str(self.cores)
        os.environ["SPARK_LOCAL_DIRS"] = str(work / "local")
        os.environ["TMPDIR"] = str(work / "tmp")
        # the launcher JVM that spark-submit runs first would otherwise
        # write its perf counters under /tmp
        os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
        # The engine's own heap knob, set for sf 0.01, with the initial
        # heap pinned below (-Xms).  Left to G1's own sizing the heap
        # grows by pause-time heuristics, and peak_rss_mb measures
        # them: on a 4-core, 16 GB host its interquartile range over
        # six to ten seeds was 0.25 of its median at the engine's 8g
        # default (2.8 to 5.1 GB) and 0.10 to 0.20 at 2g unpinned.
        os.environ["SPARK_GRAFT_DRIVER_MEM"] = "2g"
        tempfile.tempdir = str(work / "tmp")
        from hq_master_data_warehouse_spark import registry, session

        self.registry = registry
        self.session = session
        self.m = Measurements(
            cores=self.cores,
            fixture_bytes=write_fixtures(self.data, seed, SF),
        )

    # -- set-up ----------------------------------------------------------

    def _fresh_root(self, name: str) -> Path:
        root = self.work / "tmp" / name
        root.mkdir()
        tempfile.tempdir = str(root)
        return root

    def _start_session(self):
        if self.spark is not None:
            self.spark.stop()
        self.spark = self.session.get_spark(
            master=f"local[{self.cores}]",
            extra_conf={
                "spark.sql.warehouse.dir": str(self.work / "warehouse"),
                "spark.driver.extraJavaOptions": "-XX:-UsePerfData -Xms1g "
                f"-Djava.io.tmpdir={self.work / 'jvmtmp'}",
                "spark.ui.showConsoleProgress": "false",
            },
        )
        self.spark.sparkContext.setLogLevel("ERROR")

    def setup(self, i: int) -> None:
        self._fresh_root(f"setup{i}")
        t0 = time.perf_counter()
        self._start_session()
        t1 = time.perf_counter()
        self.registry.load_catalog()
        t2 = time.perf_counter()
        self.m.setups.append(
            {"start_s": t1 - t0, "catalog_s": t2 - t1, "total_s": t2 - t0}
        )

    def warm_up(self) -> None:
        """The correctness pass, in the last set-up's session and temp
        root; the matcache tables it builds are set-up work."""
        self.m.warmup_s = self._verify_pass()
        root = Path(tempfile.gettempdir())
        self.m.setup_builds = _written({}, _files(root))["matcache_builds"]

    def _query(self, name: str):
        return self.registry.QUERIES[name](self.spark, self.data)

    def _noop(self, df) -> None:
        df.write.format("noop").mode("overwrite").save()

    def _fail(self, name: str) -> None:
        self.m.failed += 1
        print(f"[perfbench] {name} raised:", file=sys.stderr)
        traceback.print_exc(file=sys.stderr)

    def _run(self, name: str) -> float | None:
        """Query call plus action; its wall time, or None if it raised.
        The cache is cleared afterwards, outside the timing."""
        self.m.attempted += 1
        t = time.perf_counter()
        try:
            self._noop(self._query(name))
            return time.perf_counter() - t
        except Exception:  # counted as an error, run goes on
            self._fail(name)
            return None
        finally:
            self.spark.catalog.clearCache()

    def _verify_pass(self) -> float:
        """Untimed correctness gate; returns the engine's share of its
        wall time (query call + collect), which is warm-up time."""
        con = oracle.connect(self.data)
        try:
            for name in self.wl.queries:
                self.m.attempted += 1
                t = time.perf_counter()
                try:
                    df = self._query(name)
                    rows = [tuple(r) for r in df.collect()]
                    cols = list(df.columns)
                except Exception:  # counted as an error, run goes on
                    self._fail(name)
                    continue
                finally:
                    self.verify_s[name] = time.perf_counter() - t
                    self.spark.catalog.clearCache()
                why = oracle.mismatch(
                    cols, rows, con, self.registry.ORACLES.get(name)
                )
                if why:
                    self.m.failed += 1
                    self.mismatches[name] = why
                    print(f"[perfbench] {name} wrong: {why}", file=sys.stderr)
        finally:
            con.close()
        return sum(self.verify_s.values())

    # -- timed passes ----------------------------------------------------

    def measure(self) -> None:
        self.tally = sparkstats.StageTally(self.spark)
        if self.trace:
            self.stream = sparkstats.StreamTally()
            self.spark.streams.addListener(self.stream)
        root = Path(tempfile.gettempdir())
        measured = 0.0
        k = 0
        # tracing alternates traced and untraced passes, so the
        # minimum passes give both kinds for the overhead
        while measured < self.seconds or k < MIN_PASSES:
            if self.wl.fresh_root:
                root = self._fresh_root(f"pass{k}")
            order = list(self.wl.queries)
            self.rng.shuffle(order)
            p = self._pass(k, order, root, traced=self.trace and k % 2 == 0)
            measured += p["wall_s"]
            self.m.passes.append(p)
            k += 1
        if self.trace:
            import bench

            self.m.calib_s = bench._calibration(self.spark)

    def _pass(self, k: int, order: list[str], root: Path, traced: bool) -> dict:
        sc = self.spark.sparkContext
        before = _files(root)
        stream0 = self.stream.snapshot() if self.stream else (0, 0, 0.0)
        p = new_pass(traced)
        if not traced:
            sc.setJobGroup(f"p{k}", "perfbench pass")
        t_pass = time.perf_counter()
        for name in order:
            if traced:
                self._traced_query(k, name, p)
            elif (lat := self._run(name)) is not None:
                self.m.latencies[name].append(lat)
        p["wall_s"] = time.perf_counter() - t_pass
        sparkstats.drain_listeners(self.spark)
        if not traced:
            stages = self.tally.group(f"p{k}")
            p["disk_mb"] = stages["shuffle_mb"] + stages["spill_mb"]
        p.update(_written(before, _files(root)))
        if self.wl.fresh_root and (missing := missing_writes(p)):
            self.m.failed += 1
            print(f"[perfbench] pass {k} wrote no {', '.join(missing)}",
                  file=sys.stderr)
        # shuffle and spill files land under SPARK_LOCAL_DIRS, inside
        # the run's scratch area, so they count as bytes written
        p["bytes_written"] = p["file_bytes"] + p["disk_mb"] * 1e6
        stream1 = self.stream.snapshot() if self.stream else (0, 0, 0.0)
        p["stream"] = [b - a for a, b in zip(stream0, stream1)]
        return p

    def _traced_query(self, k: int, name: str, p: dict) -> None:
        sc = self.spark.sparkContext
        gid = f"p{k}/{name}"
        self.m.attempted += 1
        try:
            sc.setJobGroup(f"{gid}/build", "perfbench build")
            t0 = time.perf_counter()
            df = self._query(name)
            sc.setJobGroup(f"{gid}/plan", "perfbench plan")
            t1 = time.perf_counter()
            df._jdf.queryExecution().executedPlan()
            sc.setJobGroup(f"{gid}/exec", "perfbench execute")
            t2 = time.perf_counter()
            self._noop(df)
            t3 = time.perf_counter()
        except Exception:  # counted as an error, run goes on
            self._fail(name)
            self.spark.catalog.clearCache()
            return
        self.m.latencies[name].append(t3 - t0)
        sparkstats.drain_listeners(self.spark)
        entries, mb = sparkstats.cache_left(self.spark)
        self.spark.catalog.clearCache()
        build = self.tally.group(f"{gid}/build")
        plan = self.tally.group(f"{gid}/plan")
        exe = self.tally.group(f"{gid}/exec")
        p["build_s"] += t1 - t0
        p["plan_s"] += t2 - t1
        p["exec_s"] += t3 - t2
        p["build_jobs"] += build["jobs"]
        p["exec"].update({key: exe[key] for key in EXEC_STAGE_KEYS})
        p["input_mb"] += sum(g["input_mb"] for g in (build, plan, exe))
        p["cache_entries"] += entries
        p["cache_mb"] += mb
        p["disk_mb"] += sum(
            g["shuffle_mb"] + g["spill_mb"] for g in (build, plan, exe)
        )
        self.spans.append({
            "trace_id": gid, "name": name, "start": t0, "end": t3,
            "children": [
                {"name": "build", "start": t0, "end": t1, "jobs": build["jobs"],
                 "stages": dict(build)},
                {"name": "plan", "start": t1, "end": t2, "stages": dict(plan)},
                {"name": "execute", "start": t2, "end": t3, "stages": dict(exe)},
            ],
            "cache_entries_left": entries, "cache_mb_left": mb,
        })

    # -- teardown ----------------------------------------------------------

    def close(self) -> None:
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        if gateway is None:
            return
        self.m.peak_rss_mb = sparkstats.peak_rss_mb(
            [os.getpid(), gateway.proc.pid]
        )
        if self.spark is not None:
            self.spark.stop()
        proc = gateway.proc
        gateway.shutdown()
        # the gateway JVM exits when its stdin closes
        proc.stdin.close()
        proc.wait(timeout=120)
        SparkContext._gateway = None
        SparkContext._jvm = None


def _write_trace(b: Bench, workload: str, seed: int) -> None:
    out = HERE / "out"
    out.mkdir(exist_ok=True)
    path = out / f"trace-{workload}-seed{seed}.json"
    path.write_text(json.dumps({
        "workload": workload, "seed": seed, "cores": b.cores,
        "setups": b.m.setups, "warmup_s": b.m.warmup_s,
        "passes": [
            {k: v for k, v in p.items() if k != "exec"} | {"exec": dict(p["exec"])}
            for p in b.m.passes
        ],
        "verify_s": b.verify_s,
        "spans": b.spans,
        "mismatches": b.mismatches,
    }, indent=1))


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if args.seconds < 1:
        ap.error("--seconds must be at least 1")

    work = HERE / ".work" / f"run-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    bench = None
    try:
        bench = Bench(
            WORKLOADS[args.workload], args.seed, args.seconds,
            bool(args.trace), work,
        )
        for i in range(SETUPS):
            bench.setup(i)
        bench.warm_up()
        bench.measure()
    finally:
        if bench is not None:
            bench.close()
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):  # other runs may still use it
            work.parent.rmdir()

    m = bench.m
    if args.trace:
        _write_trace(bench, args.workload, args.seed)
    print(
        f"[perfbench] {args.workload} seed={args.seed}: {len(m.passes)} passes, "
        f"{sum(map(len, m.latencies.values()))} timed queries, error_rate="
        f"{m.failed / max(m.attempted, 1):.4f}, setups "
        f"{[round(s['total_s'], 2) for s in m.setups]}, warm-up "
        f"{m.warmup_s:.2f}, passes "
        f"{[round(p['wall_s'], 2) for p in m.passes]}",
        file=sys.stderr,
    )
    print("[perfbench] query times", json.dumps(
        {q: [round(t, 4) for t in ts] for q, ts in m.latencies.items()}
    ), file=sys.stderr)
    print(json.dumps(result_line(m, bool(args.trace))))
    return 0


if __name__ == "__main__":
    sys.exit(main())

#!/usr/bin/env python
"""Per-query profiler with the Spark UI off: timings, plans and
per-stage metrics, or a warm + timed sweep of the whole registry.

Profile mode (default; names default to bench.py's HEADLINE):

  1. the bench.py calibration gauge, then one warm pass over every
     name (plan compile, matcache builds, page cache);
  2. REPS interleaved timed noop passes, each timing construction plus
     materialization like bench.py; min and median are reported;
  3. from the first timed pass of each query: the formatted plan,
     dumped to OUT/<name>.txt and summarized, and the per-stage
     table (tasks, run/CPU ms, input, shuffle read/write, spill) read
     from the status store through the pass's job group.

  Prints one JSON line per query and writes OUT/profile.json.

``--all``: every registered query, one warm and one timed pass.  A
refuse-guard ValueError is recorded as a refusal, anything else as an
error.  Writes OUT/sweep_all.json and exits 1 if any query errored.

Usage:
  python scripts/qprofile.py [--out DIR] [--reps N] [name ...]
  python scripts/qprofile.py --all [--out DIR] [name ...]

Environment: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1),
SPARK_GRAFT_CPUS (default: the host's core count).
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from hq_master_data_warehouse_spark import obs, registry
from hq_master_data_warehouse_spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = os.environ.get("SPARK_GRAFT_CPUS") or str(
    len(os.sched_getaffinity(0))
)


def _run(spark, name: str):
    """Build and materialize one query; (DataFrame, seconds)."""
    t0 = time.perf_counter()
    df = registry.QUERIES[name](spark, SF_DIR)
    df.write.format("noop").mode("overwrite").save()
    return df, time.perf_counter() - t0


def profile(spark, names: list[str], reps: int, out_dir: str) -> dict:
    """Profile mode; returns name -> record."""
    sc = spark.sparkContext
    for name in names:
        _run(spark, name)
    results: dict[str, dict] = {n: {"reps": []} for n in names}
    for rep in range(reps):
        for name in names:
            group = f"profile:{name}:{rep}"
            sc.setJobGroup(group, "profile timed pass")
            df, dt = _run(spark, name)
            rec = results[name]
            rec["reps"].append(round(dt, 4))
            if rep == 0:
                plan = obs.explain(spark, df)
                with open(os.path.join(out_dir, f"{name}.txt"), "w") as f:
                    f.write(plan)
                rec["plan"] = obs.plan_summary(plan)
                rec["stages"] = obs.stage_rows(spark, group)
    for name, rec in results.items():
        rec["min"] = round(min(rec["reps"]), 3)
        rec["med"] = round(statistics.median(rec["reps"]), 3)
        line = {k: rec[k] for k in ("min", "med", "plan")}
        print(json.dumps({"name": name, **line}, separators=(",", ":")),
              flush=True)
    return results


def sweep(spark, names: list[str]) -> dict:
    """--all mode; returns name -> [warm_s, timed_s], or
    {"refused": msg} / {"error": msg}."""
    out: dict = {}
    for i, name in enumerate(names):
        try:
            out[name] = [round(_run(spark, name)[1], 3) for _ in range(2)]
        except Exception as e:  # noqa: BLE001
            kind = "refused" if obs.is_refusal(e) else "error"
            out[name] = {kind: f"{type(e).__name__}: {e}"[:200]}
        print(json.dumps({"i": i, "name": name, "t": out[name]}),
              flush=True)
    return out


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--all", action="store_true",
                    help="warm + timed sweep of every registered query")
    ap.add_argument("--out", default=os.path.join(ROOT, "plans", "profile"),
                    help="output directory (default plans/profile)")
    ap.add_argument("--reps", type=int, default=4)
    ap.add_argument("names", nargs="*")
    args = ap.parse_args()

    os.makedirs(args.out, exist_ok=True)
    registry.load_catalog()
    spark = get_spark(master=f"local[{CPUS}]", shuffle_partitions=int(CPUS))
    spark.sparkContext.setLogLevel("ERROR")
    try:
        if args.all:
            out = sweep(spark, args.names or sorted(registry.QUERIES))
            path = os.path.join(args.out, "sweep_all.json")
            with open(path, "w") as f:
                json.dump(out, f, indent=0, sort_keys=True)
            failed = {n: v for n, v in out.items() if isinstance(v, dict)}
            errors = [n for n, v in failed.items() if "error" in v]
            refused = [n for n, v in failed.items() if "refused" in v]
            print(json.dumps({"n": len(out), "errors": errors,
                              "refused": refused, "out": path}))
            return 1 if errors else 0

        import bench

        names = args.names or [
            n for n in bench.HEADLINE if n in registry.QUERIES
        ]
        bench._calibration(spark)  # codegen warm-up
        calib = [round(bench._calibration(spark), 4) for _ in range(3)]
        results = profile(spark, names, max(1, args.reps), args.out)
        summary = {
            "sf_dir": SF_DIR,
            "cpus": CPUS,
            "calib": calib,
            "total_min": round(sum(r["min"] for r in results.values()), 3),
            "total_med": round(sum(r["med"] for r in results.values()), 3),
        }
        path = os.path.join(args.out, "profile.json")
        with open(path, "w") as f:
            json.dump({**summary, "queries": results}, f, indent=1)
        print(json.dumps({**summary, "out": path}), flush=True)
        return 0
    finally:
        spark.stop()


if __name__ == "__main__":
    sys.exit(main())

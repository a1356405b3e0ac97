"""Pins the benchmark's output schema to BENCHMARK.json.

Every workload the manifest lists must exist, and the result line must
carry exactly the manifest's end-to-end metrics (``--trace 0``) or
per-layer metrics (``--trace 1``), each with the manifest's unit and a
finite number.  Runs without Spark:

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import math
import sys
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))

import run  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

MANIFEST = json.loads((HERE.parent / "BENCHMARK.json").read_text())


def _measurements() -> run.Measurements:
    m = run.Measurements(cores=4, fixture_bytes=2_000_000)
    m.setups = [
        {"start_s": 5.0 - i, "catalog_s": 0.1, "total_s": 5.1 - i}
        for i in range(3)
    ]
    m.warmup_s, m.setup_builds = 18.0, 1
    for k in range(4):
        p = run.new_pass(traced=k % 2 == 0)
        p.update(wall_s=5.0 + k / 10, build_s=1.0, plan_s=0.2, exec_s=3.5,
                 build_jobs=3, input_mb=1.5, file_bytes=4_000_000,
                 files_written=400, commits=11, matcache_builds=1,
                 bytes_written=4_200_000.0, stream=[2, 20000, 0.8],
                 cache_entries=1, cache_mb=0.1)
        p["exec"].update(jobs=40, stages=45, tasks=60, task_run_s=2.0,
                         task_cpu_s=1.5, gc_s=0.1, shuffle_mb=0.2)
        m.passes.append(p)
    for i in range(40):
        m.latencies[f"q{i % 10}"].append(0.1 * (i + 1))
    m.attempted, m.failed = 100, 0
    m.peak_rss_mb, m.calib_s = 1500.0, 4.0
    return m


def test_manifest_workloads_exist():
    assert [w["name"] for w in MANIFEST["workloads"]] == list(WORKLOADS)


@pytest.mark.parametrize("workload", [w["name"] for w in MANIFEST["workloads"]])
@pytest.mark.parametrize("trace", [0, 1])
def test_result_line_matches_manifest(workload, trace):
    assert WORKLOADS[workload].queries
    line = json.loads(json.dumps(run.result_line(_measurements(), bool(trace))))
    assert set(line) == {"correct", "attempted", "failed", "metrics"}
    assert line["attempted"] >= 1
    wanted = MANIFEST["per_layer" if trace else "end_to_end"]
    assert list(line["metrics"]) == [w["name"] for w in wanted]
    for w in wanted:
        got = line["metrics"][w["name"]]
        assert set(got) == {"value", "unit"}
        assert got["unit"] == w["unit"], w["name"]
        assert isinstance(got["value"], (int, float))
        assert math.isfinite(got["value"]), w["name"]


def test_pass_without_writes_is_flagged():
    p = run.new_pass(traced=False)
    assert run.missing_writes(p) == ["commits", "matcache_builds", "file_bytes"]
    p.update(commits=2, matcache_builds=1, file_bytes=4_000_000)
    assert run.missing_writes(p) == []
    p["matcache_builds"] = 0
    assert run.missing_writes(p) == ["matcache_builds"]


def test_pass_s_is_sum_of_per_query_medians():
    m = _measurements()
    m.latencies.clear()
    # one slow pass (the third) does not move the medians
    for name, times in {"a": [1.0, 1.1, 9.0], "b": [2.0, 2.2, 9.0]}.items():
        m.latencies[name].extend(times)
    got = run.summarize(m, trace=False)["pass_s"]["value"]
    assert got == pytest.approx(1.1 + 2.2)

"""scripts/qprofile.py and the run-accounting helpers it shares with
scripts/bench_sf1.py (hq_master_data_warehouse_spark.obs)."""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

from hq_master_data_warehouse_spark import obs
from hq_master_data_warehouse_spark.operators import dedup, graph
from tests.conftest import SF_DIR_001 as SF

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_profile_records_plan_and_stages_with_ui_off(tmp_path):
    """One query, one rep, in its own process on the engine's default
    session (UI off): the calibration gauge runs three times, and the
    record carries min/med, the plan summary and a stage table read
    from the status store."""
    env = {
        **os.environ,
        "SPARK_GRAFT_SF_DIR": SF,
        "SPARK_GRAFT_CPUS": "2",
        "SPARK_GRAFT_DRIVER_MEM": "1g",
    }
    proc = subprocess.run(
        [sys.executable, os.path.join(ROOT, "scripts", "qprofile.py"),
         "--reps", "1", "--out", str(tmp_path),
         "flagship_range_counts"],
        env=env, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    with open(tmp_path / "profile.json") as f:
        out = json.load(f)
    assert out["cpus"] == "2"
    assert len(out["calib"]) == 3 and all(t > 0 for t in out["calib"])
    rec = out["queries"]["flagship_range_counts"]
    assert set(rec) == {"reps", "min", "med", "plan", "stages"}
    assert len(rec["reps"]) == 1 and rec["min"] == rec["med"] > 0
    assert set(rec["plan"]) == {
        "exchanges", "joins", "python", "scans", "skew", "final"
    }
    assert rec["plan"]["scans"] > 0
    assert any(s["tasks"] > 0 for s in rec["stages"])
    assert set(rec["stages"][0]) == {
        "id", "tasks", "ms", "cpu_ms", "in_mb", "sr_mb", "sw_mb",
        "mem_spill_mb", "spill_mb", "name",
    }
    assert (tmp_path / "flagship_range_counts.txt").read_text()


def test_refusal_classifier_accepts_only_guard_value_errors(
    spark, monkeypatch
):
    with pytest.raises(ValueError) as wedge:
        graph._check_wedge_budget(graph.LINKPRED_MAX_WEDGES + 1)
    assert obs.is_refusal(wedge.value)
    monkeypatch.setattr(dedup, "EMB_MAX_CHUNKS", 0)
    with pytest.raises(ValueError) as gemm:
        dedup.exact_cosine_pairs(spark, SF, 0.9)
    assert obs.is_refusal(gemm.value)
    # any other failure is an error, a ValueError included
    assert not obs.is_refusal(ValueError("invalid JPEG Huffman code"))
    assert not obs.is_refusal(RuntimeError("bounded to 3 rows"))
    assert not obs.is_refusal(KeyError("flagship_range_counts"))

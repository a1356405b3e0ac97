"""Differential test: every registered query with an oracle must match
DuckDB at sf0.001 (fast) -- the same check the driver runs at sf0.01.
Queries without an oracle must at least execute and return a schema.
"""

from __future__ import annotations

import pytest

from hq_master_data_warehouse_spark import registry
from tests.oracle import compare, duckdb_conn

registry.load_catalog()

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def con():
    c = duckdb_conn(SF)
    yield c
    c.close()


@pytest.mark.parametrize("name", sorted(registry.QUERIES))
def test_query_matches_oracle(spark, con, name):
    df = registry.QUERIES[name](spark, SF)
    if name in registry.ORACLES:
        compare(df, con, registry.ORACLES[name])
    else:
        # rows-only: runs, has a schema, row count is non-negative
        assert df.columns
        assert df.count() >= 0


def test_doc_counts_match_registry():
    """COVERAGE.md / README.md quote the registry sizes; pin them to
    the live registry so the docs cannot drift (VERDICT r3 item 7)."""
    import os
    import re

    registry.load_catalog()
    n_q, n_o = len(registry.QUERIES), len(registry.ORACLES)
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    for doc in ("COVERAGE.md", "README.md"):
        with open(os.path.join(root, doc)) as f:
            text = f.read()
        for m in re.finditer(r"(\d+) registered quer", text):
            assert int(m.group(1)) == n_q, f"{doc}: stale query count"
        for m in re.finditer(r"(\d+) DuckDB-oracled", text):
            assert int(m.group(1)) == n_o, f"{doc}: stale oracle count"


def test_check_window_rotates_oldest_record_first():
    """VERDICT r12 item 1: the back block of ordered_queries() (names
    already holding a prior-round record, not pinned by an active
    RECHECK) must sort by record age ASCENDING, ties broken by
    registration order.  This makes the driver's ~50-slot gate sweep
    the full registry on a ~7-round cycle instead of re-verifying the
    same 50 names every round while ~320 greens age indefinitely."""
    registry.load_catalog()
    ordered = list(registry.ordered_queries())
    assert sorted(ordered) == sorted(registry.QUERIES), (
        "ordered_queries() must be a permutation of QUERIES"
    )
    checked = registry._recorded_names()
    rounds = dict(registry._RECORD_ROUND)
    if not rounds:
        pytest.skip("no CORRECTNESS_r*.json records readable")
    active_recheck = {
        n
        for n in registry.RECHECK
        if n in checked
        and rounds.get(n, 0) < registry.RECHECK_SINCE
    }
    back = [
        n for n in ordered if n in checked and n not in active_recheck
    ]
    ages = [rounds.get(n, 0) for n in back]
    assert ages == sorted(ages), (
        "back block must be oldest-record-first; first inversion at "
        + next(
            f"{back[i]}(r{ages[i]}) before {back[i + 1]}(r{ages[i + 1]})"
            for i in range(len(ages) - 1)
            if ages[i] > ages[i + 1]
        )
    )
    # ties preserve registration order (Python's sort is stable)
    reg_pos = {n: i for i, n in enumerate(registry.QUERIES)}
    for i in range(len(back) - 1):
        if ages[i] == ages[i + 1]:
            assert reg_pos[back[i]] < reg_pos[back[i + 1]], (
                f"tie at r{ages[i]} must keep registration order: "
                f"{back[i]} vs {back[i + 1]}"
            )

"""Query catalog: every implemented operator registers itself here.

Each query is a pure function ``(spark, sf_dir) -> DataFrame`` plus an
optional ANSI-SQL oracle string that DuckDB runs on the same parquet
tables.  Ops whose semantics SQL cannot express (streaming state, LSH)
register without an oracle and get the driver's weaker rows-only check.

Column-name contract: every computed/aggregate column is aliased to the
SAME name in both formulations -- the driver sorts columns by name
before value-hashing.
"""

from __future__ import annotations

import glob
import json
import os
import re
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
ORACLES: dict[str, str] = {}


def query(name: str, oracle: str | None = None) -> Callable[[QueryFn], QueryFn]:
    """Register a query under ``name`` with an optional DuckDB oracle."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in QUERIES:
            raise ValueError(f"duplicate query name: {name}")
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco


# ---------------------------------------------------------------------------
# Check-window rotation.  The round driver's correctness gate verifies the
# FIRST ~50 entries of queries() in dict order, so ordering is evidence
# policy: names without a usable record go to the front of the window,
# then names pinned for a re-record, then recorded names oldest first.
# ---------------------------------------------------------------------------

_REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# Populated by _recorded_names(): name -> latest round holding any
# record for it.  Lets RECHECK pins self-retire once the post-change
# re-record lands (see ordered_queries).
_RECORD_ROUND: dict[str, int] = {}


def _recorded_names() -> set[str]:
    """Names already holding a usable record in a prior round's
    CORRECTNESS_r*.json (green hash row, or the rows-only record that
    is the max evidence for oracle-less ops).  Reading the files at
    runtime makes the rotation self-updating: each round's newly
    recorded names drop out of the front window automatically.

    Only the LATEST round's record per name counts, so a query that
    regresses red in a later round rotates back to the front of the
    window instead of coasting forever on an old green row.
    Returns an empty set if no files are readable."""
    _RECORD_ROUND.clear()
    latest: dict[str, bool] = {}
    # sorted() puts r01 before r02 ...; later files overwrite earlier
    # entries so `latest` ends up holding each name's newest verdict.
    pattern = os.path.join(_REPO_ROOT, "CORRECTNESS_r*.json")
    for path in sorted(glob.glob(pattern)):
        try:
            with open(path) as f:
                data = json.load(f)
        except (OSError, ValueError):
            continue
        if not isinstance(data, dict):
            continue
        m = re.fullmatch(r"CORRECTNESS_r(\d+)\.json", os.path.basename(path))
        rnd = int(m.group(1)) if m else 0
        for name, row in data.items():
            if not isinstance(row, dict):
                continue
            latest[name] = bool(
                row.get("hash_match") or row.get("err") == "no_oracle"
            )
            _RECORD_ROUND[name] = max(_RECORD_ROUND.get(name, 0), rnd)
    return {name for name, ok in latest.items() if ok}


# Queries whose PLAN or EVIDENCE LEVEL changed in round RECHECK_SINCE.
# They already hold records from earlier rounds, but evidence policy
# wants a fresh record on the post-change code, so they join the
# window right behind the unrecorded names until a record from round
# >= RECHECK_SINCE lands; then _RECORD_ROUND retires them
# automatically.
RECHECK_SINCE = 14
RECHECK: tuple[str, ...] = ()


def ordered_queries() -> dict[str, QueryFn]:
    """QUERIES reordered so the driver's capped check window lands on
    new evidence first, in three blocks:

    1. names without a usable record, oracle-backed first (rows-only
       entries are weaker evidence and must not displace them);
    2. active RECHECK pins;
    3. recorded names, oldest record first.

    Ties keep registration order (Python's sort is stable).  Block 3
    makes the spare window slots sweep the whole registry: each round
    re-records ~50 names, which moves them to the back of the next
    round's ordering."""
    load_catalog()
    checked = _recorded_names()
    unrecorded = sorted(
        (n for n in QUERIES if n not in checked), key=lambda n: n not in ORACLES
    )
    recheck = [
        n
        for n in RECHECK
        if n in QUERIES
        and n in checked
        and _RECORD_ROUND.get(n, 0) < RECHECK_SINCE
    ]
    recorded = sorted(
        (n for n in QUERIES if n in checked and n not in recheck),
        key=lambda n: _RECORD_ROUND.get(n, 0),
    )
    return {n: QUERIES[n] for n in (*unrecorded, *recheck, *recorded)}


def load_catalog() -> None:
    """Import every module that registers queries (idempotent)."""
    from .plans import curation, flagship  # noqa: F401
    from .operators import (  # noqa: F401
        aggregates,
        analytics,
        dedup,
        distribution,
        filters,
        graph,
        joins,
        layout,
        ledger,
        lifecycle,
        ml,
        multimodal,
        privacy,
        profile,
        relational_ext,
        sampling,
        setops,
        similarity,
        skew,
        stats,
        text,
        windows,
    )
    from .sources import (  # noqa: F401
        delta_export,
        formats,
        ingest,
        kafka,
        txn_log,
    )
    from .streaming import jobs  # noqa: F401
    from .plans import tpch  # noqa: F401
    from .plans import tpch_ext  # noqa: F401

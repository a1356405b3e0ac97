"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship query at sf0.001 (smoke);
``queries()`` / ``oracle_sql()`` expose every implemented operator from
SURVEY.md par.2 for the DuckDB differential-correctness gate at sf0.01.
Implementation lives in ``hq_master_data_warehouse_spark``.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from hq_master_data_warehouse_spark import registry  # noqa: E402

SMOKE_SF_DIR = "/root/testdata/sf0.001"


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query (dashboard range counts) on sf0.001."""
    registry.load_catalog()
    return registry.QUERIES["flagship_range_counts"](spark, SMOKE_SF_DIR)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md par.2.

    Dict order (see registry.ordered_queries) puts new evidence first
    for a capped check window, in three blocks: names without a usable
    correctness record (oracle-backed first), then active RECHECK pins,
    then recorded names, oldest record first.  Ties keep registration
    order.
    """
    return registry.ordered_queries()


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable ANSI SQL twin for each SQL-expressible query."""
    registry.load_catalog()
    return dict(registry.ORACLES)

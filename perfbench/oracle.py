"""Correctness gate: compare a query's rows with its DuckDB oracle.

The oracle SQL comes from ``registry.ORACLES`` and runs on the same
Parquet fixtures.  Connection and row normalisation are the repo's
test oracle (``tests/oracle.py``): an order-insensitive multiset over
columns sorted by name, floats rounded to 6 places.  Queries without
an oracle only have to return rows without raising.  The caller puts
the repo root on ``sys.path``.
"""

from __future__ import annotations

from tests.oracle import _row_multiset, duckdb_conn

connect = duckdb_conn


def mismatch(cols: list[str], rows: list[tuple], con, sql: str | None) -> str:
    """Why ``rows`` disagree with the oracle; empty when they agree."""
    if sql is None:
        return ""
    rel = con.execute(sql)
    d_cols = [d[0] for d in rel.description]
    d_rows = rel.fetchall()
    if sorted(cols) != sorted(d_cols):
        return f"columns {sorted(cols)} != oracle {sorted(d_cols)}"
    if len(rows) != len(d_rows):
        return f"{len(rows)} rows != oracle {len(d_rows)}"
    if _row_multiset(cols, rows) != _row_multiset(d_cols, d_rows):
        return "values differ from oracle"
    return ""

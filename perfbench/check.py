"""Output checks.

Frames are compared with the normalisation and order-insensitive hash of
the repository's oracle gate (``tools/check_oracle.py``), imported rather
than copied, so a result this benchmark accepts is one that gate would
accept too. Oracle SQL runs in an in-memory DuckDB over the same generated
parquet files the benchmark feeds the engine.
"""

from __future__ import annotations

import os
import sys

import duckdb

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))), "tools"))

from check_oracle import table_hash  # noqa: E402


def connect(paths: dict[str, str]) -> duckdb.DuckDBPyConnection:
    """In-memory DuckDB with one view per generated table."""
    con = duckdb.connect()
    # checks run after the timed window, so they may use every core
    con.execute(f"SET threads TO {len(os.sched_getaffinity(0))}")
    for name, path in paths.items():
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{path}'")
    return con


def same_frame(got, want, cols: list[str]) -> bool:
    """Equal as multisets of rows over ``cols``."""
    if len(got) != len(want):
        return False
    a = got.reset_index(drop=True)[cols].to_dict("split")["data"]
    b = want.reset_index(drop=True)[cols].to_dict("split")["data"]
    return table_hash(cols, a) == table_hash(cols, b)

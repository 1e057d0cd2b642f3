"""Correctness gate: query results against their DuckDB oracles.

The comparison is the one ``tests/check_driver.py`` makes: row count,
the set of column names and an order-insensitive value hash. Its
table list, normalization and hash are imported, not copied, so both
checks always agree.
"""

from __future__ import annotations

import importlib.util
import os
from pathlib import Path

import duckdb


def _load_driver_check(repo: Path):
    path = repo / "tests" / "check_driver.py"
    spec = importlib.util.spec_from_file_location("perfbench_check_driver", path)
    module = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(module)
    return module


class Oracle:
    """DuckDB views over the tables of one data directory."""

    def __init__(self, repo: Path, data_dir: str) -> None:
        driver_check = _load_driver_check(repo)
        self._hash = driver_check._hash
        self.con = duckdb.connect()
        for table in driver_check.TABLES:
            path = os.path.join(data_dir, f"{table}.parquet")
            self.con.execute(f"CREATE VIEW {table} AS SELECT * FROM read_parquet('{path}')")

    def close(self) -> None:
        self.con.close()

    def digest(self, columns: list[str], rows: list[tuple]) -> tuple[int, list[str], str]:
        return len(rows), sorted(columns), self._hash(columns, rows)

    def expected(self, sql: str) -> tuple[int, list[str], str]:
        rows = self.con.execute(sql).fetchall()
        return self.digest([d[0] for d in self.con.description], rows)

    def mismatch(self, got: tuple, want: tuple) -> str | None:
        """A one-line reason the two digests differ, or None."""
        (n, cols, h), (wn, wcols, wh) = got, want
        if n != wn:
            return f"rows {n} != {wn}"
        if cols != wcols:
            return f"columns {cols} != {wcols}"
        if h != wh:
            return "value hash mismatch"
        return None

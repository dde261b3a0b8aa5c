"""Output checks for query ops: row count and order-insensitive value hash
against the registered DuckDB oracle on the same parquet files.

Values are normalised the way ``scripts/driver_sim.py`` does it: floats
to four decimals, decimals kept distinct from floats, columns sorted by
name, rows sorted, so the check agrees with the repo's own correctness
sweep.
"""

from __future__ import annotations

import datetime as dt
import decimal
import hashlib
import math
import os

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)


def norm(v) -> str:
    if v is None:
        return "␀"
    if isinstance(v, bool):
        return f"b:{v}"
    if isinstance(v, decimal.Decimal):
        return f"dec:{v}"
    if isinstance(v, float):
        return "f:nan" if math.isnan(v) else f"f:{v:.4f}"
    if isinstance(v, dt.datetime):
        return f"ts:{v.isoformat()}"
    if isinstance(v, dt.date):
        return f"d:{v.isoformat()}"
    return f"{type(v).__name__[0]}:{v}"


def digest(columns: list[str], rows) -> tuple[int, str]:
    """(row count, value hash) of a result, independent of row and
    column order. ``rows`` yields sequences aligned with ``columns``."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    normed = sorted(tuple(norm(r[i]) for i in order) for r in rows)
    h = hashlib.sha256(repr(([columns[i] for i in order], normed)).encode())
    return len(normed), h.hexdigest()


class Oracle:
    """DuckDB views over one scale-factor directory; expected digests
    are computed on first use and kept for the run."""

    def __init__(self, sf_dir: str, sql: dict[str, str]):
        import duckdb

        self.con = duckdb.connect()
        self.con.execute("SET threads = 1")
        for t in TABLES:
            path = os.path.join(sf_dir, f"{t}.parquet")
            self.con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
        self.sql = sql
        self._expected: dict[str, tuple[int, str]] = {}

    def expected(self, name: str) -> tuple[int, str]:
        if name not in self._expected:
            cur = self.con.execute(self.sql[name])
            cols = [d[0] for d in cur.description]
            self._expected[name] = digest(cols, cur.fetchall())
        return self._expected[name]

    def close(self) -> None:
        self.con.close()

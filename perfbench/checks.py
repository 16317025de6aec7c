"""Correctness checks, run outside the timed region.

SQL ops are compared with DuckDB running the same SQL text over the same
parquet files. Corpus operators are compared with their registry oracle
through ``tests/oracle.py``'s ``compare_frames``; the oracle frames are
stored under ``expected/`` by ``make_expected.py`` because evaluating them
live costs more than a whole run may take (see README.md).
"""

from __future__ import annotations

import datetime as dt
import hashlib
import json
import math
import os
from decimal import Decimal

HERE = os.path.dirname(os.path.abspath(__file__))
EXPECTED_DIR = os.path.join(HERE, "expected")
REL_TOL = 1e-9


def oracle_digest(sql: str) -> str:
    return hashlib.sha256(sql.encode()).hexdigest()[:16]


def _norm(v):
    if isinstance(v, bool) or v is None or isinstance(v, str):
        return v
    if isinstance(v, (int, float, Decimal)):
        return float(v)
    if isinstance(v, dt.datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, dt.date):
        return v.isoformat()
    return repr(v)


def _sort_key(row):
    return tuple(
        (0, "") if v is None
        else (1, f"{v:.6g}") if isinstance(v, float)
        else (2, str(v))
        for v in row
    )


def _same(a, b) -> bool:
    if isinstance(a, float) and isinstance(b, float):
        return math.isclose(a, b, rel_tol=REL_TOL, abs_tol=REL_TOL)
    return a == b


def compare_rows(got, want) -> str | None:
    """None when the two row sets match (order-insensitive, floats within
    a relative 1e-9); else a one-line reason."""
    g = sorted((tuple(_norm(v) for v in r) for r in got), key=_sort_key)
    w = sorted((tuple(_norm(v) for v in r) for r in want), key=_sort_key)
    if len(g) != len(w):
        return f"row count {len(g)} != {len(w)}"
    for i, (rg, rw) in enumerate(zip(g, w)):
        if len(rg) != len(rw) or not all(map(_same, rg, rw)):
            return f"row {i}: {rg!r} != {rw!r}"
    return None


class DuckOracle:
    """One DuckDB connection with the fixture tables as views."""

    def __init__(self, sf_dir: str, tables):
        import duckdb

        self.con = duckdb.connect()
        self.con.execute("SET threads TO 4")
        for t in tables:
            path = os.path.join(sf_dir, f"{t}.parquet")
            if os.path.exists(path):
                self.con.execute(
                    f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')"
                )
        self._memo: dict[str, list] = {}

    def rows(self, sql: str) -> list:
        if sql not in self._memo:
            self._memo[sql] = self.con.execute(sql).fetchall()
        return self._memo[sql]

    def close(self) -> None:
        self.con.close()


def load_expected(name: str, oracle_sql: str):
    """The stored oracle frame for ``name``; raises when it is missing or
    was made from different oracle SQL than the registry now holds."""
    import pandas as pd

    with open(os.path.join(EXPECTED_DIR, "manifest.json")) as fh:
        manifest = json.load(fh)
    if manifest.get(name) != oracle_digest(oracle_sql):
        raise RuntimeError(
            f"expected/{name}.parquet is stale or missing: the registry "
            "oracle changed; rerun perfbench/make_expected.py"
        )
    return pd.read_parquet(os.path.join(EXPECTED_DIR, f"{name}.parquet"))

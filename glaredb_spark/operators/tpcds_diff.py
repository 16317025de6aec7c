"""Driver-gate rows over the TPC-DS DIFFERENTIAL dataset (r14/r15).

The r13 differential (tests/test_tpcds_differential.py) value-checks all
99 TPC-DS queries against DuckDB locally; this module promotes a
rotating subset into the driver's 50-row correctness gate so the
rotation exercises the FK-correlated fixture (glaredb_spark/
tpcds_data.py) end-to-end under the external DuckDB oracle every round.

Picks (each reads the reference's own query text at import, never
vendored — the same contract as the SLT conformance harness; reference
anchor: slt/tpcds/q*.slt). A checkout without those files, or without
slt/tpcds/describe_files.slt (the fixture's schema source), registers
no row: the names are recorded in ``registry.UNAVAILABLE`` with the
missing path, and nothing is read or generated.

- q88 (r14): 8-way cross join of half-hour time-band counts — the
  time_dim minute grid, enumerated household combos, 'ese' store pool;
  1 row / 8 cols, never vacuously empty.
- q04 (r15, VERDICT r14 #5): the three-channel year-over-year growth
  cohort _plant constructs — a 6-way self-joined CTE over
  store/catalog/web sales across two years. Its 4-customer result
  exists ONLY because of the planted cohort, so generator drift breaks
  this row with a value DIFF, not just the depth floor.
- q64 (r15): the two-purchase cross-year join cohort (same _plant
  rationale) — store_sales x store_returns x catalog FK chains with
  income-band and house-description filters.

Scale: q88's eight bands are filter + broadcast-dim hash join +
partial count sharing one store_sales pass; q04/q64 are dim-broadcast
hash joins whose fact shuffles key on customer/item — the plan any
engine's TPC-DS run produces.
"""

from __future__ import annotations

import os
import re
import tempfile

from glaredb_spark.registry import UNAVAILABLE, register_query
from glaredb_spark.sources.parquet_testing import _TPCDS_DESCRIBE

_GATE_ROOT = os.path.join(tempfile.gettempdir(), "glaredb_tpcds_gate")
_SLT_DIR = "/root/reference/slt/tpcds"
_PROMOTED = ("q88", "q04", "q64")
# decimal output columns cast to DOUBLE in an identical outer SELECT
# on BOTH engines (the query text itself stays verbatim): DuckDB's
# pandas bridge floats decimals while Spark keeps them, and the
# driver's compare is dtype-class-strict
_DOUBLE_COLS = {
    "q64": ["s11", "s21", "s31", "s12", "s22", "s32"],
}


def _gate_tables() -> dict:
    from glaredb_spark.tpcds_data import ensure

    return ensure(_GATE_ROOT)


def _query_sql(qname: str) -> str:
    from glaredb_spark.slt import parse_slt

    with open(os.path.join(_SLT_DIR, f"{qname}.slt")) as fh:
        recs = [r for r in parse_slt(fh.read()) if r.kind == "query"]
    sql = recs[0].sql.strip().rstrip(";")
    if sql.upper().startswith("DESCRIBE"):
        sql = sql[len("DESCRIBE"):].strip()
    return sql


def _used_tables(sql: str, paths: dict) -> list[str]:
    """Fixture tables the query references (whole-word scan — table
    names are distinctive; a false positive only adds a harmless
    unused CTE to the oracle)."""
    return [
        t for t in sorted(paths)
        if re.search(rf"\b{t}\b", sql, re.IGNORECASE)
    ]


def _make_row(qname: str, paths: dict):
    sql = _query_sql(qname)
    tables = _used_tables(sql, paths)
    ctes = ",\n     ".join(
        f"{t} AS (SELECT * FROM read_parquet('{paths[t]}'))"
        for t in tables
    )
    # a query that is itself a WITH (q04/q64) merges into ONE clause —
    # the table CTEs lead, the query's own CTEs continue after a comma
    body = re.sub(r"(?is)^\s*WITH\b", ",", sql, count=1)
    oracle = (
        f"WITH {ctes}{body}" if body != sql
        else f"WITH {ctes}\n{sql}"
    )
    shim = _DOUBLE_COLS.get(qname)
    if shim:
        casts = ", ".join(
            f"CAST({c} AS DOUBLE) AS {c}" for c in shim
        )
        oracle = (
            f"SELECT * REPLACE ({casts}) FROM ({oracle}) _q"
        )

    def row(spark, sf_dir):
        from pyspark.sql import functions as F

        from glaredb_spark.session import GlareSession
        from glaredb_spark.slt import rewrite_sql

        paths = _gate_tables()
        for t in tables:
            spark.read.parquet(paths[t]).createOrReplaceTempView(t)
        s_sql = rewrite_sql("DESCRIBE " + sql,
                            base_dir="/root/reference/slt")
        if s_sql.upper().startswith("DESCRIBE"):
            s_sql = s_sql[len("DESCRIBE"):].strip()
        out = GlareSession(spark).sql(s_sql)
        for c in shim or ():
            out = out.withColumn(c, F.col(c).cast("double"))
        return out

    row.__name__ = f"tpcds_diff_{qname}"
    row.__doc__ = (
        f"TPC-DS {qname} verbatim on the differential fixture: Spark "
        "runs the reference's own query text (through the SLT dialect "
        "rewriter, the same path the 99-query differential uses); "
        "DuckDB runs it against the identical parquet via the "
        "CTE-shadowed oracle."
    )
    register_query(f"tpcds_diff_{qname}", oracle=oracle)(row)
    return row


def _register_rows() -> None:
    """Register each promoted query whose SLT file (and the schema
    source) exists. The fixture is generated first, because the ORACLE
    strings embed its parquet paths and the correctness gate may run
    the DuckDB side before the Spark side. ensure() is content-cached — ~7 s once
    per machine, ~2 ms after."""
    need = {
        q: [_TPCDS_DESCRIBE, os.path.join(_SLT_DIR, f"{q}.slt")]
        for q in _PROMOTED
    }
    paths = None
    for q, files in need.items():
        missing = [f for f in files if not os.path.exists(f)]
        if missing:
            UNAVAILABLE[f"tpcds_diff_{q}"] = f"missing {missing[0]}"
            continue
        if paths is None:
            paths = _gate_tables()
        _make_row(q, paths)


_register_rows()

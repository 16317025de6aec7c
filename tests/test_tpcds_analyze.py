"""Every TPC-DS query (q01-q99) parses and analyzes through the engine.

The reference parks its slt/tpcds suite entirely: no runner wires it
(test_bin/integration_slt.rs has no Tpcds setup), 68 of the 99 files have
EMPTY describe goldens (its own planner timed out), and 11 carry value
goldens of the missing tpcds_sf0.1 submodule binaries. The 20 files whose
describe goldens ARE filled run golden-checked in test_slt.py; this test
covers the remaining surface the reference could not: all 99 queries must
ANALYZE — parse through the dialect rewrites, resolve against the
schema-exact table views (built from describe_files.slt's own goldens),
and produce a non-empty output schema."""

import os
import re

import pytest

TPCDS = "/root/reference/slt/tpcds"
if not os.path.isdir(TPCDS):
    pytest.skip(f"missing {TPCDS}", allow_module_level=True)
QFILES = sorted(
    f for f in os.listdir(TPCDS) if re.fullmatch(r"q\d+\.slt", f)
)


@pytest.fixture(scope="module")
def sess(spark):
    from glaredb_spark import GlareSession
    from glaredb_spark.slt import _register_tpcds_views

    s = GlareSession(spark)
    _register_tpcds_views(s)
    return s


@pytest.mark.parametrize("fname", QFILES)
def test_tpcds_query_analyzes(sess, fname):
    from glaredb_spark.slt import parse_slt, rewrite_sql

    recs = parse_slt(open(os.path.join(TPCDS, fname)).read())
    targets = []
    for r in recs:
        if r.kind != "query":
            continue
        if r.sql.lstrip().upper().startswith("DESCRIBE"):
            targets.append(r.sql)
        else:
            # q14/q74/q78/q90 record the reference's OWN planner failures
            # ("Error source: Missing column...") as raw query records —
            # wrap them so we assert OUR analyzer handles what theirs
            # could not
            targets.append("DESCRIBE " + r.sql.lstrip().rstrip("; \n"))
    assert targets, f"{fname} has no query record"
    for sql in targets:
        sql = rewrite_sql(sql, base_dir="/root/reference/slt")
        rows = sess.sql(sql).collect()
        assert rows and all(len(row) == 2 for row in rows), fname

"""Registry invariants the driver contract depends on."""

import inspect

import pytest


def test_every_oracle_has_query():
    from glaredb_spark.registry import ORACLES, QUERIES, load_all

    load_all()
    assert set(ORACLES) <= set(QUERIES)
    assert len(QUERIES) >= 70


def test_bench_headline_names_registered():
    import bench
    from glaredb_spark.registry import QUERIES, load_all

    load_all()
    for name in bench.HEADLINE:
        assert name in QUERIES, name


def test_query_callables_take_spark_and_sfdir():
    from glaredb_spark.registry import QUERIES, load_all

    load_all()
    for name, fn in QUERIES.items():
        params = inspect.signature(fn).parameters
        assert len(params) == 2, name


def test_entry_module_contract():
    import __spark_entry__ as em

    qs, os_ = em.queries(), em.oracle_sql()
    assert set(os_) <= set(qs)
    assert "tpch_q01" in qs


def test_gate_priority_prefix_covers_all_families():
    """The driver gates (at least) the first 50 queries() entries; that
    prefix must include >=1 query from every registering module (operator
    family proxy) and every GATE_PRIORITY name must exist."""
    from glaredb_spark.registry import QUERIES, load_all, ordered_names

    load_all()
    names = ordered_names()
    assert sorted(names) == sorted(QUERIES)  # permutation, nothing lost
    first50 = set(names[:50])
    modules_all = {QUERIES[n].__module__ for n in QUERIES}
    modules_gated = {QUERIES[n].__module__ for n in first50}
    assert modules_gated == modules_all, (
        f"families missing from gate prefix: {modules_all - modules_gated}"
    )


def test_entry_order_matches_registry_order():
    import __spark_entry__ as e
    from glaredb_spark.registry import ordered_names

    assert list(e.queries()) == ordered_names()
    osql = e.oracle_sql()
    assert [n for n in e.queries() if n in osql] == list(osql)


@pytest.mark.parametrize(
    "name", ["tpcds_diff_q88", "tpcds_diff_q04", "tpcds_diff_q64"]
)
def test_tpcds_diff_rows_registered(name):
    """The TPC-DS differential gate rows register with their oracle when
    the reference SLT files exist; without them they are left out of
    the registry and the gate, named with the missing path."""
    from glaredb_spark.registry import (
        ORACLES,
        QUERIES,
        UNAVAILABLE,
        load_all,
        ordered_names,
    )

    load_all()
    if name in UNAVAILABLE:
        assert name not in QUERIES and name not in ordered_names()
        pytest.skip(UNAVAILABLE[name])
    assert name in QUERIES and name in ORACLES

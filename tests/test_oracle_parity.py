"""Every oracle-backed query must match DuckDB on the test fixture —
the local mirror of the driver's t2 correctness gate."""

from __future__ import annotations

import pytest

from oke_cassandra_spark_locality_demo_spark import registry
from .parity import assert_no_tz_aware, compare, duckdb_conn

_ALL = sorted(registry.all_oracles())


@pytest.fixture(scope="module")
def con(sf_dir):
    c = duckdb_conn(sf_dir)
    yield c
    c.close()


@pytest.mark.parametrize("name", _ALL)
def test_parity(name, spark, sf_dir, con):
    spec = registry.get(name)
    ok, msg = compare(spec.fn(spark, sf_dir), con, spec.oracle)
    assert ok, f"{name}: {msg}"


def test_rows_only_queries_run(spark, sf_dir):
    rows_only = sorted(set(registry.all_queries()) - set(registry.all_oracles()))
    for name in rows_only:
        df = registry.get(name).fn(spark, sf_dir)
        # rows-only queries still go through the driver's schema record:
        # tz-aware timestamps are a hazard there exactly as in parity
        assert_no_tz_aware(df)
        assert df.count() >= 0, name


def test_agg_distinct_parity_on_null_keys_and_empty_input(spark, sf_dir, tmp_path):
    """q_agg_distinct joins its counts and its status set on the flag
    null-safely: a NULL flag group must survive the join, NULL order and
    supplier keys must not be counted, and an empty lineitem gives no
    rows — all as in the oracle."""
    from datetime import datetime

    from .parity import write_fixture

    spec = registry.get("q_agg_distinct")
    base = dict(
        l_partkey=1, l_linenumber=1, l_quantity=1.0, l_extendedprice=1.0,
        l_discount=0.0, l_tax=0.0, l_shipdate=datetime(1995, 1, 1),
    )

    def li(orderkey, suppkey, flag, status):
        return dict(base, l_orderkey=orderkey, l_suppkey=suppkey,
                    l_returnflag=flag, l_linestatus=status)

    with_nulls = [
        li(1, 10, "A", "F"), li(1, 11, "A", "O"), li(2, 10, "A", "F"),
        li(None, 12, "R", "F"), li(3, None, "R", "O"),
        li(None, None, "N", "O"),
        li(4, 13, None, "F"), li(4, 14, None, "O"),
    ]
    for name, rows, n in (("nulls", with_nulls, 4), ("empty", [], 0)):
        d = write_fixture(str(tmp_path / name), sf_dir, {"lineitem": rows})
        ok, msg = compare(spec.fn(spark, d), duckdb_conn(d), spec.oracle)
        assert ok and msg == f"ok ({n} rows)", f"{name}: {msg}"

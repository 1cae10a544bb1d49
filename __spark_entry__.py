"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash → CORRECTNESS_r{N}.json).

Backed by the `oke_cassandra_spark_locality_demo_spark` package's query registry: every
operator module registers its (spark, sf_dir) → DataFrame callable and
DuckDB oracle side-by-side (see oke_cassandra_spark_locality_demo_spark/registry.py).
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from oke_cassandra_spark_locality_demo_spark import registry  # noqa: E402
from oke_cassandra_spark_locality_demo_spark.operators.scans import flagship  # noqa: E402

SMOKE_SF_DIR = "/root/testdata/sf0.001"


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on sf0.001: TPC-H-Q1-shaped pricing summary
    (scan → pushdown filter → grouped agg → sort)."""
    return flagship(spark, SMOKE_SF_DIR)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2.3, in
    registration order."""
    return registry.all_queries()


def oracle_sql() -> dict[str, str]:
    """DuckDB-equivalent SQL for every deterministic query, in
    registration order; approx/ANN/streaming-only keys are omitted
    (rows-only check)."""
    return registry.all_oracles()

"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs each
``queries()[name]`` at sf=0.01 and compares it against the matching
``oracle_sql()[name]`` via DuckDB (row-count + schema + order-insensitive
value-hash).

All real logic lives in ``sparkstreaming_gmall_scala_spark``; this module
just exposes a pinned slice of the registered query catalog. Every other
oracle-bearing entry is checked against DuckDB by
``tests/test_oracle_parity.py``.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from sparkstreaming_gmall_scala_spark.plans.catalog import load_all

# One name per parity family: flagship agg chain, TPC-H Q1 shape,
# broadcast enrich, first-per-group window, allocation, CDC routing,
# stream join, streaming distinct, sessionization, the as-of join, and
# four of gmallbench's mart queries (revenue rollup, rolling 7-day DAU,
# event funnel, cohort retention). The external correctness gate
# budgets 50 rows; every name here has a full oracle.
CORE: tuple[str, ...] = (
    "trademark_stat",
    "pricing_summary",
    "order_enrich",
    "first_order_flag",
    "payment_allocation",
    "cdc_route",
    "windowed_order_join",
    "dau",
    "session_stats",
    "asof_last_click",
    "revenue_rollup",
    "rolling_dau_7d",
    "event_funnel",
    "user_retention",
)


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query (trademark_stat chain: broadcast dim join + hash agg
    + 2-dp money rounding) on /root/testdata/sf0.001."""
    registry = load_all()
    return registry["trademark_stat"].builder(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """The ``CORE`` builders, by name."""
    registry = load_all()
    return {name: registry[name].builder for name in CORE}


def oracle_sql() -> dict[str, str]:
    """DuckDB-equivalent SQL for every ``CORE`` query."""
    registry = load_all()
    return {name: registry[name].oracle for name in CORE}

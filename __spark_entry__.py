"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash → CORRECTNESS_r{N}.json).

Implementation lives in ``ecommerce_lakehouse_platform_spark``; this
module is a thin adapter.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from ecommerce_lakehouse_platform_spark import registry

SMOKE_SF_DIR = "/root/testdata/sf0.001"


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0.

    Site-wide funnel (reference analysis/dashboard_queries/
    03_Site Wide Funnel.sql): scan → conditional grand-total aggs →
    UNION ALL → sort.
    """
    return registry.QUERIES["dash_site_funnel"](spark, SMOKE_SF_DIR)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2 (+ the
    north-star extension operators), driver-window keys first (the
    registry package applies the window once, at import)."""
    return dict(registry.QUERIES)


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable ANSI-SQL twin for each hash-checkable query.

    Keys absent here (hash-based ops like MinHash/SimHash LSH, whose
    outputs depend on engine-specific hash functions) get the driver's
    weaker rows-only check.
    """
    return dict(registry.ORACLES)

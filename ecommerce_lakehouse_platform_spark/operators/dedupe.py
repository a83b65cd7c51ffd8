"""Keep-latest deduplication and duplicate-group operators.

``keep_latest`` is the reference's single window idiom, used six times
(/root/reference/02_silver/02_silver_transform.py:66-69, 99-102,
132-135, 169-172, 197-200, 225-228): ``row_number() OVER (PARTITION BY
pk ORDER BY recency DESC)`` then keep row 1. We add a deterministic
tiebreaker column list so results are stable under retries and
cross-engine comparison (the reference's bare ``_ingest_ts`` ordering
is tie-nondeterministic — SURVEY.md §2.5).

Scale: one shuffle on the PK hash; no driver-side state. At 100 TB the
window approach beats ``dropDuplicates`` when a total order is required
(dropDuplicates keeps an arbitrary row).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def keep_latest(
    df: DataFrame,
    pk: Sequence[str],
    order_desc: Sequence[str | Column],
) -> DataFrame:
    """Keep the first row per ``pk`` under ``order_desc`` (descending).

    Pass more than one order column to make ties deterministic, e.g.
    ``keep_latest(events, ["user_id"], ["ts", "event_id"])``.
    """
    ordering = [
        (F.col(c) if isinstance(c, str) else c).desc() for c in order_desc
    ]
    w = Window.partitionBy(*pk).orderBy(*ordering)
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def duplicate_groups(df: DataFrame, on: Sequence[str]) -> DataFrame:
    """Groups with more than one member (the DQ 'HAVING COUNT(*) > 1'
    shape, /root/reference/04_data_quality/04_data_quality_checks.py:61-66).
    """
    return (
        df.groupBy(*on)
        .agg(F.count(F.lit(1)).alias("n_dups"))
        .filter(F.col("n_dups") > 1)
    )

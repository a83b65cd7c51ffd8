"""Plan-shape pins for the round-3 scale operators (same rationale as
test_plan_shapes.py: these properties fail at 1000-executor scale, not
in a correctness test)."""

from __future__ import annotations

from ecommerce_lakehouse_platform_spark.registry import QUERIES

from .conftest import SF_SMOKE


def _plan(spark, name: str, mode: str = "formatted") -> str:
    df = QUERIES[name](spark, SF_SMOKE)
    jmode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(mode)
    return df._jdf.queryExecution().explainString(jmode)


def test_heavy_hitter_candidates_broadcast(spark):
    """The verify pass joins the (small) candidate set as a broadcast
    — shuffling the full item column to verify a handful of candidates
    would defeat the two-pass design — and the candidate pass is fully
    JVM (no Arrow/Python boundary on a full-corpus scan: r5's
    MapInPandas Misra-Gries pass made Python the dominant cost of an
    otherwise all-JVM aggregation)."""
    plan = _plan(spark, "ext_heavy_hitters")
    assert "BroadcastHashJoin" in plan
    assert "MapInPandas" not in plan
    assert "SPARK_PARTITION_ID" in plan.upper()


def test_bpe_pair_counts_aggregates_before_explode(spark):
    """The char-pair explode must sit above the word-frequency
    aggregate (|vocab| rows), not above the corpus scan (|corpus|
    rows): the plan has a partial+final count BELOW the generator."""
    plan = _plan(spark, "ext_bpe_pair_counts")
    gen = plan.index("Generate")
    # a HashAggregate appears after (= deeper than) the generator node
    assert "HashAggregate" in plan[gen:]
    assert "TakeOrderedAndProject" in plan  # top-100 with tiebreak


def test_pagerank_exchange_count_bounded(spark):
    """3 iterations = one join + one sum shuffle each over cached
    edge/vertex relations; the UNIQUE exchange-node count must stay
    linear in the iteration count (substring counting would triple-
    count the cached relations' build plans, which the formatted
    explain prints inline at every InMemoryTableScan)."""
    import re

    plan = _plan(spark, "ext_pagerank_copurchase")
    unique_exchanges = set(
        re.findall(r"^\((\d+)\) (?:Broadcast)?Exchange", plan, re.M)
    )
    assert "InMemoryTableScan" in plan  # edges + vertices cached
    assert len(unique_exchanges) <= 18, (
        f"unexpected exchange blowup: {sorted(unique_exchanges)}"
    )

"""Physical-plan regression tests: the scale properties the engine is
designed around must be visible in `explain` output, not just assumed.

Each test pins one 100 TB-critical plan shape:
- dimension joins broadcast (no shuffle of the fact side's join keys);
- filters and column pruning reach the parquet scan;
- ORDER BY + LIMIT plans as TakeOrderedAndProject (top-k, never a
  global sort);
- groupBy aggregates run partial (map-side) + final;
- reference-path queries contain no Python row UDFs (everything stays
  in whole-stage codegen).

A regression here usually will not fail a correctness test — it fails
at the 1000-executor scale this repo targets, so it is tested at the
plan level.
"""

from __future__ import annotations

from ecommerce_lakehouse_platform_spark.registry import QUERIES

from .conftest import SF_SMOKE


def _plan(spark, name: str, mode: str = "formatted") -> str:
    df = QUERIES[name](spark, SF_SMOKE)
    jmode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(mode)
    return df._jdf.queryExecution().explainString(jmode)


def test_dim_joins_broadcast(spark):
    """products/customer dims join the fact side as broadcast-hash —
    a sort-merge here would shuffle the full fact table at scale."""
    plan = _plan(spark, "gold_product_metrics")
    assert "BroadcastHashJoin" in plan
    plan = _plan(spark, "gold_session_metrics_attrs")
    assert "BroadcastHashJoin" in plan


def test_filters_and_pruning_reach_the_scan(spark):
    """Null-PK filters push into the parquet scan and the scan reads
    only the projected columns (ReadSchema stays narrow)."""
    plan = _plan(spark, "op_project_silver_orders")
    assert "PushedFilters: [IsNotNull" in plan
    read_schema = next(
        line for line in plan.splitlines() if "ReadSchema" in line
    )
    # silver orders projects a handful of columns; a scan of the full
    # table schema means pruning broke
    assert "o_comment" not in read_schema


def test_topk_is_take_ordered_not_global_sort(spark):
    """ORDER BY revenue LIMIT 100 must plan as TakeOrderedAndProject:
    per-partition heaps + driver merge, no full shuffle-sort."""
    plan = _plan(spark, "dash_product_performance")
    assert "TakeOrderedAndProject" in plan


def test_aggregates_are_partial_then_final(spark):
    """Map-side combine: the plan carries two HashAggregate nodes
    (partial before the exchange, final after)."""
    plan = _plan(spark, "op_agg_pivotcount", mode="simple")
    assert plan.count("HashAggregate") >= 2
    assert "Exchange hashpartitioning" in plan


def test_reference_path_has_no_python_udfs(spark):
    """The entire reference-derived query surface stays JVM-side:
    no BatchEvalPython (row UDF) or ArrowEvalPython nodes anywhere."""
    for name in (
        "gold_product_metrics",
        "gold_customer_360",
        "gold_session_metrics",
        "dash_product_performance",
        "dash_sales_overview",
        "dash_site_funnel",
        "dash_customer_360",
    ):
        plan = _plan(spark, name, mode="simple")
        assert "BatchEvalPython" not in plan, name
        assert "ArrowEvalPython" not in plan, name


def test_session_rollup_single_shuffle(spark):
    """The session rollup shuffles exactly once on its grouping keys —
    a second exchange would double the network cost of the biggest
    stage at 100 TB."""
    plan = _plan(spark, "stream_session_window", mode="simple")
    assert plan.count("Exchange") == 1


def test_unpivot_is_one_scan_expand(spark):
    """Native unpivot: ONE parquet scan + Expand — the UNION-ALL
    formulation would scan the fact table once per measure."""
    plan = _plan(spark, "ext_unpivot_lineitem", mode="simple")
    assert plan.count("Scan parquet") == 1
    assert "Expand" in plan


def test_grouping_sets_are_one_pass(spark):
    """ROLLUP/CUBE: one scan + one Expand + partial/final aggregate —
    not a scan per grouping set."""
    for name in ("ext_rollup_revenue", "ext_cube_returns"):
        plan = _plan(spark, name, mode="simple")
        assert plan.count("Scan parquet") == 1, name
        assert "Expand" in plan, name
        assert plan.count("HashAggregate") >= 2, name


def test_semi_anti_joins_plan_as_semi_anti(spark):
    """Existence checks plan as LeftSemi/LeftAnti — never a full join
    that duplicates and rematerializes the left side."""
    plan = _plan(spark, "ext_join_semi_anti", mode="simple")
    assert "LeftSemi" in plan
    assert "LeftAnti" in plan


def test_decontamination_probe_is_broadcast_semi(spark):
    """The benchmark-shingle membership probe broadcasts the bounded
    test-side set and plans as a broadcast LeftSemi — shuffling the
    full train-side shingle stream against it would be the 100-TB
    bottleneck."""
    plan = _plan(spark, "ext_decontamination", mode="simple")
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan


def test_topk_per_group_broadcasts_the_dim(spark):
    """The part dim joins broadcast under the per-group rank."""
    plan = _plan(spark, "ext_topk_per_group", mode="simple")
    assert "BroadcastHashJoin" in plan


def test_scalar_subquery_is_decorrelated(spark):
    """The correlated scalar subquery must be rewritten to an
    aggregate + join (no per-row subquery execution)."""
    plan = _plan(spark, "ext_scalar_subquery", mode="simple")
    assert "Join" in plan
    assert "Subquery" not in plan


def test_ivf_centroid_pick_is_parallel_topn(spark):
    """The UNTRAINED hash-pick centroid selection must sample the
    corpus as a parallel per-partition top-n (TakeOrderedAndProject on
    the seeded hash) — never an unpartitioned window, which plans as a
    single-partition exchange and funnels the whole corpus through one
    task at scale. (The registered ext_similarity_ivf now uses TRAINED
    k-means centroids — a 16-row driver relation — checked below.)"""
    from pyspark.sql import functions as F

    from ecommerce_lakehouse_platform_spark.operators import similarity
    from ecommerce_lakehouse_platform_spark.sources.catalog import load_table

    emb = load_table(spark, SF_SMOKE, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    df = similarity.cosine_topk_ivf(emb, queries, k=5, n_centroids=16, nprobe=4)
    plan = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("simple")
    )
    assert "TakeOrderedAndProject" in plan
    assert "Exchange SinglePartition" not in plan


def test_trained_ivf_assignment_broadcasts_model(spark):
    """The registered (trained-k-means) IVF query: the k-row centroid
    model rides in as a broadcast — the corpus-side bucket assignment
    and probe join must never shuffle the corpus against the model,
    and there is still no single-partition exchange anywhere."""
    plan = _plan(spark, "ext_similarity_ivf", mode="simple")
    assert "BroadcastExchange" in plan or "BroadcastHashJoin" in plan
    assert "Exchange SinglePartition" not in plan


def test_driver_window_order_is_applied():
    """The external harness samples a prefix of queries() insertion
    order — the entry point must surface _DRIVER_WINDOW keys first
    regardless of sub-registry import order in this process."""
    import __spark_entry__ as entry
    from ecommerce_lakehouse_platform_spark import registry

    keys = list(entry.queries())
    assert keys[: len(registry._DRIVER_WINDOW)] == list(registry._DRIVER_WINDOW)
    # every window key except the grandfathered sketch profile is
    # hash-checkable (has a DuckDB oracle)
    oracles = entry.oracle_sql()
    missing = [k for k in registry._DRIVER_WINDOW if k not in oracles]
    assert missing == []


def test_semantic_dedup_has_no_all_pairs_join(spark):
    """The semantic-dedup pair generator must be the IVF-bucketed
    equi-join: the all-pairs formulation plans a BroadcastNestedLoop
    join of the full corpus against itself (O(n²) at scale), which
    must never appear; the only broadcasts are the C-row centroid
    table and the pair list feeding the closure."""
    plan = _plan(spark, "ext_dedup_semantic_clusters", mode="simple")
    assert "BroadcastNestedLoopJoin" not in plan

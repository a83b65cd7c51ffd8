"""Plan-shape pins for the round-4 operators (same rationale as
test_plan_shapes.py: these properties fail at 1000-executor scale,
not in a correctness test)."""

from __future__ import annotations

import re

from ecommerce_lakehouse_platform_spark.registry import QUERIES

from .conftest import SF_SMOKE


def _plan(spark, name: str, mode: str = "formatted") -> str:
    df = QUERIES[name](spark, SF_SMOKE)
    jmode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(mode)
    return df._jdf.queryExecution().explainString(jmode)


def test_dedup_lines_no_window_no_global_sort(spark):
    """Boilerplate removal reassembles text with an in-group
    array_sort, never a window or a global Sort — at corpus scale a
    single-task window over segments would be the bottleneck."""
    plan = _plan(spark, "ext_dedup_lines")
    assert "Window" not in plan
    assert "rangepartitioning" not in plan.lower()
    # the only Sorts allowed are SMJ-local. The simple-mode plan
    # prints every Sort's global flag inline ("Sort [...], false, 0");
    # assert no Sort is global. (At fixture size the joins broadcast
    # and there may be no Sort at all — the rangepartitioning assert
    # above already excludes the global-sort exchange either way.)
    simple = _plan(spark, "ext_dedup_lines", mode="simple")
    sorts = re.findall(r"Sort \[[^\]]*\], (true|false),", simple)
    assert all(flag == "false" for flag in sorts), simple


def test_rfm_ranking_windows_are_partitioned(spark):
    """Every NTILE pass must run through the two-pass rank: windows
    partitioned by _pid over RangePartitioning, never a bare global
    Window (single task over all customers)."""
    plan = _plan(spark, "ext_rfm_segmentation")
    assert "rangepartitioning" in plan.lower()
    for line in plan.splitlines():
        if "Window" in line and "row_number" in line:
            assert "_pid" in line, line


def test_market_basket_dims_broadcast(spark):
    """Item counts and the grand total are dimension-bounded and must
    broadcast; only the pair aggregation shuffles."""
    plan = _plan(spark, "ext_market_basket")
    assert plan.count("BroadcastExchange") >= 3  # count_a, count_b, total
    assert "CartesianProduct" not in plan


def test_sorted_neighborhood_is_equi_join(spark):
    """The neighbor pairing must plan as a hash/sort-merge equi-join
    on (block, rn) — a range-predicate join would fall back to
    BroadcastNestedLoopJoin and compare all pairs per block pair."""
    plan = _plan(spark, "ext_dedup_sorted_neighborhood")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert ("SortMergeJoin" in plan) or ("ShuffledHashJoin" in plan) or (
        "BroadcastHashJoin" in plan
    )


def test_compaction_bins_window_partitioned_by_date(spark):
    """Bin assignment windows over the table partition key — parallel
    across partitions. A global (empty-partition) window would
    serialize the whole manifest through one task."""
    plan = _plan(spark, "ext_compaction_bins")
    specs = re.findall(r"windowspecdefinition\(([^)]*)\)", plan)
    assert specs, "expected a window spec in the plan"
    for spec in specs:
        assert spec.startswith("part_date"), spec


def test_label_propagation_lineage_truncated(spark):
    """r14: each iteration eagerly localCheckpoints its label frame,
    so the RETURNED plan must be a bare checkpoint scan — zero
    exchanges, no rescan of anything. This replaces the old
    exchange-count bound: un-truncated, iteration t's plan nested
    iterations 1..t−1 and the profiler measured the input scan
    repeated ~10× across 3 iterations (quadratic re-execution); the
    checkpoint bounds plan depth at ANY iteration count, which is the
    stronger form of the same superlinear-blowup guard."""
    plan = _plan(spark, "ext_label_propagation")
    assert "Scan ExistingRDD" in plan  # the eager checkpoint's scan
    assert "Exchange" not in plan
    assert "Scan parquet" not in plan


def test_gapfill_window_partitioned_and_calendar_broadcast(spark):
    """Forward fill windows PARTITION BY part; the calendar side
    (bounds-derived, days-sized) joins broadcast — shuffling the grid
    to meet a 2500-row calendar would be backwards."""
    plan = _plan(spark, "ext_gapfill_daily")
    specs = re.findall(r"windowspecdefinition\(([^)]*)\)", plan)
    assert specs and all(s.startswith("part_key") for s in specs), specs
    assert "BroadcastExchange" in plan


def test_event_transitions_totals_broadcast(spark):
    """The per-source totals table is |event types|-sized and must
    broadcast; the lag window is partitioned by user."""
    plan = _plan(spark, "ext_event_transitions")
    assert "BroadcastHashJoin" in plan
    specs = re.findall(r"windowspecdefinition\(([^)]*)\)", plan)
    assert specs and all(s.startswith("user_id") for s in specs), specs


def test_text_postings_no_cartesian(spark):
    plan = _plan(spark, "ext_text_postings")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_dsir_ratio_table_broadcast(spark):
    """The 4096-bucket ratio model must broadcast into per-doc
    scoring — that bound is the point of the hashing trick."""
    plan = _plan(spark, "ext_dsir_importance")
    assert "BroadcastHashJoin" in plan


def test_global_score_rank_fully_partitioned(spark):
    """All three rank passes run the two-pass trick: range
    partitioning present, every row_number window keyed on _pid —
    a bare global Window over the corpus would appear without one."""
    plan = _plan(spark, "ext_global_score_rank")
    assert "rangepartitioning" in plan.lower()
    for line in plan.splitlines():
        if "Window" in line and "row_number" in line:
            assert "_pid" in line, line


def test_multitouch_windows_partitioned_by_purchase(spark):
    plan = _plan(spark, "ext_multitouch_attribution")
    specs = re.findall(r"windowspecdefinition\(([^)]*)\)", plan)
    assert specs and all(s.startswith("purchase_id") for s in specs), specs
    assert "CartesianProduct" not in plan


def test_negative_edges_uses_anti_join(spark):
    plan = _plan(spark, "ext_negative_edges")
    assert "LeftAnti" in plan
    assert "CartesianProduct" not in plan


def test_peak_concurrency_sweep_partitioned_by_day(spark):
    plan = _plan(spark, "ext_peak_concurrency")
    specs = re.findall(r"windowspecdefinition\(([^)]*)\)", plan)
    assert specs and all(s.startswith("day") for s in specs), specs


def test_winsorized_bounds_broadcast(spark):
    """The |groups|-sized percentile-bounds relation joins broadcast
    into the second scan."""
    plan = _plan(spark, "ext_winsorized_stats")
    assert "BroadcastHashJoin" in plan


def test_driver_window_is_exactly_the_checked_prefix():
    """The external harness hash-checks only the FIRST 50 keys of
    queries(). Round 4's window listed 68 keys, so positions 51-68 —
    the riskiest promised re-checks — silently got no external row
    (r4 verdict item 2). Pin the contract: the window is EXACTLY the
    harness's prefix length, every window key is registered, and the
    entry point surfaces the window verbatim as the prefix."""
    import __spark_entry__ as entry
    from ecommerce_lakehouse_platform_spark import registry

    assert len(registry._DRIVER_WINDOW) == 50, (
        f"window has {len(registry._DRIVER_WINDOW)} keys; the harness "
        "checks exactly 50 — extra entries are silently unchecked"
    )
    assert len(set(registry._DRIVER_WINDOW)) == 50  # no duplicates
    keys = list(entry.queries())
    assert keys[:50] == list(registry._DRIVER_WINDOW)


def test_changed_queries_sit_inside_driver_window():
    """Any query whose semantics or output values changed this round
    must be externally re-checked: its previous green row proves
    nothing about the new code. Keep this list in sync with the
    round's diff. (The r14 changed set went green in CORRECTNESS_r14
    and rotated out on schedule.)"""
    from ecommerce_lakehouse_platform_spark import registry

    changed = {
        # fixture memo now rebuilds a table whose data files vanished
        "ext_delta_time_travel",
        "ext_delta_cdf_fold",
        "ext_delta_merge_cdf",
        "ext_delta_v2_checkpoint",
        "stream_cdf_source",
        # PQ block fits run under the caller's job group
        "ext_pq_encode",
        "ext_pq_adc_search",
        # shingle pair generators are always self-cleaning
        "ext_dedup_ngram_jaccard",
        "ext_dedup_clusters",
        "ext_dedup_keep_best",
        "ext_dedup_containment",
        # nested oracles composed from ORACLES, not spliced tokens
        "ext_ann_recall",
        "ext_running_gold_totals",
        # import-cycle workarounds removed from the query or its oracle
        "ext_langid_confusion",
        "stream_interval_join_outer",
    }
    window = set(registry._DRIVER_WINDOW)
    assert changed <= window, sorted(changed - window)


def test_bench_headline_names_are_registered():
    """bench.py filters HEADLINE against the registry, so a renamed
    query silently vanishes from the bench (the filter hides the
    mismatch instead of failing). Pin every headline name to a real
    registration, and every headline entry to an oracle pair — a
    benched query with no differential twin is an unchecked claim."""
    import bench
    from ecommerce_lakehouse_platform_spark import registry

    missing = [n for n in bench.HEADLINE if n not in registry.QUERIES]
    assert not missing, f"headline names not registered: {missing}"
    unoracled = [n for n in bench.HEADLINE if n not in registry.ORACLES]
    assert not unoracled, f"headline queries without oracle: {unoracled}"


def test_span_cut_no_window_no_cartesian(spark):
    """The cut application must stay linear: token removal is an
    anti-join on (doc, position) and reassembly is an in-group
    array_sort — no window, no cartesian/BNLJ, no global sort
    anywhere (a per-doc window over positions would serialize long
    docs; a global sort would serialize the corpus)."""
    plan = _plan(spark, "ext_dedup_span_cut")
    assert "Window" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    simple = _plan(spark, "ext_dedup_span_cut", mode="simple")
    sorts = re.findall(r"Sort \[[^\]]*\], (true|false),", simple)
    assert all(flag == "false" for flag in sorts), simple


def test_phash_dedup_single_exchange_after_python(spark):
    """The perceptual-hash dedup's only Python boundary is the codec
    mapInPandas; everything downstream is one hash-partitioned window
    over the phash key. Pin: exactly one shuffle Exchange above the
    MapInPandas node, and no second pass over the corpus (one scan of
    documents)."""
    plan = _plan(spark, "ext_media_phash_dedup")
    assert "MapInPandas" in plan
    simple = _plan(spark, "ext_media_phash_dedup", mode="simple")
    assert simple.count("Scan parquet") == 1, simple
    assert simple.count("Exchange hashpartitioning") == 1, simple

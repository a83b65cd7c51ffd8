"""Query registry: named (PySpark plan, DuckDB oracle SQL) pairs.

This is the driver contract surface (`__spark_entry__.py` re-exports
it): each key is an operator from SURVEY.md §2 or a north-star
extension; the Spark callable and the oracle SQL must produce
identical (row-count, schema, order-insensitive value-hash) results on
the same parquet fixtures.

Layout: ``_core`` holds the two tables (``QUERIES``, ``ORACLES``), the
``query`` decorator and the ``_t`` table loader. One module per domain
registers into them, imported below in this fixed order:

- ``reference`` — the reference workload's ``op_``/``gold_``/``dash_``/
  ``dq_`` queries;
- ``relational`` — relational surface and clickstream/customer
  analytics;
- ``text`` — text statistics, dedup and corpus curation;
- ``media`` — binary and multimodal columns;
- ``vectors`` — vector search, embeddings and ML;
- ``graph`` — co-purchase graph algorithms;
- ``delta_streaming`` — the mini Delta log, compaction planning and
  streaming.

A domain module imports only ``_core`` and library code, never another
domain module. An oracle that nests another query's oracle reads it
from ``ORACLES``, so the nested query must be registered earlier: in a
module listed above it, or higher up in the same module.

Cross-engine determinism rules used throughout (SURVEY.md §5):
- money/double sums go through DECIMAL(30,6) in BOTH engines
  (order-independent, exact) and are cast back to double;
- rounding is explicit floor(x*10^n + 0.5)/10^n in both engines
  (Spark ROUND is HALF_UP, DuckDB's double ROUND isn't);
- Spark's double→long cast truncates toward zero → DuckDB oracles use
  CAST(TRUNC(x) AS BIGINT);
- epoch seconds = truncated (`ts.cast("long")` ⟺ floor(epoch(ts)));
- no wall-clock and no raw-timestamp columns in checked outputs;
- every ORDER BY feeding a LIMIT carries a unique tiebreak key;
- DuckDB SUM(int)→HUGEINT and conditional sums are cast to BIGINT to
  match Spark's long.
"""

from __future__ import annotations

from . import reference  # noqa: F401  (registers; first: others nest its oracles)
from . import relational  # noqa: F401
from . import text  # noqa: F401
from . import media  # noqa: F401
from . import vectors  # noqa: F401
from . import graph  # noqa: F401
from . import delta_streaming  # noqa: F401
from ._core import ORACLES, QUERIES, _t, query

# ---------------------------------------------------------------------------
# Driver-window ordering
# ---------------------------------------------------------------------------
# Prefix semantics: the external correctness harness checks a PREFIX of
# ``queries()`` insertion order each round, so the window is EXACTLY 50
# keys — the harness's checked prefix length. Keys past 50 would get no
# external row at all; everything behind the window keeps registration
# order, and the repo-side oracle suite (tests/test_registry_oracle.py,
# same gate as the harness) still covers every registered query.
#
# CAPACITY INVARIANT: a 50-slot window under the round−3 staleness bound
# (tests/test_staleness_ledger.py) sustains at most 50 × 3 = 150
# registered queries — every query must be re-windowed at least once
# every 3 rounds, and new or changed slots eat from the same budget. The
# registry is AT that capacity. Do not register another externally-gated
# query without retiring one; new operators extend EXISTING queries'
# plans or live as pytest-proven library surface (REGISTRY.md lists that
# tier).
#
# Precedence when rotating:
# (1) keys that breach the staleness bound if left out — never-green
#     (new) keys first, then the oldest newest-green rows;
# (2) keys whose code or oracle changed since their newest green row;
# (3) the remaining slots oldest newest-green first.
# `python tools/staleness_ledger.py --plan` prints the forced set and
# the oldest-first fill.
_DRIVER_WINDOW: tuple[str, ...] = (
    # --- (1) newest external green row is r11: breach the bound ---
    "dq_bounded_rates",
    "dq_nonneg_amounts",
    "dq_notnull_products",
    "dq_pk_unique_customer",
    "ext_binary_metadata",
    "ext_dedup_exact",
    "ext_dedup_normalized",
    "ext_global_score_rank",
    "ext_groupwise_stats",
    "ext_json_extract",
    "ext_setops_users",
    "ext_stats_correlation",
    "ext_text_vocab",
    "ext_time_bucket_rollup",
    "ext_time_to_convert",
    "ext_unpivot_lineitem",
    "ext_url_canonicalize",
    "ext_winsorized_stats",
    "op_agg_having",
    # --- (2) code changed: fixture-memo rebuild check, pool-thread
    # --- job groups of the PQ block fits
    "ext_delta_time_travel",
    "ext_delta_cdf_fold",
    "ext_delta_merge_cdf",
    "ext_delta_v2_checkpoint",
    "stream_cdf_source",
    "ext_pq_encode",
    "ext_pq_adc_search",
    # --- (2) code changed: always-self-cleaning shingle pairs, nested
    # --- oracles composed from ORACLES, direct plans.silver import
    "ext_dedup_ngram_jaccard",
    "ext_dedup_clusters",
    "ext_dedup_keep_best",
    "ext_dedup_containment",
    "ext_ann_recall",
    "ext_running_gold_totals",
    "ext_langid_confusion",
    "stream_interval_join_outer",
    # --- (3) oldest-first fill: newest external green row is r12 ---
    "dash_product_performance",
    "ext_bm25_topk",
    "ext_decontamination",
    "ext_delta_identity",
    "ext_delta_widened_read",
    "ext_dup_span_coverage",
    "ext_embedding_centroids",
    "ext_event_paths",
    "ext_fuzzy_blocked_join",
    "ext_incremental_rollup",
    "ext_knn_label_predict",
    "ext_lang_temperature_sample",
    "ext_media_frames",
    "ext_merge_upsert",
    "ext_ordered_funnel",
    "ext_outlier_iqr",
)


def _apply_driver_window() -> None:
    """Reorder QUERIES/ORACLES in place so _DRIVER_WINDOW keys lead."""
    missing = [k for k in _DRIVER_WINDOW if k not in QUERIES]
    if missing:  # fail loudly on a rename, not silently reorder
        raise KeyError(f"driver-window queries not registered: {missing}")
    for registered in (QUERIES, ORACLES):
        ordered = {k: registered[k] for k in _DRIVER_WINDOW if k in registered}
        ordered.update(
            (k, v) for k, v in registered.items() if k not in ordered
        )
        registered.clear()
        registered.update(ordered)


_apply_driver_window()

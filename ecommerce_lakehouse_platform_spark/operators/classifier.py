"""Distributed pocket-perceptron training over integer document
features — the supervised half of the corpus-curation ML surface
(``operators/kmeans.py`` is the unsupervised half).

Production LLM data pipelines filter with TRAINED quality classifiers
(CCNet's fastText linear model, Llama's quality scorers), not only
hand-tuned heuristic ratios (``functions/text.py``). This module
trains a linear classifier with the batch perceptron rule

    w_{t+1} = w_t + Σ_{i : y_i ⟨w_t, x_i⟩ ≤ 0} y_i · x_i

plus the POCKET selection (Gallant 1990, public): the returned model
is the epoch weight vector with the fewest training errors, not the
last one — batch perceptron oscillates on non-separable data, and the
pocket turns the oscillation into a deterministic argmin. Everything
is deliberately ALL-INTEGER: features are exact BIGINT token
statistics centered by fixed constants, labels are ±1, updates add
integer gradient sums, and the pocket argmin breaks ties on the
earliest epoch — so every epoch, the selected model, the scores, and
the confusion matrix are bit-identical between Spark and the DuckDB
differential oracle (the same cross-engine exactness discipline as
``operators/kmeans.py``; no sigmoid, no float accumulation order).

Feature centering is load-bearing, not cosmetic: with raw counts the
bias coordinate moves ±1 per misclassified row while count features
move ±O(count), so the boundary offset can never catch up and the
batch iteration oscillates uselessly (measured: 51–57% accuracy at
every tested scale). Centering by fixed corpus-typical constants puts
the needed offset within one update's reach — the same run reaches
98–99% accuracy at sf0.001/0.01/0.1 with identical constants.

Distributed shape (the 100 TB contract):

* the margin ``y·⟨w, x⟩`` is a map-side whole-stage-codegen fold —
  the dim-length weight vector rides in the plan as ONE array literal
  (``zip_with``/``aggregate``), no join, no UDF;
* each epoch is ONE scan: the misclassified rows' ``y·x[pos]``
  components posexplode into a map-combined ``groupBy(pos)`` — ≤ dim
  aggregated rows (carrying the error count) cross the wire, whatever
  the corpus size;
* driver traffic is the dim sums per epoch — the same O(model)
  scalar-collect legitimacy class as k-means' centroid update
  ("broadcast the new weights" is exactly what a parameter server
  does, degenerated to one reduce per epoch);
* scoring/filtering with the trained model is a pure projection —
  zero shuffles, usable as a map-side corpus filter at any scale.

The fit caches the (y, x) feature projection for its own lifetime
(released before returning): every epoch iterates on the SAME integer
features, and re-deriving them means one full tokenize pass per epoch
— identical reasoning to kmeans' cache-the-training-set note.

Magnitude bounds (BIGINT safety): after T epochs ‖w‖∞ ≤ T·n·max|x|
(every row misclassified every epoch is the worst case), so per-row
scores are ≤ dim·T·n·max|x|² — with centered features (max|x| ~10³)
exact BIGINT through n ~10⁸ documents WORST CASE, which covers the
fit and the map-side corpus filter. The confusion matrix's score
mass adds another factor of n (≤ dim·T·n²·max|x|³), whose worst case
crosses int64 around n ~10⁴–10⁵; in practice it stays far smaller
because the worst case assumes every row misclassified every epoch,
which contradicts the shrinking error counts a converging fit
exhibits (LAST_EPOCH_ERRORS) — but that is an empirical property,
not a bound. Both engines fail LOUDLY if it is ever exceeded: this
repo runs Spark with ANSI mode on (sum overflow raises) and the
oracle's CAST(SUM(..) AS BIGINT) raises in DuckDB, so a blown bound
is a hard error on both sides, never a silent divergence. For
corpora past either bound, train on a fixed-size stratified sample
and score the full corpus — `ext_quality_sampled_train` exercises
exactly that composition (gradient and score magnitudes then scale
with the SAMPLE size) — the standard practice anyway, since a linear
model's fit gains nothing from the 10⁹th example.

The reference has no classifier (its curation is rule-based SQL);
this belongs to the training-data extension surface. Public
algorithms: Rosenblatt 1958 (perceptron), Gallant 1990 (pocket).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.text import distinct_token_count, token_count, tokens

# fixed centering constants (corpus-typical token stats — constants,
# not fitted values, so the oracle SQL mirrors them literally and the
# model stays comparable across scale factors)
CENTER_TOKENS = 54
CENTER_DISTINCT = 37
CENTER_THE = 2

# per-epoch training-error counts of the last perceptron_fit
# ([errors(w_0), ..., errors(w_T)]) — telemetry for tests/bench, never
# part of any result
LAST_EPOCH_ERRORS: list[int] = []


def quality_features(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    label: Column | None = None,
) -> DataFrame:
    """(id, y, x): integer feature vectors for the quality perceptron.

    x = [bias=1, n_tokens−54, n_distinct_tokens−37, n_'the'−2] —
    exact BIGINT token statistics (shared helpers with the heuristic
    scorers in ``functions/text.py``) centered by the fixed module
    constants (see the module docstring for why centering is
    load-bearing). ``label`` is any ±1 integer Column; the default is
    the Gopher-style length gate ``n_chars >= 300`` (long documents
    are the positive class), a deterministic teacher the classifier
    must learn back from token counts alone — n_chars is deliberately
    NOT a feature.
    """
    if label is None:
        label = (
            F.when(F.col("n_chars") >= 300, F.lit(1)).otherwise(F.lit(-1))
        )
    toks = tokens(F.col(text_col))
    n_the = F.size(F.filter(toks, lambda t: t == F.lit("the"))).cast("long")
    return docs.select(
        F.col(id_col),
        label.cast("long").alias("y"),
        F.array(
            F.lit(1).cast("long"),
            token_count(F.col(text_col)) - F.lit(CENTER_TOKENS),
            distinct_token_count(F.col(text_col)) - F.lit(CENTER_DISTINCT),
            n_the - F.lit(CENTER_THE),
        ).alias("x"),
    )


def _dot_w(x: Column, w: list[int]) -> Column:
    """⟨x, w⟩ with the weights as one array literal: a map-side
    integer fold, zero shuffles, no UDF."""
    w_lit = F.lit([int(v) for v in w]).cast("array<bigint>")
    return F.aggregate(
        F.zip_with(x, w_lit, lambda a, b: a * b),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )


def perceptron_fit(feats: DataFrame, dim: int, n_iters: int = 6) -> list[int]:
    """Pocket-perceptron weights: run ``n_iters`` batch epochs from
    w₀ = 0, return the epoch vector with the FEWEST training errors
    (ties → earliest epoch — w₀'s errors are measured too, so a
    useless run degrades to the zero model, never to a worse one).

    Per epoch: ONE scan — map-side margin (weights as a plan
    literal), misclassified filter (margin ≤ 0, ties update: the
    all-zero first epoch updates on every row), posexplode of the
    per-component contributions ``y·x[pos]``, and one map-combined
    groupBy(pos) whose ≤ dim aggregated sums — each row also carrying
    the misclassified-row count, so the pocket bookkeeping costs no
    extra pass — are the only rows collected. A zero-error epoch
    stops early (the update is a no-op from there on, which is also
    why the oracle's fixed unroll stays equivalent). Deterministic
    regardless of partitioning: integer addition is
    order-independent.
    """
    LAST_EPOCH_ERRORS.clear()
    # cached for the fit's lifetime (r14): uncached, every epoch
    # re-derived the features from raw text — n_iters+1 full tokenize
    # passes over the corpus for a feature relation of dim+1 small
    # integers per row. Caching the (y, x) projection makes epoch 1
    # the only tokenize pass; epochs 2..n aggregate the cached integers (the
    # classic cache-the-training-set move of every iterative fitter —
    # MLlib does the same; MEMORY_AND_DISK semantics spill gracefully
    # at any scale, and the entry is released before returning, so no
    # CacheManager pin survives the call). Measured at sf0.1:
    # ext_quality_perceptron's per-epoch job drops from ~250ms of
    # single-task re-tokenization to reading ~5k cached rows.
    src = feats.select("y", "x").cache()
    try:
        w = [0] * dim
        best_err: int | None = None
        best_w = list(w)
        for _ in range(int(n_iters)):
            grad = _epoch_gradient(src, w)
            errors = grad[0][1] if grad else 0
            LAST_EPOCH_ERRORS.append(errors)
            if best_err is None or errors < best_err:
                best_err, best_w = errors, list(w)
            if errors == 0:
                return best_w
            for pos, _c, g in grad:
                w[pos] += g
        # the last update's vector still needs its errors measured
        # (n_iters=0 lands here directly: w₀ is measured and returned,
        # honoring the degrade-to-zero-model contract)
        grad = _epoch_gradient(src, w)
        errors = grad[0][1] if grad else 0
        LAST_EPOCH_ERRORS.append(errors)
        if best_err is None or errors < best_err:
            best_err, best_w = errors, list(w)
        return best_w
    finally:
        src.unpersist()


def _epoch_gradient(
    feats: DataFrame, w: list[int]
) -> list[tuple[int, int, int]]:
    """[(pos, n_misclassified, Σ y·x[pos])] under ``w`` — empty when
    nothing is misclassified. One scan, ≤ dim collected rows."""
    margin = (F.col("y") * _dot_w(F.col("x"), w)).alias("_m")
    rows = (
        feats.select("y", "x", margin)
        .filter(F.col("_m") <= 0)
        .select(
            F.posexplode(F.transform(F.col("x"), lambda v: v * F.col("y")))
        )
        .groupBy("pos")
        .agg(F.count(F.lit(1)).alias("c"), F.sum("col").alias("g"))
        .collect()
    )
    return sorted((r["pos"], r["c"], r["g"]) for r in rows)


def perceptron_score(feats: DataFrame, w: list[int]) -> DataFrame:
    """(id, y, score, pred): map-side scoring under the trained
    weights — the corpus-filter projection (zero shuffles). Boundary
    convention: score must be strictly positive to predict +1, the
    mirror of training's "margin ≤ 0 still updates"."""
    score = _dot_w(F.col("x"), w).alias("score")
    out = feats.select("*", score)
    return out.select(
        *[c for c in feats.columns],
        "score",
        F.when(F.col("score") > 0, F.lit(1))
        .otherwise(F.lit(-1))
        .cast("long")
        .alias("pred"),
    )


def perceptron_confusion(scored: DataFrame) -> DataFrame:
    """(label, pred, n, sum_score): the 2×2 confusion matrix plus the
    per-cell score mass — one partial-aggregated groupBy over the
    scored corpus (≤ 4 result rows at any scale)."""
    return (
        scored.groupBy(
            F.col("y").alias("label"), F.col("pred").alias("pred")
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("score").alias("sum_score"),
        )
        .orderBy("label", "pred")
    )

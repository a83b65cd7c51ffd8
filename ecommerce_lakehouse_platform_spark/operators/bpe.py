"""Byte-pair-encoding tokenizer TRAINING, the full merge loop.

The registry's externally-gated queries pin the two primitive steps —
weighted pair counting (`ext_bpe_pair_counts`) and one applied merge
(`ext_bpe_apply_merge`, registry/text.py) — and this module iterates
them into a real merge table: the classic BPE training algorithm
(Sennrich et al., ACL 2016 — public paper; the reference engine has no
tokenizer training at all, this is part of the LLM-pipeline surface).

Execution shape, designed for corpus scale:

* ONE corpus scan builds the word-frequency vocabulary; every
  iteration after that runs over the VOCABULARY (unique words + their
  current token arrays), which is bounded by the language, not the
  corpus.
* Per iteration: adjacent pairs explode from the token arrays
  (map-side), one freq-weighted groupBy(pair) count (map-combined
  shuffle, the `ext_bpe_pair_counts` plan), a 1-row argmax to the
  driver (count desc, lexicographic tiebreak — deterministic), and a
  map-side merge application. Driver traffic = one row per merge.
* The merge application is an EXACT greedy left-to-right fold
  (`F.aggregate` over the token array): "aaa" + merge(a,a) ->
  [aa, a], never the string-replace approximation whose consumed
  delimiters skip alternating occurrences ("aaaa" must give
  [aa, aa]). All JVM-side higher-order functions — no UDF.
* Vocabulary state is re-materialized per iteration with
  ``localCheckpoint`` so the loop's lineage stays O(1) instead of
  stacking N fold expressions onto one plan.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def word_frequencies(
    docs: DataFrame, text_col: str = "text", min_len: int = 2
) -> DataFrame:
    """(word, freq) over whitespace words — the one corpus-sized scan
    of BPE training; everything downstream is vocabulary-sized."""
    return (
        # \s+ so whitespace-delimited words never contain tabs or
        # newlines — characters the downstream '.'-regex char split
        # (which does not match newlines) would silently drop
        docs.select(F.explode(F.split(F.col(text_col), r"\s+")).alias("word"))
        .filter(F.length("word") >= min_len)
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
    )


def _merge_pair(toks: Column, pa: str, pb: str) -> Column:
    """Greedy left-to-right application of merge (pa, pb) to a token
    array: fold each token onto the accumulator, fusing it with the
    accumulator's last element when the two form the pair. Exact BPE
    semantics — a fused token never re-fuses within the same pass
    ("aaa" -> [aa, a]; "aaaa" -> [aa, aa])."""
    # Non-overlap holds by construction: within one pass the freshly
    # fused token equals pa+pb, which can only collide with pa if pb
    # were empty (tokens are non-empty), so a fused element never
    # re-fuses — the fold IS the non-overlapping left-to-right scan.
    merged = F.lit(pa + pb)
    return F.aggregate(
        toks,
        F.array().cast("array<string>"),
        # try_element_at: ANSI mode is ON engine-wide and plain
        # element_at(-1) THROWS on the empty accumulator of the first
        # step; try_ returns NULL, and the NULL condition falls
        # through to the append branch — exactly the wanted start.
        lambda acc, x: F.when(
            (F.try_element_at(acc, F.lit(-1)) == F.lit(pa))
            & (x == F.lit(pb)),
            F.concat(
                F.slice(acc, 1, F.size(acc) - 1), F.array(merged)
            ),
        ).otherwise(F.concat(acc, F.array(x))),
    )


def train_bpe(
    docs: DataFrame,
    n_merges: int,
    text_col: str = "text",
    min_len: int = 2,
    min_pair_count: int = 2,
) -> tuple[list[tuple[str, str, int]], DataFrame]:
    """Train ``n_merges`` BPE merges over the corpus; returns the
    ordered merge table [(left, right, weighted_count), ...] and the
    final vocabulary DataFrame (word, freq, toks array<string>).

    Stops early when no remaining adjacent pair reaches
    ``min_pair_count`` (merging a pair seen once buys nothing).
    Determinism: argmax orders by count desc, then (left, right)
    lexicographically — same tiebreak as `ext_bpe_apply_merge`.
    """
    spark = docs.sparkSession
    state = (
        word_frequencies(docs, text_col, min_len)
        .select(
            "word",
            "freq",
            F.regexp_extract_all(F.col("word"), F.lit("."), 0).alias(
                "toks"
            ),
        )
        .localCheckpoint(eager=True)
    )
    merges: list[tuple[str, str, int]] = []
    for _ in range(n_merges):
        pairs = state.select(
            "freq",
            F.explode(
                F.arrays_zip(
                    F.slice(F.col("toks"), 1, F.size("toks") - 1).alias(
                        "pa"
                    ),
                    F.slice(F.col("toks"), 2, F.size("toks") - 1).alias(
                        "pb"
                    ),
                )
            ).alias("p"),
        ).select(
            F.col("p.pa").alias("pa"), F.col("p.pb").alias("pb"), "freq"
        )
        best = (
            pairs.groupBy("pa", "pb")
            .agg(F.sum("freq").alias("cnt"))
            .orderBy(F.col("cnt").desc(), "pa", "pb")
            .limit(1)
            .collect()
        )
        if not best or best[0]["cnt"] < min_pair_count:
            break
        pa, pb, cnt = best[0]["pa"], best[0]["pb"], int(best[0]["cnt"])
        merges.append((pa, pb, cnt))
        prev = state
        state = state.withColumn(
            "toks", _merge_pair(F.col("toks"), pa, pb)
        ).localCheckpoint(eager=True)
        prev.unpersist()
    return merges, state


def apply_merges(
    tokens: Column, merges: list[tuple[str, str, int]] | list[tuple[str, str]]
) -> Column:
    """Apply a trained merge table to a token array column, in rank
    order — the ENCODE half of the tokenizer. Merge i's output feeds
    merge i+1's input, exactly like training's sequential passes; the
    whole ladder is one nested JVM fold expression, map-side, no
    shuffle, no UDF. Bounded by the merge-table length (a model
    constant), not data."""
    out = tokens
    for m in merges:
        out = _merge_pair(out, m[0], m[1])
    return out

"""Near-duplicate detection over a text column: exact n-gram Jaccard,
MinHash+LSH, SimHash, and embedding-cosine variants.

All are shuffle-bounded DataFrame pipelines (explode → hash-join on
shared tokens/buckets → aggregate); nothing collects to the driver, so
each scales to full-corpus runs — the LSH variants exist precisely so
the candidate-pair count stays ~linear instead of O(n²) at 100 TB.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.text import shingles, tokens


def _spread(docs: DataFrame, id_col: str) -> DataFrame:
    """Ensure explode work is spread across the cluster: a small input
    file arrives as one partition, and everything downstream of the
    explode would run single-threaded. Hash-repartition on the doc id
    (the explode multiplies rows ~100×, so pre-spreading is the scale
    move too — post-explode AQE coalescing can shrink but not grow)."""
    target = docs.sparkSession.sparkContext.defaultParallelism
    return docs.repartition(target, F.col(id_col))


def _doc_shingles(
    docs: DataFrame, id_col: str, text_col: str, n: int
) -> DataFrame:
    """(doc_id, shingle) distinct pairs."""
    return (
        _spread(docs, id_col)
        .select(
            F.col(id_col).alias("doc_id"),
            F.explode(F.array_distinct(shingles(F.col(text_col), n))).alias("shingle"),
        )
        .distinct()
    )


# Stop-shingle cap defaults shared by every exact shingle self-join in
# this module (and mirrored verbatim in the registered queries' DuckDB
# oracle SQL): a shingle is boilerplate when it appears in more than
#     max(MAX_DF_FLOOR, min(ceil(MAX_DF_FRAC * n_docs), MAX_DF_CEIL))
# documents. The floor keeps the cap an identity on small corpora (df
# can never exceed n_docs ≤ floor); the fraction is the scale knob;
# the ceiling is the asymptotic guarantee. Why this exists: a shingle
# in f docs contributes f² rows to the candidate self-join, so
# uncapped boilerplate is quadratic in corpus size — the sf1 scaling
# probe measured 6.0e9 candidate rows on 50k docs (max df 13,410; one
# shingle alone 1.8e8 rows) of which 99.8% came from shingles in >1%
# of the corpus, while the true ≥-threshold pair count was ~6k. With
# this cap the same corpus generates ~1.4e7 candidate rows.
#
# Why the ceiling: a purely fractional cap bounds candidates only by
# (frac·n)·Σf — still super-linear on an adversarial df distribution
# that piles mass just under the fraction. Clamping the cap at an
# absolute MAX_DF_CEIL makes the candidate volume ≤ MAX_DF_CEIL · Σf
# = O(corpus) unconditionally. An absolute document-frequency cutoff
# for "boilerplate, period" is standard IR practice; the ceiling only
# starts to bind beyond ~819k documents (0.005·n > 4096), far above
# every test scale, so it changes nothing below web scale.
MAX_DF_FRAC = 0.005
MAX_DF_FLOOR = 32
MAX_DF_CEIL = 4096

# DuckDB oracle twin of the default cap, kept HERE so the constants
# and the SQL can never drift apart: registered queries that call the
# capped generators splice this fragment into their oracle in place of
# the plain shingle CTE. ``n_docs`` is COUNT(DISTINCT doc_id) over the
# shingle table (docs with ≥ n tokens), exactly what
# ``_cap_stop_shingles`` computes; the cap arithmetic is one IEEE
# double multiply + CEIL in both engines, so the boundary is bit-exact
# cross-engine. The shingle width is PARAMETERIZED — a query pairing
# this fragment with a generator call must splice oracle_sh_capped(n)
# for the same n it passes the generator (the module-level
# ORACLE_SH_CAPPED constant is the n=3 instance every current
# registered query uses).


def oracle_sh_capped(n: int = 3) -> str:
    """The capped-shingle oracle CTE for token ``n``-grams, generated
    from the same arithmetic as the default fragment so the width can
    never silently diverge from the generator's ``n``."""
    terms = ", ".join(f"t[i+{j}]" if j else "t[i]" for j in range(n))
    return f"""
    toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
    sh0 AS (
      SELECT DISTINCT doc_id,
        unnest(list_transform(range(1, len(t) + ({2 - n})), i -> concat_ws(' ', {terms}))) AS s
      FROM toks WHERE len(t) >= {n}
    ),
    keep AS (
      SELECT s FROM sh0 GROUP BY s
      HAVING COUNT(*) <= GREATEST({MAX_DF_FLOOR}, LEAST(
        CEIL({MAX_DF_FRAC} * (SELECT COUNT(DISTINCT doc_id) FROM sh0)),
        {MAX_DF_CEIL}))
    ),
    sh AS (SELECT sh0.doc_id, sh0.s FROM sh0 JOIN keep USING (s))
"""


ORACLE_SH_CAPPED = oracle_sh_capped(3)


def _cap_stop_shingles(
    ds: DataFrame,
    max_df: int | None,
    max_df_frac: float | None,
    max_df_floor: int,
    max_df_ceil: int = MAX_DF_CEIL,
) -> DataFrame:
    """Remove stop-shingles from a (doc_id, shingle) table.

    Two independent caps, both applied when set: ``max_df`` is an
    absolute document-frequency ceiling; ``max_df_frac`` is the
    growth-stable fraction-of-corpus form, ``df ≤ greatest(floor,
    least(ceil(frac · n_docs), max_df_ceil))``, where ``n_docs``
    counts the documents that produced at least one shingle (matching
    the oracle SQL's ``COUNT(DISTINCT doc_id)`` over the shingle
    CTE). The ``max_df_ceil`` clamp is what makes the candidate join
    O(corpus) unconditionally — see the MAX_DF_CEIL note above.

    Everything stays in-plan: ``n_docs`` is a one-row aggregate
    broadcast into the frequency filter, never a driver-side action.
    Sizes and intersections downstream both see the capped sets, so
    the similarity stays internally consistent (it becomes "Jaccard /
    containment over informative shingles" — the standard web-scale
    trade; boilerplate-only overlap no longer counts as similarity).

    PRECONDITION: ``ds`` must hold DISTINCT (doc_id, shingle) pairs —
    document frequency is a plain count per shingle under that
    contract, matching the oracle SQL's COUNT over the DISTINCT
    shingle CTE. Every caller in this module goes through
    ``_doc_shingles``, which distincts; a non-distinct caller would
    over-count df and cut the wrong shingles.
    """
    if max_df is None and max_df_frac is None:
        return ds
    return ds.join(
        _capped_shingle_df(
            ds, max_df, max_df_frac, max_df_floor, max_df_ceil
        ).select("shingle"),
        ["shingle"],
    )


def _capped_shingle_df(
    ds: DataFrame,
    max_df: int | None,
    max_df_frac: float | None,
    max_df_floor: int,
    max_df_ceil: int = MAX_DF_CEIL,
) -> DataFrame:
    """(shingle, _df) document frequencies, restricted to shingles
    that survive the stop-shingle cap (all shingles when no cap set).

    Single aggregation serving BOTH the cap filter and any downstream
    frequency ranking (prefix filtering orders by ascending df): a
    surviving shingle's df is identical before and after capping —
    capping removes whole shingle groups, never individual (doc_id,
    shingle) rows — so one pass suffices. Same DISTINCT-pairs
    precondition as :func:`_cap_stop_shingles`.
    """
    dfreq = ds.groupBy("shingle").agg(F.count(F.lit(1)).alias("_df"))
    if max_df_frac is not None:
        nd = ds.agg(F.countDistinct("doc_id").alias("_nd"))
        cap = F.greatest(
            F.lit(int(max_df_floor)).cast("long"),
            F.least(
                F.ceil(F.lit(float(max_df_frac)) * F.col("_nd")),
                F.lit(int(max_df_ceil)).cast("long"),
            ),
        )
        dfreq = (
            dfreq.crossJoin(F.broadcast(nd))
            .filter(F.col("_df") <= cap)
            .drop("_nd")
        )
    if max_df is not None:
        dfreq = dfreq.filter(F.col("_df") <= max_df)
    return dfreq


# Over-cap shingle sets above this row count fall back from the
# broadcast anti-join to the shuffle semi-join in
# _capped_shingle_groups. A million short shingle strings is tens of
# MB on the wire — the same traffic class as any dimension broadcast.
_DROP_BROADCAST_MAX = 1_000_000


def _overcap_shingles(
    ds: DataFrame,
    max_df: int | None,
    max_df_frac: float | None,
    max_df_floor: int,
    max_df_ceil: int = MAX_DF_CEIL,
) -> DataFrame:
    """(shingle) rows OVER the stop-shingle cap — the exact complement
    of :func:`_capped_shingle_df`'s survivors (a survivor must pass
    EVERY configured cap, so the complement fails ANY).

    Small by pigeonhole: at most total-shingle-occurrences / cap rows
    (each over-cap shingle accounts for > cap occurrences), and in
    real corpora far fewer — stop-shingles are the handful of
    boilerplate n-grams. Same DISTINCT-pairs precondition as
    :func:`_cap_stop_shingles`.
    """
    dfreq = ds.groupBy("shingle").agg(F.count(F.lit(1)).alias("_df"))
    conds = []
    if max_df_frac is not None:
        nd = ds.agg(F.countDistinct("doc_id").alias("_nd"))
        cap = F.greatest(
            F.lit(int(max_df_floor)).cast("long"),
            F.least(
                F.ceil(F.lit(float(max_df_frac)) * F.col("_nd")),
                F.lit(int(max_df_ceil)).cast("long"),
            ),
        )
        dfreq = dfreq.crossJoin(F.broadcast(nd))
        conds.append(F.col("_df") > cap)
    if max_df is not None:
        conds.append(F.col("_df") > max_df)
    cond = conds[0]
    for c in conds[1:]:
        cond = cond | c
    return dfreq.filter(cond).select("shingle")


def _capped_shingle_groups(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    n: int,
    max_df: int | None,
    max_df_frac: float | None,
    max_df_floor: int,
    max_df_ceil: int = MAX_DF_CEIL,
) -> DataFrame:
    """(shingle, docs) — per-shingle document sets surviving the
    stop-shingle cap, from ONE aggregation of the shingle table.

    The grouped formulation is the exact-pair family's 100 TB shape:
    candidate pairs explode MAP-SIDE from each surviving doc set
    (k(k−1)/2 rows per shingle, bounded by the cap's ceiling) instead
    of shuffling the shingle table a second time for a
    self-equi-join — the second join side and its exchange disappear.
    Measured on the sf1 probe: ngram_jaccard 9.2s → 7.0s median
    (→ 5.2s without the buffer guard below — the unbounded shape this
    function deliberately does not use when a cap is set).

    BUFFER GUARD: when a cap is set, a count-based pre-filter (plain
    partial counts, bounded memory at any key skew) drops over-cap
    shingles BEFORE the ``collect_set``. Collecting first and
    filtering on ``size(docs)`` after would assemble a web-scale
    stop-shingle's full doc set (df ~1e8 for "the the the") in one
    aggregation buffer just to discard it; with the guard, per-group
    buffers are bounded by ``max_df_ceil`` ids (~32 KB at the 4096
    ceiling) at ANY corpus size. With NO cap (both ``None`` — the
    caller explicitly requested the uncapped all-pairs relation) the
    sets collect directly and per-group memory is O(max df):
    acceptable only where the caller already accepts the f² candidate
    blowup that regime implies.

    FILTER SIDE: the pre-filter is applied from the DROP side —
    :func:`_overcap_shingles`, tiny by pigeonhole — as a BROADCAST
    anti-join, so the exploded shingle relation is never exchanged
    for the filter (its only shuffle is the ``collect_set``'s own
    hash aggregation, sort-free). The survivor-side semi-join the
    earlier revision used cost one extra full exchange plus two
    sort-merge sorts of the exploded relation; measured at sf0.1 the
    drop-side plan cuts ngram-jaccard ~25%. The drop set is
    materialized eagerly (``localCheckpoint`` — one scan, reused) to
    pick the strategy: empty → no filter node at all (the cap was an
    identity, the common small-corpus case); ≤ ``_DROP_BROADCAST_MAX``
    → broadcast anti-join; beyond that (degenerate: >1e6 distinct
    over-cap boilerplate shingles) → the shuffle semi-join against
    survivors, which never materializes the drop set anywhere.

    Same cap arithmetic and DISTINCT-pairs precondition as
    :func:`_cap_stop_shingles`; output sets are identical under every
    strategy, so the registered oracles are untouched.
    """
    ds = _doc_shingles(docs, id_col, text_col, n)
    if max_df is not None or max_df_frac is not None:
        # materialize the exploded distinct shingle table ONCE: the
        # drop probe below evaluates it (df aggregate + n_docs
        # aggregate) and the final collect_set aggregation evaluates
        # it AGAIN — separate actions, so exchange reuse cannot share
        # them (r13 phase profile: the explode+distinct pass was
        # recomputed 3× per invocation). localCheckpoint, not cache():
        # the pair generators' self-cleaning contract guarantees no
        # CacheManager entry survives the call, and a pinned ds entry
        # here would break it — the checkpoint RDD is GC-cleaned with
        # the frame instead. Downstream grouping needs a fresh exchange
        # either way (ds is partitioned on (doc_id, shingle), the
        # consumers group on shingle), so unlike the grouped-sets frame
        # nothing is lost to the opaque-scan effect.
        ds = ds.localCheckpoint(eager=True)
        drop = _overcap_shingles(
            ds, max_df, max_df_frac, max_df_floor, max_df_ceil
        ).localCheckpoint(eager=True)
        n_drop = drop.count()
        if n_drop == 0:
            pass
        elif n_drop <= _DROP_BROADCAST_MAX:
            ds = ds.join(F.broadcast(drop), ["shingle"], "left_anti")
        else:
            keep = _capped_shingle_df(
                ds, max_df, max_df_frac, max_df_floor, max_df_ceil
            ).select("shingle")
            ds = ds.join(keep, ["shingle"], "leftsemi")
    return ds.groupBy("shingle").agg(F.collect_set("doc_id").alias("docs"))


def _grouped_sizes_and_shared(g: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(sizes, shared) from the capped shingle groups: per-doc capped
    set sizes (every surviving shingle counts, including df=1
    singletons — set sizes must see the full capped sets) and
    per-pair shared-shingle counts (df≥2 groups only; singletons
    cannot contribute a pair)."""
    sizes = (
        g.select(F.explode("docs").alias("doc_id"))
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_shingles"))
    )
    shared = (
        g.filter(F.size("docs") >= 2)
        .select(F.explode("docs").alias("doc_a"), "docs")
        .select("doc_a", F.explode("docs").alias("doc_b"))
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    return sizes, shared


def ngram_jaccard_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.5,
    max_df: int | None = None,
    max_df_frac: float | None = MAX_DF_FRAC,
    max_df_floor: int = MAX_DF_FLOOR,
) -> DataFrame:
    """Exact all-pairs n-gram Jaccard ≥ threshold (doc_a < doc_b).

    Plan (grouped formulation — :func:`_capped_shingle_groups`): the
    bounded-memory cap pre-filter drops stop-shingles, one
    groupBy(shingle) collects each surviving shingle's doc set, and
    candidate pairs explode map-side from the doc sets (pairs share
    ≥1 shingle — never a cartesian) → count shared → join per-doc
    set sizes → |∩| / (|A|+|B|−|∩|). The group key is
    high-cardinality so the shuffles spread well; stop-shingle
    skew (a shingle in thousands of docs) is the known hot spot: a
    shingle appearing in f docs contributes f(f−1)/2 candidate rows.

    ``max_df`` / ``max_df_frac`` are the skew guards for that:
    shingles appearing in more than the cap's document count are
    removed from the shingle SETS themselves (stop-shingle removal —
    sizes and intersections both see the capped sets, so the Jaccard
    stays internally consistent). With the cap ≥ the corpus's true
    max document frequency the output is identical to the uncapped
    run (property-tested); below it, the similarity is computed over
    the informative shingles only — the standard trade at web scale,
    where the top stop-shingles are boilerplate. The default is the
    growth-stable fractional form ``df ≤ greatest(max_df_floor,
    least(ceil(max_df_frac · n_docs), MAX_DF_CEIL))`` (see ``MAX_DF_FRAC`` above): an
    identity at fixture scale (floor 32 vs observed max df 25) while
    at the sf1 probe scale it collapses a 6.0e9-row candidate join to
    ~1.4e7 rows. Registered queries mirror the identical cap in their
    DuckDB oracle SQL, so the differential stays exact at any scale.
    Pass ``max_df_frac=None`` for the uncapped all-pairs relation.

    The grouped shingle table is ``cache()``d while the pairs are
    computed (it feeds both the size aggregate and the pair explode):
    an InMemoryRelation keeps the Catalyst plan — partitioning-aware,
    column-prunable — where ``localCheckpoint`` degrades to an opaque
    RDD scan and measured ~2-3× slower end-to-end at sf0.1. The pair
    list (tiny next to the shingle table) is then eagerly materialized
    via ``localCheckpoint`` and the group cache unpersisted before
    returning, so no CacheManager entry survives the call; the
    computation runs at call time.
    """
    g = _capped_shingle_groups(
        docs, id_col, text_col, n, max_df, max_df_frac, max_df_floor
    ).cache()
    sizes, shared = _grouped_sizes_and_shared(g)
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_shingles").alias("n_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_shingles").alias("n_b"))
    jac = (
        shared.join(sa, ["doc_a"]).join(sb, ["doc_b"])
        .withColumn(
            "jaccard",
            F.col("n_shared").cast("double")
            / (F.col("n_a") + F.col("n_b") - F.col("n_shared")),
        )
        .filter(F.col("jaccard") >= threshold)
    )
    out = jac.select(
        "doc_a", "doc_b", "n_shared", "n_a", "n_b", "jaccard"
    ).localCheckpoint(eager=True)
    g.unpersist()
    return out


def shingle_containment_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.8,
    max_df: int | None = None,
    max_df_frac: float | None = MAX_DF_FRAC,
    max_df_floor: int = MAX_DF_FLOOR,
) -> DataFrame:
    """Asymmetric shingle containment C(A→B) = |A∩B| / |A| for
    sub-document duplicate detection (doc_a < doc_b; kept when either
    direction ≥ threshold).

    Symmetric Jaccard misses inclusion: a 50-shingle doc quoted whole
    inside a 5000-shingle doc scores jaccard ≈ 0.01 but containment
    1.0 from the small side — the wrapped-repost / boilerplate-quote
    case a web-corpus dedup pass has to catch. Candidate generation is
    the same never-cartesian grouped pair explode as
    ``ngram_jaccard_pairs`` (shared :func:`_capped_shingle_groups`
    plan, shared ``max_df`` / ``max_df_frac`` stop-shingle guard —
    growth-stable fractional cap on by default, mirrored in the
    registered oracle SQL); only the scoring differs: both
    per-direction ratios are emitted and the filter keeps
    ``greatest`` of the two.

    Cache discipline (same as ``ngram_jaccard_pairs``): the grouped
    shingle sets are cached so the pair explode and the size
    aggregation share a single scan; the pair list is eagerly
    localCheckpointed and the group cache unpersisted before
    returning, so no CacheManager entry survives the call.
    """
    g = _capped_shingle_groups(
        docs, id_col, text_col, n, max_df, max_df_frac, max_df_floor
    ).cache()
    sizes, shared = _grouped_sizes_and_shared(g)
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_shingles").alias("n_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_shingles").alias("n_b"))
    out = (
        shared.join(sa, ["doc_a"])
        .join(sb, ["doc_b"])
        .withColumn(
            "containment_a", F.col("n_shared").cast("double") / F.col("n_a")
        )
        .withColumn(
            "containment_b", F.col("n_shared").cast("double") / F.col("n_b")
        )
        .filter(
            F.greatest(F.col("containment_a"), F.col("containment_b")) >= threshold
        )
        .select(
            "doc_a", "doc_b", "n_shared", "n_a", "n_b",
            "containment_a", "containment_b",
        )
        .localCheckpoint(eager=True)
    )
    g.unpersist()
    return out


def prefix_filter_jaccard_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.5,
    max_df: int | None = None,
    max_df_frac: float | None = MAX_DF_FRAC,
    max_df_floor: int = MAX_DF_FLOOR,
) -> DataFrame:
    """Exact n-gram Jaccard pairs ≥ threshold via PREFIX FILTERING
    (the PPJoin candidate rule, Xiao et al., WWW'08 — public paper).

    Order every doc's shingle set by ascending global document
    frequency (rarest first); if J(A,B) ≥ t, A and B must share a
    shingle inside their prefixes of length |S| − ⌈t·|S|⌉ + 1. Joining
    prefixes only therefore has NO false negatives, and the exact
    verify removes all false positives — the output equals the
    all-pairs result, unlike LSH (recall < 1).

    Scale rationale: the all-pairs shingle self-join explodes on
    frequent shingles (a shingle in f docs contributes f² candidate
    rows); restricting to rarest-first prefixes drops the frequent
    shingles from the join key entirely, cutting candidates by ~1/t²
    while staying exact. One extra shuffle (the df-frequency join)
    buys a quadratically smaller join — and it is ONE aggregation
    serving both the stop-shingle cap and the rarest-first ranking
    (a surviving shingle's df is unchanged by capping, so the fused
    pass is exact; r5 ran the df aggregate twice over the biggest
    intermediate, the dominant regression that round).

    Prefix filtering alone is NOT enough on a boilerplate-dense
    corpus: at moderate thresholds the prefix keeps most of each set,
    so a stop-shingle can still reach millions of prefixes (the sf1
    probe measured 4.4e8 prefix-join candidates at t=0.5 against a
    ~6e3-pair true answer). The shared ``max_df`` / ``max_df_frac``
    stop-shingle cap therefore applies here too, BEFORE frequencies
    are ranked, with the same default and the same oracle-mirroring
    contract as :func:`ngram_jaccard_pairs`.

    Same output schema and same capped-set measure as
    :func:`ngram_jaccard_pairs`, so the two are interchangeable and
    cross-checkable.
    """
    # materialize the exploded distinct shingle table ONCE (r14; the
    # same fix _capped_shingle_groups landed in r13): the df
    # aggregate, the n_docs aggregate, and the ranked join below all
    # consume it, and the before-plan showed the scan+explode+distinct
    # chain planned THREE times inside the per_doc fill. Same
    # localCheckpoint-not-cache reasoning as there: no CacheManager
    # entry may outlive the call.
    ds = _doc_shingles(docs, id_col, text_col, n).localCheckpoint(eager=True)
    dfreq = _capped_shingle_df(ds, max_df, max_df_frac, max_df_floor)
    # one inner join both CAPS (cut shingles are absent from dfreq)
    # and RANKS (attaches df for the rarest-first prefix ordering)
    ranked = ds.join(dfreq.withColumnRenamed("_df", "df"), ["shingle"])
    per_doc = (
        ranked.groupBy("doc_id")
        .agg(F.sort_array(F.collect_list(F.struct("df", "shingle"))).alias("_ord"))
        .select(
            "doc_id",
            F.transform("_ord", lambda x: x["shingle"]).alias("sset"),
            F.size("_ord").alias("n_sh"),
        )
        # cache, not localCheckpoint: the InMemoryRelation keeps the
        # Catalyst plan (measured ~3× faster than the RDD-backed
        # checkpoint at sf0.1); loopy callers clearCache between runs.
        .cache()
    )
    prefix_len = (
        F.col("n_sh") - F.ceil(F.lit(threshold) * F.col("n_sh")) + 1
    ).cast("int")
    prefixes = per_doc.select(
        "doc_id", F.explode(F.slice("sset", F.lit(1), prefix_len)).alias("shingle")
    )
    # candidate generation stays the prefix SELF-JOIN (r14 decision
    # record): the grouped collect_set + map-side pair explode that
    # won in _capped_shingle_groups was A/B-measured 2.4× SLOWER here
    # (2.95s → 7.1s median at sf0.1) — prefixes are rarest-first, so
    # the group key is dominated by df=1 singleton shingles and the
    # ObjectHashAggregate pays per-group set overhead for millions of
    # groups that produce zero pairs, while the self-join's single
    # reused exchange skips them in codegen. The basket shape wins
    # only when the aggregation ALSO replaces a second full exchange
    # of the table (pagerank, market_basket, the capped full sets).
    a = prefixes.select(F.col("doc_id").alias("doc_a"), "shingle")
    b = prefixes.select(F.col("doc_id").alias("doc_b"), "shingle")
    candidates = (
        a.join(b, ["shingle"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )
    sa = per_doc.select(
        F.col("doc_id").alias("doc_a"),
        F.col("sset").alias("_sa"),
        F.col("n_sh").alias("n_a"),
    )
    sb = per_doc.select(
        F.col("doc_id").alias("doc_b"),
        F.col("sset").alias("_sb"),
        F.col("n_sh").alias("n_b"),
    )
    return (
        candidates.join(sa, ["doc_a"]).join(sb, ["doc_b"])
        .withColumn("n_shared", F.size(F.array_intersect("_sa", "_sb")))
        .withColumn(
            "jaccard",
            F.col("n_shared").cast("double")
            / (F.col("n_a") + F.col("n_b") - F.col("n_shared")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "n_shared", "n_a", "n_b", "jaccard")
    )


def minhash_signatures(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_perm: int = 64,
) -> DataFrame:
    """MinHash signature per doc: num_perm permutations simulated by
    seeded xxhash64 of each shingle (hash(perm_i, shingle)); the
    signature entry is the min over the doc's shingles.

    Entirely map-side: per-row ``array_min(transform(...))`` over the
    shingle array — no explode, no shuffle, no aggregation state.
    Linear scan at any corpus size.
    """

    def perm_min(i: int):
        return F.array_min(
            F.transform(F.col("_ss"), lambda s: F.xxhash64(F.lit(i), s))
        ).alias(f"mh_{i}")

    return _spread(docs, id_col).select(
        F.col(id_col).alias("doc_id"),
        F.array_distinct(shingles(F.col(text_col), n)).alias("_ss"),
    ).select("doc_id", *[perm_min(i) for i in range(num_perm)])


def _minhash_band_buckets(
    sets_df: DataFrame, num_perm: int, bands: int, carry: list[str] | None = None
) -> DataFrame:
    """(doc_id, [carry...], band, bucket) rows from a (doc_id, sset)
    frame: per-permutation min over seeded xxhash64 of the shingles,
    bands hashed into one bucket key each. Entirely map-side.
    ``carry`` columns pass through untouched (e.g. a batch-membership
    flag, so one signature pass can serve both sides of an
    incremental join)."""
    rows = num_perm // bands
    carry = carry or []

    # ONE fold over the shingle array computes all num_perm mins
    # (r14): the former shape ran num_perm separate
    # transform+array_min traversals per document — 64 intermediate
    # hash arrays of |sset| longs allocated and discarded per row,
    # and the GC churn from that was the main driver of this query's
    # run-to-run variance (r12 task 7; the event-log profile showed
    # the signature stage at run≈3×cpu with ~4s GC). The fold
    # traverses sset once, hashing each shingle into one 64-wide
    # array and element-wise-min-ing into the accumulator. Identical
    # signatures (same xxhash64(i, s) values, same mins) — A/B at
    # sf0.1: 4.08 → 3.51s median and the stddev halved (1.99 → 1.09).
    # An empty sset now yields Long.MaxValue sentinels instead of
    # NULL minhashes; verified output is unaffected either way (an
    # empty set's exact Jaccard never reaches any threshold, so the
    # verify stage drops every such candidate).
    init = F.array(
        *[F.lit((1 << 63) - 1).cast("long") for _ in range(num_perm)]
    )
    sig = F.aggregate(
        F.col("sset"),
        init,
        lambda acc, s: F.zip_with(
            acc,
            F.array(*[F.xxhash64(F.lit(i), s) for i in range(num_perm)]),
            lambda a, b: F.least(a, b),
        ),
    )
    sigs = sets_df.select("doc_id", *carry, sig.alias("_mh"))
    band_cols = [
        F.struct(
            F.lit(b).alias("band"),
            F.xxhash64(
                *[
                    F.element_at("_mh", b * rows + r + 1)
                    for r in range(rows)
                ]
            ).alias("bucket"),
        )
        for b in range(bands)
    ]
    return sigs.select(
        "doc_id", *carry, F.explode(F.array(*band_cols)).alias("bb")
    ).select(
        "doc_id",
        *carry,
        F.col("bb.band").alias("band"),
        F.col("bb.bucket").alias("bucket"),
    )


def _shingle_sets(
    docs: DataFrame, id_col: str, text_col: str, n: int
) -> DataFrame:
    """(doc_id, sset) distinct-shingle arrays, cached: one shared plan
    feeds both the signatures and the exact verify. cache (not
    localCheckpoint) keeps the Catalyst plan and is measurably
    faster; loopy callers clearCache between invocations to bound
    CacheManager growth."""
    return (
        _spread(docs, id_col)
        .select(
            F.col(id_col).alias("doc_id"),
            F.array_distinct(shingles(F.col(text_col), n)).alias("sset"),
        )
        .cache()
    )


def _verify_exact_jaccard(
    candidates: DataFrame, sets_df: DataFrame, threshold: float
) -> DataFrame:
    """Exact-Jaccard verify on CANDIDATES ONLY (the whole point of
    LSH: never score all pairs). Each pair joins its two distinct-
    shingle arrays and intersects them JVM-side — per-pair
    O(|shingles|), no shuffle amplification."""
    sa = sets_df.select(F.col("doc_id").alias("doc_a"), F.col("sset").alias("_sa"))
    sb = sets_df.select(F.col("doc_id").alias("doc_b"), F.col("sset").alias("_sb"))
    return (
        candidates.join(sa, ["doc_a"]).join(sb, ["doc_b"])
        .withColumn("n_shared", F.size(F.array_intersect("_sa", "_sb")))
        .withColumn(
            "jaccard",
            F.col("n_shared").cast("double")
            / (F.size("_sa") + F.size("_sb") - F.col("n_shared")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


def minhash_lsh_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_perm: int = 64,
    bands: int = 16,
    threshold: float = 0.5,
    max_bucket: int = 64,
) -> DataFrame:
    """MinHash LSH candidate pairs, verified with exact Jaccard.

    Signature → ``bands`` bands of num_perm/bands rows; docs sharing
    any band bucket become candidates (banded self-join on the band
    hash — linear-ish, never all-pairs); candidates are then verified
    with exact shingle-set Jaccard so the output has no false
    positives (recall < 1 remains, as for any LSH).

    ``max_bucket`` is the skew guard the sf1 scaling probe proved
    necessary: a band bucket holds every doc whose band minhashes
    coincide, and ultra-common shingles (boilerplate at web scale)
    produce GIANT buckets whose all-pairs expansion is quadratic in
    bucket size — measured 3.6k → 42M candidate pairs going sf0.1 →
    sf1 on an adversarially dense corpus, with single buckets of
    3800 docs. Buckets larger than ``max_bucket`` degrade to CHAIN
    linking: members are joined to their doc_id-order neighbor only
    (size-1 pairs instead of size²/2), so candidate generation stays
    linear in bucket size while transitive-closure consumers
    (connected-components dedup) still recover full duplicate
    clusters — a clone group that floods a bucket is reconnected by
    its verified chain. The residual recall loss is pairs BELOW
    chain adjacency in every giant bucket they share and absent from
    all small ones; at fixture scale the cap is the identity (largest
    observed bucket is 13 docs at sf0.1), asserted by test, so the
    exact-oracle contract is untouched.

    MEASURE NOTE: the exact generators (``ngram_jaccard_pairs`` et
    al.) default to the stop-shingle cap, so once the cap binds
    (beyond ~floor/frac corpus sizes) they score "Jaccard over
    informative shingles" while this verify stage scores UNCAPPED
    Jaccard over the full sets. At fixture scale both are the
    identity; at probe scale and beyond, recall comparisons against
    the capped ground truth measure two (deliberately) different
    similarities — boilerplate-heavy pairs can pass here yet be
    absent from the capped exact output. This is the documented
    trade, not drift: the cap exists to keep the EXACT join linear,
    while LSH needs no such guard (banding + ``max_bucket`` already
    bound its candidate volume).
    """
    sets_df = _shingle_sets(docs, id_col, text_col, n)
    # materialize the bucket frame before the self-join: the signature
    # pass (num_perm xxhash64 evaluations per shingle, the dominant
    # cost) would otherwise be planned into BOTH join subtrees and
    # computed twice — measured 2x end-to-end at the sf1 scaling
    # probe (88s -> 45s on 50k docs). localCheckpoint (not cache)
    # keeps it out of the CacheManager; the RDD is GC-cleaned with
    # the frame.
    buckets = _minhash_band_buckets(sets_df, num_perm, bands).localCheckpoint(
        eager=False
    )
    w = Window.partitionBy("band", "bucket")
    sized = buckets.withColumn("_bsz", F.count(F.lit(1)).over(w))
    small = sized.filter(F.col("_bsz") <= max_bucket)
    a = small.select(F.col("doc_id").alias("doc_a"), "band", "bucket")
    b = small.select(F.col("doc_id").alias("doc_b"), "band", "bucket")
    cand_small = (
        a.join(b, ["band", "bucket"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
    )
    # giant buckets: neighbor-chain in doc_id order (ASC ⇒ doc_a <
    # doc_b by construction); the window is per-bucket, so the single
    # task per giant bucket is linear in its size
    chain = (
        sized.filter(F.col("_bsz") > max_bucket)
        .withColumn(
            "_nxt",
            F.lead("doc_id").over(w.orderBy("doc_id")),
        )
        .filter(F.col("_nxt").isNotNull())
        .select(F.col("doc_id").alias("doc_a"), F.col("_nxt").alias("doc_b"))
    )
    candidates = cand_small.unionByName(chain).distinct()
    return _verify_exact_jaccard(candidates, sets_df, threshold)


def minhash_lsh_pairs_incremental(
    corpus: DataFrame,
    batch: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_perm: int = 64,
    bands: int = 16,
    threshold: float = 0.5,
) -> DataFrame:
    """Near-dup pairs INVOLVING a new batch: batch×corpus and
    batch×batch, never corpus×corpus.

    The continuous-ingest shape of MinHash dedup: a landing shard is
    checked against the full history without re-pairing the history
    with itself. The batch's band buckets join the union index
    (corpus ∪ batch buckets), so the per-shard cost is
    O(|batch| + matching bucket rows) — at 100 TB the corpus bucket
    index is a stored, bucketed-by-(band,bucket) table maintained
    append-only by each shard's map-side signature pass, and this
    join prunes to the buckets the batch actually touches.

    Same signatures, banding, and exact verify as
    :func:`minhash_lsh_pairs`; output is its (doc_a, doc_b, jaccard)
    restricted to pairs with at least one batch member (ids
    normalized doc_a < doc_b).
    """
    corpus_sets = _shingle_sets(corpus, id_col, text_col, n).withColumn(
        "_is_batch", F.lit(False)
    )
    batch_sets = _shingle_sets(batch, id_col, text_col, n).withColumn(
        "_is_batch", F.lit(True)
    )
    all_sets = corpus_sets.unionByName(batch_sets)
    # ONE signature pass serves both join sides: the batch-membership
    # flag rides along, and the bucket frame is cached so the query
    # side is a filter over it rather than a second 64-hash pass
    buckets = _minhash_band_buckets(
        all_sets, num_perm, bands, carry=["_is_batch"]
    ).cache()
    qb = buckets.filter(F.col("_is_batch")).select(
        F.col("doc_id").alias("doc_q"), "band", "bucket"
    )
    ib = buckets.select(F.col("doc_id").alias("doc_i"), "band", "bucket")
    candidates = (
        qb.join(ib, ["band", "bucket"])
        .filter(F.col("doc_q") != F.col("doc_i"))
        .select(
            F.least("doc_q", "doc_i").alias("doc_a"),
            F.greatest("doc_q", "doc_i").alias("doc_b"),
        )
        .distinct()
    )
    return _verify_exact_jaccard(candidates, all_sets, threshold)


def simhash(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bits: int = 64,
    portable: bool = False,
) -> DataFrame:
    """SimHash fingerprint per document: token hash bit j votes ±1;
    the sign of each bit's vote sum becomes bit j of the fingerprint.

    Explode tokens → one groupBy with ``bits`` conditional sums (all
    map-side combinable) → bit reassembly; entirely JVM-side.

    ``portable=False`` (default) hashes tokens with xxhash64 — the
    fast JVM path. ``portable=True`` derives a 60-bit hash from the
    leading 15 hex chars of md5 (same one-scan plan, one extra md5
    per token); md5 is identical in every engine, which makes the
    whole fingerprint bit-reproducible in DuckDB for differential
    checks. Use ``bits<=60`` with portable hashing.
    """
    if portable and bits > 60:
        raise ValueError("portable simhash supports at most 60 bits")
    token_hash = (
        F.conv(F.substring(F.md5(F.col("tok")), 1, 15), 16, 10).cast("long")
        if portable
        else F.xxhash64("tok")
    )
    tok = _spread(docs, id_col).select(
        F.col(id_col).alias("doc_id"), F.explode(tokens(F.col(text_col))).alias("tok")
    ).withColumn("h", token_hash)
    votes = [
        F.sum(
            F.when(F.shiftright(F.col("h"), j).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"v_{j}")
        for j in range(bits)
    ]
    agg = tok.groupBy("doc_id").agg(*votes)
    fp: Column = F.lit(0).cast("long")
    for j in range(bits):
        fp = fp.bitwiseOR(
            F.when(F.col(f"v_{j}") > 0, F.shiftleft(F.lit(1).cast("long"), j)).otherwise(
                F.lit(0).cast("long")
            )
        )
    return agg.select("doc_id", fp.alias("simhash"))


def simhash_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 8,
    bands: int = 4,
    bits: int = 64,
    portable: bool = False,
) -> DataFrame:
    """Near-dup pairs by SimHash banding + exact Hamming verify.

    Split the ``bits``-wide fingerprint into ``bands`` equal bands; by
    pigeonhole any pair with hamming ≤ bands−1 shares a band, and in
    practice banding recalls most pairs ≤ max_hamming. Exact distance
    via bit_count(xor). ``portable=True`` swaps the md5-derived token
    hash in (see :func:`simhash`) so the pair set is engine-portable.
    """
    width = bits // bands
    mask = (1 << width) - 1
    sh = simhash(docs, id_col, text_col, bits=bits, portable=portable)
    band_cols = [
        F.struct(
            F.lit(b).alias("band"),
            F.shiftright(F.col("simhash"), b * width)
            .bitwiseAND(F.lit(mask).cast("long"))
            .alias("bucket"),
        )
        for b in range(bands)
    ]
    buckets = (
        sh.select(
            "doc_id", "simhash", F.explode(F.array(*band_cols)).alias("bb")
        )
        .select(
            "doc_id",
            "simhash",
            F.col("bb.band").alias("band"),
            F.col("bb.bucket").alias("bucket"),
        )
        # same single-evaluation barrier as minhash_lsh_pairs: the
        # fingerprint pass feeds both self-join sides and must not be
        # computed twice
        .localCheckpoint(eager=False)
    )
    a = buckets.select(
        F.col("doc_id").alias("doc_a"), F.col("simhash").alias("sh_a"), "band", "bucket"
    )
    b = buckets.select(
        F.col("doc_id").alias("doc_b"), F.col("simhash").alias("sh_b"), "band", "bucket"
    )
    return (
        a.join(b, ["band", "bucket"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", "sh_a", "sh_b")
        .distinct()
        .withColumn(
            "hamming", F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
        )
        .filter(F.col("hamming") <= max_hamming)
        .select("doc_a", "doc_b", "hamming")
    )


def embedding_neardup_pairs(
    embeddings: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.9,
) -> DataFrame:
    """Embedding-cosine near-dup pairs (id_a < id_b, cosine ≥ t).

    Brute-force all-pairs via broadcast of the smaller side — the
    exact small-corpus baseline and the oracle cross-check for
    ``embedding_neardup_pairs_bucketed`` (equal output when the
    bucketed variant runs with ``n_centroids=1``). Never the default
    at corpus scale: it broadcasts the full table and scores O(n²)
    pairs.
    """
    from ..functions.vectors import cosine

    a = embeddings.select(
        F.col(id_col).alias("id_a"), F.col(vec_col).alias("_va")
    )
    b = embeddings.select(
        F.col(id_col).alias("id_b"), F.col(vec_col).alias("_vb")
    )
    return (
        a.join(F.broadcast(b), F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            cosine(F.col("_va"), F.col("_vb")).alias("cosine_sim"),
        )
        .filter(F.col("cosine_sim") >= threshold)
    )


def adaptive_n_centroids(n_vectors: int, floor: int = 8) -> int:
    """The C ∝ √n IVF operating point: ``max(floor, ceil(sqrt(n)))``.

    Assignment costs n·C cosines and within-bucket pairing ~n²/C, so
    C = √n balances both at O(n^1.5) — the standard IVF sizing rule.
    The floor keeps tiny corpora from degenerating to near-all-pairs.
    One IEEE-double sqrt + ceil, bit-identical to the DuckDB oracle
    fragment ``GREATEST(floor, CAST(ceil(sqrt(COUNT(*))) AS BIGINT))``
    (``math.sqrt`` and DuckDB ``sqrt`` are both correctly-rounded
    doubles, exact on perfect squares), so registered queries can
    mirror the adaptive pick cross-engine.
    """
    import math

    return max(int(floor), int(math.ceil(math.sqrt(max(0, n_vectors)))))


def oracle_cosine_sql(x: str, y: str) -> str:
    """DuckDB cosine between two embedding-list expressions — the same
    strict double-precision left fold the Spark side runs
    (functions/vectors.py), so the value is bit-identical
    cross-engine. The CANONICAL fragment: every registry oracle that
    scores a cosine must splice this (not a local copy) so the fold
    shape can never drift between queries."""

    def _dot(a: str, b: str) -> str:
        return (
            f"list_reduce(list_transform(range(1, len({a})+1), "
            f"i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE)), "
            f"(acc,v) -> acc+v)"
        )

    return f"{_dot(x, y)} / (sqrt({_dot(x, x)}) * sqrt({_dot(y, y)}))"


def oracle_ivf_adaptive(floor: int = 8) -> str:
    """DuckDB twin of the ADAPTIVE IVF bucketing
    (:func:`adaptive_n_centroids` + operators/similarity.py
    ``assign_ivf_buckets``): ``cent``/``assigned`` CTEs with
    C = GREATEST(floor, ceil(sqrt(n))) centroids picked by salted-md5
    row_number (the same total order as Spark's
    TakeOrderedAndProject pick) and argmax-cosine assignment with
    centroid_id tiebreak. Generated from one place so the C formula
    and centroid order can never drift between the registry queries
    that mirror the bucketing."""
    return f"""
    cent AS (
      SELECT centroid_id, cvec FROM (
        SELECT vec_id AS centroid_id, embedding AS cvec,
          row_number() OVER (
            ORDER BY md5('ivf:' || CAST(vec_id AS VARCHAR)), vec_id
          ) AS rn
        FROM embeddings
      ) WHERE rn <= (
        SELECT GREATEST({int(floor)}, CAST(ceil(sqrt(COUNT(*))) AS BIGINT))
        FROM embeddings
      )
    ),
    assigned AS (
      SELECT vec_id, embedding, centroid_id AS bucket_id FROM (
        SELECT v.vec_id, v.embedding, c.centroid_id,
          row_number() OVER (
            PARTITION BY v.vec_id
            ORDER BY {oracle_cosine_sql('v.embedding', 'c.cvec')} DESC,
                     c.centroid_id
          ) AS rn
        FROM embeddings v CROSS JOIN cent c
      ) WHERE rn = 1
    )
"""


def embedding_neardup_pairs_bucketed(
    embeddings: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.9,
    n_centroids: int | None = None,
) -> DataFrame:
    """SemDeDup-style bucketed near-dup pairs: IVF-assign every vector
    to its nearest deterministic centroid (operators/similarity.py),
    score cosine only for same-bucket pairs, keep pairs ≥ threshold.

    This is the published SemDeDup contract — near-duplicates are
    detected *within* a cluster; cross-cluster pairs are out of scope
    by design — and the 100 TB shape: the only broadcast is the
    C-row centroid table, the self-join is an equi-join on bucket_id,
    and the scored-pair count drops from O(n²) to Σ_b O(n_b²) ≈
    n²/C on uniform data (far less on naturally clustered corpora).
    With ``n_centroids=1`` it degenerates to exact all-pairs, which is
    the cross-check ``tests/test_neardup.py`` pins against
    ``embedding_neardup_pairs``.

    ``n_centroids`` is the scale knob and must GROW with the corpus:
    at fixed C the within-bucket pair count is quadratic in n (the
    sf1 probe measured 7.7× wall-time for 10× vectors at C=8 —
    BENCH_SF1.md). The default (``n_centroids=None``) therefore sizes
    C adaptively at :func:`adaptive_n_centroids` — C ∝ √n, the classic
    IVF operating point, O(n^1.5) total work. Sizing the index costs
    one scalar ``count()`` action (metadata-cheap on parquet) — the
    same legitimate driver-side-decision class as the clustering
    convergence probe, not a data collect. The registered queries
    mirror the adaptive pick in their DuckDB oracles (a row_number
    ≤ GREATEST(8, ceil(sqrt(COUNT(*)))) centroid CTE), keeping the
    differential exact at every scale, exactly as the stop-shingle
    cap is mirrored.

    Every ingredient (salted-MD5 centroid pick, left-fold cosine,
    argmax assignment with id tiebreak) is bit-reproducible in DuckDB,
    so the registry oracle mirrors the bucketing exactly.
    """
    from ..functions.vectors import cosine
    from .similarity import assign_ivf_buckets

    if n_centroids is None:
        n_centroids = adaptive_n_centroids(embeddings.count())
    _, assigned = assign_ivf_buckets(
        embeddings, n_centroids=n_centroids, id_col=id_col, vec_col=vec_col
    )
    a = assigned.select(
        F.col(id_col).alias("id_a"),
        F.col(vec_col).alias("_va"),
        "bucket_id",
    )
    b = assigned.select(
        F.col(id_col).alias("id_b"),
        F.col(vec_col).alias("_vb"),
        "bucket_id",
    )
    return (
        a.join(b, "bucket_id")
        .filter(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            cosine(F.col("_va"), F.col("_vb")).alias("cosine_sim"),
        )
        .filter(F.col("cosine_sim") >= threshold)
    )

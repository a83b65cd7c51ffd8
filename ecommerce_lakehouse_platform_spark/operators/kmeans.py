"""Distributed Lloyd's k-means over an embedding column, fixed-point
exact — plus the product-quantization family built on it
(:func:`pq_fit_blocks` / :func:`pq_encode` / :func:`pq_adc_topk`:
per-block codebooks, map-side vector compression, and top-k search in
the compressed domain).

The reference has no clustering operator; this belongs to the
training-data extension surface (embedding-space curation: corpus
partitioning, IVF coarse-quantizer training, SemDeDup-style bucket
construction). ``operators/similarity.assign_ivf_buckets`` picks its
centroids by deterministic salted-hash sampling; this module is the
*trained* alternative — the classic broadcast-centroids formulation of
Lloyd's algorithm (the same distributed shape as Spark MLlib KMeans):

* per iteration, ONE map-side assignment pass over the corpus — the
  k×dim centroid table is compiled into the plan as literals, so
  assignment is pure whole-stage-codegen projection: no join, no
  shuffle, no UDF;
* plus ONE partial-aggregated groupBy shuffle of (cluster, pos)
  component rows for the centroid update, cardinality ≤ k×dim after
  the map-side combine;
* the only driver traffic is the k×dim aggregated component sums per
  iteration — the same O(k·dim) scalar-collect legitimacy class as
  pagerank's convergence probe, and exactly what "broadcast the new
  centroids" means on a real cluster.

The fit caches the quantized training relation for its own lifetime
(released before returning): the seed pick plus every Lloyd pass
iterate on the SAME points, and caching the training set is the
standard iterative-fitter shape (Spark MLlib's KMeans does exactly
this); MEMORY_AND_DISK spills gracefully when the corpus outgrows
memory. One-pass consumers (the final assignment) still stream from
the pruned columnar source.

Cross-engine exactness (the registry's DuckDB differential): vector
components are quantized to the 2^-20 grid (float→double exact, ×2^20
exact, floor exact), distances and component sums are BIGINT
(order-independent), centroid updates use truncating integer division
(Spark ``DIV`` == DuckDB ``//`` == :func:`_tdiv` here; all three
truncate toward zero, verified on negative operands), and assignment
ties break on the smaller cluster id — so every iteration, and
therefore the final assignment, is bit-identical in both engines.
Clusters that lose all members are RESEEDED from the farthest
assigned point (dist_sq DESC, id ASC rank-matched to the missing
cluster ids ascending) — a deterministic relation the SQL mirror
replays as an EXCEPT + two ROW_NUMBER rank lists unioned under the
update CTE.
"""

from __future__ import annotations

from pyspark import inheritable_thread_target
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

SCALE = 1 << 20  # 2^-20 quantization grid, shared with the registry oracles


def _tdiv(s: int, n: int) -> int:
    """Truncate-toward-zero integer division — the semantics of Spark's
    BIGINT ``DIV`` and DuckDB's BIGINT ``//`` (Python's ``//`` floors,
    which differs on negative sums)."""
    q = abs(s) // n
    return -q if s < 0 else q


def quantize_vectors(
    df: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """(id, q): the embedding quantized onto the 2^-20 integer grid.

    Deliberately NOT spread here (r13 decision record): this is the
    entry projection of the kmeans driver-loop fits, whose per-job
    compute is trivial — adding an exchange adds a whole AQE stage
    round to EVERY seed/update job (measured kmeans_fit 1.6s → 2.5s).
    Compute-dense consumers spread their own input selectively
    (comoment_cells, pq_encode, assign_ivf_buckets)."""
    return df.select(
        F.col(id_col),
        F.transform(
            F.col(vec_col),
            lambda v: F.floor(v.cast("double") * SCALE).cast("long"),
        ).alias("q"),
    )


def _assign(pts: DataFrame, centroids: list[tuple[int, list[int]]]) -> DataFrame:
    """Map-side nearest-centroid assignment: the centroid matrix rides
    in the plan as TWO constant literals (an ``array<array<bigint>>``
    of vectors and an ``array<bigint>`` of cluster ids — single
    Literal nodes, so plan/codegen size stays O(1) in k·dim instead of
    unrolling k·dim expression nodes), distances are a
    ``transform``/``zip_with``/``aggregate`` higher-order fold, and
    ``array_min`` over (dist, id) structs is the lexicographic argmin
    with the cluster-id tiebreak. Pure projection — zero shuffles, no
    UDF. Magnitudes: |diff| ≤ 2^21, squared 2^42, ×dim well inside
    long range."""
    cid_arr = F.lit([int(cid) for cid, _ in centroids]).cast("array<bigint>")
    vec_arr = F.lit([[int(x) for x in vec] for _, vec in centroids]).cast(
        "array<array<bigint>>"
    )
    best = F.array_min(
        F.transform(
            F.sequence(F.lit(1), F.lit(len(centroids))),
            lambda i: F.struct(
                F.aggregate(
                    F.zip_with(
                        F.col("q"),
                        F.element_at(vec_arr, i),
                        lambda a, b: (a - b) * (a - b),
                    ),
                    F.lit(0).cast("long"),
                    lambda acc, x: acc + x,
                ).alias("d"),
                F.element_at(cid_arr, i).alias("c"),
            ),
        )
    )
    return pts.select(
        "*",
        best["c"].alias("cluster"),
        best["d"].alias("dist_sq"),
    )


def kmeans_fit(
    df: DataFrame,
    k: int = 8,
    n_iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    salt: str = "kmeans:",
) -> list[tuple[int, list[int]]]:
    """Run the Lloyd iterations and return the final quantized
    centroids as ``[(cluster_id, components)]`` — the "model" half.

    Seeds are the ``k`` corpus vectors with the smallest salted
    ``md5(id)`` (the same reproducible pseudo-sample as
    ``assign_ivf_buckets``, executed as TakeOrdered — no global sort);
    seed rank order is the cluster id.

    The quantized point relation is cached for the fit's lifetime:
    uncached, the seed pick plus every Lloyd iteration re-scanned and
    re-quantized the source — n_iters+1 passes for a fit whose whole
    point is iterating on the SAME points. Caching the training set is
    the standard iterative-fitter move (Spark MLlib's KMeans requires
    it); MEMORY_AND_DISK spills gracefully at any scale, and the entry
    is released before returning, so no CacheManager pin survives the
    call."""
    pts = quantize_vectors(df, id_col, vec_col).cache()
    try:
        return _kmeans_fit_loop(pts, k, n_iters, id_col, salt)
    finally:
        pts.unpersist()


def _kmeans_fit_loop(
    pts: DataFrame, k: int, n_iters: int, id_col: str, salt: str
) -> list[tuple[int, list[int]]]:
    """The driver loop of :func:`kmeans_fit` over an already-quantized,
    cached point relation."""
    seed_rows = (
        pts.select(
            id_col,
            "q",
            F.md5(
                F.concat(F.lit(salt), F.col(id_col).cast("string"))
            ).alias("_h"),
        )
        .orderBy("_h", id_col)
        .limit(k)
        .collect()
    )
    seed_rows.sort(key=lambda r: (r["_h"], r[id_col]))
    centroids = [(cid, list(r["q"])) for cid, r in enumerate(seed_rows)]

    seed_ids = [cid for cid, _ in centroids]
    for _ in range(n_iters):
        assigned = _assign(pts, centroids)
        comp = assigned.select(
            "cluster", F.posexplode("q").alias("pos", "qv")
        )
        sums = (
            comp.groupBy("cluster", "pos")
            .agg(F.sum("qv").alias("s"), F.count(F.lit(1)).alias("n"))
            .collect()
        )
        by_cluster: dict[int, dict[int, int]] = {}
        for r in sums:
            by_cluster.setdefault(r["cluster"], {})[r["pos"]] = _tdiv(
                r["s"], r["n"]
            )
        # Empty-cluster reseeding: a cluster that lost every member is
        # re-centered on the point FARTHEST from its assigned centroid
        # (the largest individual SSE contributor — the standard
        # Lloyd's repair), deterministic end to end: farthest points
        # ranked by (dist_sq DESC, id ASC) are matched 1:1 to the
        # missing cluster ids in ascending order. Without this,
        # adversarial seeds collapse k and degrade the trained-IVF
        # recall this model feeds. The rank-list is a TakeOrdered of
        # at most k rows — same driver-traffic class as the seed pick
        # — and runs only on iterations that actually lost a cluster.
        missing = sorted(c for c in seed_ids if c not in by_cluster)
        if missing:
            far = (
                assigned.orderBy(
                    F.col("dist_sq").desc(), F.col(id_col).asc()
                )
                .select("q")
                .limit(len(missing))
                .collect()
            )
            for slot, row in zip(missing, far):
                by_cluster[slot] = dict(enumerate(row["q"]))
        centroids = [
            (cid, [d[p] for p in sorted(d)])
            for cid, d in sorted(by_cluster.items())
        ]
    return centroids


def kmeans_centroids(
    df: DataFrame,
    k: int = 8,
    n_iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    salt: str = "kmeans:",
) -> DataFrame:
    """The fitted centroids as a ``(centroid_id, _cvec)`` frame —
    drop-in for ``similarity.assign_ivf_buckets(centroids=...)`` /
    ``cosine_topk_ivf(centroids=...)``, replacing the hash-sampled
    pick with trained ones. Dequantization divides by 2^20 (a power
    of two: exact in double, so the handoff loses nothing beyond the
    original quantization grid)."""
    fitted = kmeans_fit(df, k, n_iters, id_col, vec_col, salt)
    spark = df.sparkSession
    return spark.createDataFrame(
        [(int(cid), [c / SCALE for c in vec]) for cid, vec in fitted],
        "centroid_id bigint, _cvec array<double>",
    )


def _block_slice(
    df: DataFrame, b: int, sub: int, id_col: str, vec_col: str
) -> DataFrame:
    return df.select(
        F.col(id_col),
        F.slice(F.col(vec_col), b * sub + 1, sub).alias("_sub"),
    )


def pq_fit_blocks(
    df: DataFrame,
    dim: int,
    n_blocks: int = 4,
    k: int = 16,
    n_iters: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    salt: str = "pq",
) -> list[list[tuple[int, list[int]]]]:
    """One independent quantized codebook per subvector block
    (:func:`kmeans_fit` on the slice, block-salted seeds).

    The block fits are submitted from ``n_blocks`` threads: each fit
    is a driver loop of small Spark jobs (seed pick + one aggregate
    per Lloyd iteration), so run sequentially the cluster idles
    between job launches; concurrent submission overlaps the
    scheduling gaps (Spark sessions are thread-safe for job
    submission, and the fits share no state — results are
    bit-identical to the sequential order, and ``ex.map`` preserves
    block order). The fits are wrapped in ``inheritable_thread_target``
    at call time, so their jobs carry the caller's job group,
    description and tags (plain pool threads would submit them under
    no group at all)."""
    if dim % n_blocks:
        raise ValueError(
            f"dim {dim} not divisible by n_blocks {n_blocks}: trailing "
            "components would be silently dropped from every codebook"
        )
    sub = dim // n_blocks

    def fit_block(b: int) -> list[tuple[int, list[int]]]:
        return kmeans_fit(
            _block_slice(df, b, sub, id_col, vec_col),
            k,
            n_iters,
            id_col,
            "_sub",
            salt=f"{salt}{b}:",
        )

    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=n_blocks) as ex:
        inherit = inheritable_thread_target(df.sparkSession)
        return list(ex.map(inherit(fit_block), range(n_blocks)))


def pq_encode(
    df: DataFrame,
    dim: int,
    n_blocks: int = 4,
    k: int = 16,
    n_iters: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    salt: str = "pq",
    codebooks: list[list[tuple[int, list[int]]]] | None = None,
) -> DataFrame:
    """Product quantization: split each vector into ``n_blocks``
    subvectors, fit an independent k-code codebook per block
    (:func:`kmeans_fit` on the slice), and encode every vector as its
    nearest code per block — ``(id, block, code, dist_sq)``.

    This is the standard embedding-compression step for corpus-scale
    vector storage (Jégou et al., "Product Quantization for Nearest
    Neighbor Search", TPAMI 2011): dim floats become n_blocks small
    ints (here 64×4B → 4 codes, a 64× reduction), and ADC search
    scans codes against per-query lookup tables. Spark shape: codebook
    training is the kmeans driver loop per block (k·dim/n_blocks
    driver state); ENCODING — the part proportional to the corpus —
    is a zero-shuffle map-side assignment FUSED across blocks: both
    codebook constants ride in as one block-indexed nested literal
    each, an outer ``transform`` over the block sequence slices the
    vector and picks the nearest code via the same ``array_min``
    lexicographic argmin as :func:`_assign`, and one ``explode``
    emits every (id, block, code, dist_sq) row from a single
    projection over a single corpus scan — not n_blocks unioned
    branches each rescanning the input (the pre-r8 shape). All
    arithmetic on the 2^-20 grid, so the encoding is bit-exact
    cross-engine like the underlying k-means."""
    sub = dim // n_blocks
    if codebooks is None:
        codebooks = pq_fit_blocks(
            df, dim, n_blocks, k, n_iters, id_col, vec_col, salt
        )
    cids_all = F.lit(
        [[int(cid) for cid, _ in cb] for cb in codebooks]
    ).cast("array<array<bigint>>")
    vecs_all = F.lit(
        [[[int(x) for x in vec] for _, vec in cb] for cb in codebooks]
    ).cast("array<array<array<bigint>>>")
    # spread a provably-tiny corpus before the fused per-block encode
    # (operators/spread.py): the projection folds n_blocks × k × sub
    # distance terms per row, and a single-row-group source would
    # serialize the whole encode onto one core. Large corpora keep
    # their native scan parallelism. The FIT above is deliberately
    # unspread (see quantize_vectors).
    from .spread import spread_small

    q = quantize_vectors(spread_small(df, id_col), id_col, vec_col)

    def block_code(b):  # b: 0-based block index Column
        cid_arr = F.element_at(cids_all, b + 1)
        vec_arr = F.element_at(vecs_all, b + 1)
        q_sub = F.slice(F.col("q"), b * F.lit(sub) + 1, F.lit(sub))
        best = F.array_min(
            F.transform(
                F.sequence(F.lit(1), F.size(cid_arr)),
                lambda i: F.struct(
                    F.aggregate(
                        F.zip_with(
                            q_sub,
                            F.element_at(vec_arr, i),
                            lambda a, c: (a - c) * (a - c),
                        ),
                        F.lit(0).cast("long"),
                        lambda acc, x: acc + x,
                    ).alias("d"),
                    F.element_at(cid_arr, i).alias("c"),
                ),
            )
        )
        return F.struct(
            b.cast("long").alias("block"),
            best["c"].alias("code"),
            best["d"].alias("dist_sq"),
        )

    return q.select(
        id_col,
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(n_blocks - 1)), block_code
            )
        ).alias("_bc"),
    ).select(
        id_col,
        F.col("_bc.block").alias("block"),
        F.col("_bc.code").alias("code"),
        F.col("_bc.dist_sq").alias("dist_sq"),
    )


def _pq_adc_tables(
    q: DataFrame,
    codebooks: list[list[tuple[int, list[int]]]],
    dim: int,
    id_col: str,
    query_id_col: str,
) -> DataFrame:
    """The fused single-stage ADC lookup-table build shared by
    :func:`pq_adc_topk` and :func:`pq_adc_topk_ivf`: both codebooks'
    constants ride the plan as one block-indexed nested array literal
    each, an outer ``transform`` over the block sequence slices each
    (already-quantized) query and folds per-code distances, and ONE
    ``flatten`` + ``explode`` emits every (query, block, code, pdist)
    row from a single projection."""
    n_blocks = len(codebooks)
    sub = dim // n_blocks
    cids_all = F.lit(
        [[int(cid) for cid, _ in cb] for cb in codebooks]
    ).cast("array<array<bigint>>")
    vecs_all = F.lit(
        [[[int(x) for x in vec] for _, vec in cb] for cb in codebooks]
    ).cast("array<array<array<bigint>>>")

    def block_table(b):  # b: 0-based block index Column
        cid_arr = F.element_at(cids_all, b + 1)
        vec_arr = F.element_at(vecs_all, b + 1)
        q_sub = F.slice(F.col("q"), b * F.lit(sub) + 1, F.lit(sub))
        return F.transform(
            F.sequence(F.lit(1), F.size(cid_arr)),
            lambda i: F.struct(
                b.cast("long").alias("block"),
                F.element_at(cid_arr, i).alias("code"),
                F.aggregate(
                    F.zip_with(
                        q_sub,
                        F.element_at(vec_arr, i),
                        lambda a, c: (a - c) * (a - c),
                    ),
                    F.lit(0).cast("long"),
                    lambda acc, x: acc + x,
                ).alias("pdist"),
            ),
        )

    return q.select(
        F.col(id_col).alias(query_id_col),
        F.explode(
            F.flatten(
                F.transform(
                    F.sequence(F.lit(0), F.lit(n_blocks - 1)), block_table
                )
            )
        ).alias("_pc"),
    ).select(
        query_id_col,
        F.col("_pc.block").alias("block"),
        F.col("_pc.code").alias("code"),
        F.col("_pc.pdist").alias("pdist"),
    )


def pq_adc_topk(
    codes: DataFrame,
    codebooks: list[list[tuple[int, list[int]]]],
    queries: DataFrame,
    dim: int,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Asymmetric distance computation over PQ codes: approximate
    nearest neighbors WITHOUT touching the original vectors — the
    search half of Jégou et al. 2011.

    Per query, the exact squared distance from each query subvector to
    every codebook centroid forms a (blocks × k_codes) lookup table —
    computed DISTRIBUTED on the queries DataFrame and FUSED into a
    single stage: BOTH codebooks' constants ride into the plan as one
    block-indexed nested array literal each, an outer ``transform``
    over the block sequence slices the query and folds the per-code
    distances (zip_with/aggregate), and ONE ``flatten`` + ``explode``
    emits every (query, block, code, pdist) row from a single
    projection — not a Python loop emitting one explode branch per
    block and unioning them (the pre-r8 shape, whose per-block stages
    cost ~3s of job-launch overhead at toy scale). Nothing is
    collected: feeding a corpus-sized query set never funnels through
    the driver. The tables then ship as the broadcast side — sized
    queries × blocks × k_codes, which is what makes ADC's
    one-joint-pass shape work; a query set too large to broadcast
    would switch this join to a shuffle, not change the build. The
    corpus-proportional work is one broadcast-hash join of the CODES
    (n_blocks small ints per vector, the compressed representation)
    against the tables plus one partial-aggregated sum per
    (query, neighbor) — no full-vector scan anywhere, which at 100 TB
    is the entire point of searching the compressed domain. All
    arithmetic stays on the quantized BIGINT grid, so the results are
    bit-identical to the former per-block (and the original
    driver-side) build."""
    tables = _pq_adc_tables(
        quantize_vectors(queries, id_col, vec_col),
        codebooks,
        dim,
        id_col,
        query_id_col,
    )
    scored = (
        codes.join(F.broadcast(tables), ["block", "code"])
        .filter(F.col(query_id_col) != F.col(id_col))
        .groupBy(query_id_col, F.col(id_col).alias("neighbor_id"))
        .agg(F.sum("pdist").alias("adc_dist"))
    )
    from pyspark.sql import Window

    w = Window.partitionBy(query_id_col).orderBy("adc_dist", "neighbor_id")
    return (
        scored.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= k)
        .drop("_rn")
    )


def pq_adc_topk_ivf(
    df: DataFrame,
    codes: DataFrame,
    codebooks: list[list[tuple[int, list[int]]]],
    centroids: list[tuple[int, list[int]]],
    queries: DataFrame,
    dim: int,
    k: int = 5,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """The FAISS ``IVF,PQ`` composition: a trained coarse quantizer
    buckets the corpus (zero-shuffle literal-centroid assignment of
    the ORIGINAL vectors, exactly how the real index assigns at build
    time), each query probes its ``nprobe`` nearest buckets, and
    asymmetric-distance scoring touches ONLY the probed buckets' PQ
    codes — IVF cuts the candidates to ~nprobe/C of the corpus and PQ
    keeps the scoring in the compressed domain, so neither the full
    code table nor any stored float is scanned per query.

    Join order is the scale argument: codes pick up their bucket via
    one id-equi join, the (query, bucket) probe pairs broadcast to
    RESTRICT candidates FIRST, and only then do the per-query lookup
    tables (broadcast, queries × blocks × k_codes rows) join on
    (query, block, code) — the corpus-proportional row count is
    candidates × n_blocks, never corpus × queries. At full probe
    width the result is bit-identical to :func:`pq_adc_topk`
    (tests pin it): IVF changes which candidates are scored, never
    how."""
    from pyspark.sql import Window

    pts = quantize_vectors(df, id_col, vec_col)
    assigned = _assign(pts, centroids).select(
        id_col, F.col("cluster").alias("bucket_id")
    )
    codes_b = codes.join(assigned, [id_col])
    qv = quantize_vectors(queries, id_col, vec_col)
    cid_arr = F.lit([int(c) for c, _ in centroids]).cast("array<bigint>")
    vec_arr = F.lit(
        [[int(x) for x in v] for _, v in centroids]
    ).cast("array<array<bigint>>")
    per_centroid = F.transform(
        F.sequence(F.lit(1), F.lit(len(centroids))),
        lambda i: F.struct(
            F.aggregate(
                F.zip_with(
                    F.col("q"),
                    F.element_at(vec_arr, i),
                    lambda a, b: (a - b) * (a - b),
                ),
                F.lit(0).cast("long"),
                lambda acc, x: acc + x,
            ).alias("d"),
            F.element_at(cid_arr, i).alias("c"),
        ),
    )
    probes = qv.select(
        F.col(id_col).alias(query_id_col),
        F.explode(
            F.slice(F.array_sort(per_centroid), 1, nprobe)
        ).alias("_p"),
    ).select(query_id_col, F.col("_p.c").alias("bucket_id"))
    tables = _pq_adc_tables(qv, codebooks, dim, id_col, query_id_col)
    cand = codes_b.join(F.broadcast(probes), ["bucket_id"])
    scored = (
        cand.join(F.broadcast(tables), [query_id_col, "block", "code"])
        .filter(F.col(query_id_col) != F.col(id_col))
        .groupBy(query_id_col, F.col(id_col).alias("neighbor_id"))
        .agg(F.sum("pdist").alias("adc_dist"))
    )
    w = Window.partitionBy(query_id_col).orderBy("adc_dist", "neighbor_id")
    return (
        scored.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= k)
        .drop("_rn")
    )


# ---------------------------------------------------------------------------
# DuckDB oracle fragments (differential-testing twins of the operators
# above — kept next to the operator like neardup's ORACLE_* fragments
# so every registry module mirrors the SAME algebra, including the
# empty-cluster reseed rule)
# ---------------------------------------------------------------------------

def oracle_assign_cte(name: str, pts: str, cents: str, dim: int) -> str:
    """Nearest-centroid assignment CTE: exact BIGINT distances on the
    quantized grid, cluster-id tiebreak — the SQL twin of
    :func:`_assign`."""
    return f"""
    {name} AS (
      SELECT * FROM (
        SELECT p.vec_id, p.q, c.cluster,
          CAST(list_sum(list_transform(range(1, {dim + 1}),
            j -> (p.q[j] - c.qc[j]) * (p.q[j] - c.qc[j]))) AS BIGINT) AS d
        FROM {pts} p CROSS JOIN {cents} c
      ) QUALIFY ROW_NUMBER() OVER (
          PARTITION BY vec_id ORDER BY d, cluster) = 1
    )"""


def oracle_update_cte(name: str, assigned: str, seeds: str, dim: int) -> str:
    """Centroid update CTE: truncating ``//`` means for surviving
    clusters UNION the reseeds — empty cluster ids (seed set EXCEPT
    survivors, ranked ascending) rank-matched to the farthest assigned
    points (d DESC, id ASC), the exact mirror of
    :func:`kmeans_fit`'s reseed rule."""
    return f"""
    upd_{name} AS (
      SELECT cluster, list(qi ORDER BY pos) AS qc FROM (
        SELECT a.cluster, t.j AS pos,
          CAST(SUM(a.q[t.j]) AS BIGINT) // CAST(COUNT(*) AS BIGINT) AS qi
        FROM {assigned} a CROSS JOIN range(1, {dim + 1}) AS t(j)
        GROUP BY 1, 2
      ) GROUP BY cluster
    ),
    {name} AS (
      SELECT cluster, qc FROM upd_{name}
      UNION ALL
      SELECT m.cluster, f.q AS qc
      FROM (
        SELECT q, ROW_NUMBER() OVER (ORDER BY d DESC, vec_id ASC) AS rk
        FROM {assigned}
      ) f
      JOIN (
        SELECT cluster, ROW_NUMBER() OVER (ORDER BY cluster) AS rk FROM (
          SELECT cluster FROM {seeds}
          EXCEPT SELECT cluster FROM upd_{name}
        )
      ) m ON f.rk = m.rk
    )"""


def oracle_centroid_chain(
    k: int,
    iters: int,
    dim: int,
    salt: str,
    slice_sql: str = "embedding",
    suffix: str = "",
) -> tuple[list[str], str, str]:
    """The full fit chain as CTEs — quantize (``pts{suffix}``), salted
    seed pick (``c0{suffix}``), and one assign/update pair per Lloyd
    iteration with reseeding — returning
    ``(ctes, final_centroids_cte, pts_cte)``. ``slice_sql`` lets PQ
    chains fit a subvector block; ``suffix`` namespaces parallel
    chains in one WITH clause."""
    rank = (
        f"ROW_NUMBER() OVER (ORDER BY md5('{salt}' || "
        "CAST(vec_id AS VARCHAR)), vec_id)"
    )
    ctes = [
        f"""pts{suffix} AS (
      SELECT vec_id,
        list_transform({slice_sql},
          v -> CAST(FLOOR(CAST(v AS DOUBLE) * {SCALE}) AS BIGINT)) AS q
      FROM embeddings
    )""",
        f"""c0{suffix} AS (
      SELECT q AS qc, {rank} - 1 AS cluster
      FROM pts{suffix} QUALIFY {rank} <= {k}
    )""",
    ]
    for i in range(1, iters + 1):
        ctes.append(
            oracle_assign_cte(
                f"a{i}{suffix}", f"pts{suffix}", f"c{i - 1}{suffix}", dim
            )
        )
        ctes.append(
            oracle_update_cte(
                f"c{i}{suffix}", f"a{i}{suffix}", f"c0{suffix}", dim
            )
        )
    return ctes, f"c{iters}{suffix}", f"pts{suffix}"


def kmeans_assign(
    df: DataFrame,
    k: int = 8,
    n_iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    salt: str = "kmeans:",
) -> DataFrame:
    """Lloyd's k-means end to end: :func:`kmeans_fit`, then the final
    assignment with cluster sizes. Returns
    ``(id, cluster, dist_sq, cluster_n)`` where ``dist_sq`` is the
    exact quantized squared distance to the final centroid."""
    # spread a provably-tiny source before the FINAL assignment (the
    # r13 spread_small gate, operators/spread.py): the assignment folds
    # k × dim distance terms per row, and a single-row-group fixture
    # arrives as ONE partition — the r14 profile showed this stage as a
    # 745ms single task while 31 cores idled. The FIT's own jobs stay
    # unspread (r13 decision record: an AQE stage round per small job
    # made the loop slower); its passes now iterate a cached relation
    # instead.
    from .spread import spread_small

    pts = quantize_vectors(spread_small(df, id_col), id_col, vec_col)
    centroids = kmeans_fit(df, k, n_iters, id_col, vec_col, salt)
    final = _assign(pts, centroids)
    sizes = final.groupBy("cluster").agg(
        F.count(F.lit(1)).alias("cluster_n")
    )
    return final.join(F.broadcast(sizes), "cluster").select(
        id_col, "cluster", "dist_sq", "cluster_n"
    )

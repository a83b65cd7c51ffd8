"""Vectors and ML: exact and approximate nearest-neighbour search
(brute-force cosine, IVF, random-hyperplane LSH, PQ and SQ8
compressed-domain search) and its recall, embedding dedup and
statistics (centroids, covariance, k-means), kNN and pocket-perceptron
classifiers, hard-negative mining, and deterministic train/test and
stratified sampling.

The float cosine fold was verified bit-identical between Spark's
``aggregate``/``zip_with`` and DuckDB's ``list_reduce``/
``list_transform`` (both strict left folds in double). IVF's centroid
pick is salted-md5 deterministic, and RH-LSH's seeded hyperplanes are
inlined into the oracle SQL as double literals (repr round-trips
exactly).
"""

from __future__ import annotations

import random

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators import classifier, kmeans, neardup, pca, similarity
from ..operators.neardup import oracle_cosine_sql as _cos_sql
from ._core import ORACLES, _t, query


# ---------------------------------------------------------------------------
# Deterministic train/test split and stratified sampling
# ---------------------------------------------------------------------------

@query(
    "ext_train_test_split",
    oracle="""
    SELECT doc_id,
      CASE WHEN CAST(('0x' || substring(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100 < 90
           THEN 'train' ELSE 'test' END AS split
    FROM documents
    """,
)
def ext_train_test_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 90/10 train/test assignment by salted MD5 of the
    document id — stable across runs, engines, partitionings, and
    corpus growth (a doc's split never changes when new docs arrive),
    which is the property random sampling lacks. MD5 is in both
    engines, so the oracle reproduces the exact assignment."""
    docs = _t(spark, sf_dir, "documents")
    bucket = (
        F.conv(F.substring(F.md5(F.concat(F.lit("split:"), F.col("doc_id").cast("string"))), 1, 8), 16, 10)
        .cast("long")
        % 100
    )
    return docs.select(
        "doc_id",
        F.when(bucket < 90, "train").otherwise("test").alias("split"),
    )


_STRATA_RATES = {"en": 5000, "es": 2500, "fr": 2500, "de": 1000}  # per-10k


_STRATA_SQL = " ".join(
    f"WHEN lang = '{lang}' THEN {per10k}" for lang, per10k in _STRATA_RATES.items()
)


@query(
    "ext_sample_stratified",
    oracle=f"""
    SELECT doc_id, lang FROM documents
    WHERE CAST(('0x' || substring(md5('strat:' || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 10000
          < CASE {_STRATA_SQL} ELSE 0 END
    """,
)
def ext_sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified deterministic sampling: per-language keep rates
    (en 50%, es/fr 25%, de 10%) applied via salted-MD5 bucketing — the
    rebalancing pass of corpus curation. Unlike ``sampleBy``, the
    decision is a pure function of the doc id: stable across runs,
    engines, partitionings, and corpus growth, and the oracle
    reproduces the exact sample."""
    docs = _t(spark, sf_dir, "documents")
    bucket = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("strat:"), F.col("doc_id").cast("string"))), 1, 8
            ),
            16,
            10,
        ).cast("long")
        % 10000
    )
    rate = F.lit(0)
    for lang, per10k in _STRATA_RATES.items():
        rate = F.when(F.col("lang") == lang, per10k).otherwise(rate)
    return docs.filter(bucket < rate).select("doc_id", "lang")


# Canonical cross-engine fragments (operators/neardup.py): the cosine
# left fold (_cos_sql) and the adaptive-C IVF cent/assigned CTEs live
# in ONE place so the C formula, centroid order, and fold shape can
# never drift between the queries that mirror them.
_ORACLE_IVF_ADAPTIVE = neardup.oracle_ivf_adaptive()


# ---------------------------------------------------------------------------
# Embedding near-dup pairs
# ---------------------------------------------------------------------------

@query(
    "ext_dedup_embedding",
    oracle=f"""
    WITH {_ORACLE_IVF_ADAPTIVE},
    pairs AS (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        {_cos_sql('a.embedding', 'b.embedding')} AS cosine_sim
      FROM assigned a JOIN assigned b
        ON a.bucket_id = b.bucket_id AND a.vec_id < b.vec_id
    )
    SELECT id_a, id_b, cosine_sim FROM pairs WHERE cosine_sim >= 0.4
    """,
)
def ext_dedup_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs (≥ 0.4) on the 100 TB path:
    adaptive-C IVF bucketing (C = max(8, ⌈√n⌉)) + within-bucket
    cosine scoring — the only broadcast is the C-row centroid table
    and the pair join is an equi-join on bucket_id, never all-pairs.
    The salted-md5 centroid pick, argmax assignment, and double
    left-fold cosine are bit-identical across engines, so the oracle
    replays the whole bucketed pipeline including the √n cap. The
    brute-force all-pairs generator stays as the C=1 cross-check in
    tests/test_neardup.py only."""
    emb = _t(spark, sf_dir, "embeddings")
    return neardup.embedding_neardup_pairs_bucketed(emb, threshold=0.4)


# ---------------------------------------------------------------------------
# Similarity search
# ---------------------------------------------------------------------------

@query(
    "ext_similarity_topk",
    # cosine: the canonical cross-engine fold (operators/neardup.py)
    oracle=f"""
    WITH e AS (SELECT vec_id, embedding FROM embeddings),
    scored AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        {_cos_sql("q.embedding", "c.embedding")} AS cosine_sim
      FROM e q JOIN e c ON q.vec_id != c.vec_id
      WHERE q.vec_id < 10
    )
    SELECT query_id, neighbor_id, cosine_sim FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                 ORDER BY cosine_sim DESC, neighbor_id) AS rn
      FROM scored
    ) WHERE rn <= 5
    """,
)
def ext_similarity_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact brute-force cosine top-5 for query vectors vec_id < 10
    (broadcast queries → fold-scored map stage → windowed top-k)."""
    emb = _t(spark, sf_dir, "embeddings")
    queries_df = emb.filter(F.col("vec_id") < 10)
    return similarity.cosine_topk(emb, queries_df, k=5)


_IVF_KM_CTES, _IVF_KM_FINAL, _ = kmeans.oracle_centroid_chain(
    16, 2, 64, "ivfkm:", suffix="_km"
)


@query(
    "ext_similarity_ivf",
    # Approximate by design (recall<1 vs brute force) yet fully
    # deterministic: the coarse quantizer is now TRAINED — the
    # fixed-point Lloyd chain (operators/kmeans.py fragments, reseeds
    # included) replays bit-for-bit, its centroids dequantize exactly
    # (÷2^20 is a power of two), and the argmax bucket assignment,
    # nprobe probe ranking, and final top-k mirror as before.
    oracle=f"""
    WITH e AS (SELECT vec_id, embedding FROM embeddings),
    {",".join(_IVF_KM_CTES)},
    cent AS (
      SELECT cluster AS centroid_id,
        list_transform(qc, v -> CAST(v AS DOUBLE) / {kmeans.SCALE}) AS cvec
      FROM {_IVF_KM_FINAL}
    ),
    asn AS (
      SELECT vec_id, embedding, centroid_id AS bucket_id FROM (
        SELECT e.vec_id, e.embedding, c.centroid_id,
               ROW_NUMBER() OVER (
                 PARTITION BY e.vec_id
                 ORDER BY {_cos_sql('e.embedding', 'c.cvec')} DESC, c.centroid_id
               ) AS rn
        FROM e CROSS JOIN cent c
      ) WHERE rn = 1
    ),
    probes AS (
      SELECT query_id, qvec, bucket_id FROM (
        SELECT q.vec_id AS query_id, q.embedding AS qvec,
               c.centroid_id AS bucket_id,
               ROW_NUMBER() OVER (
                 PARTITION BY q.vec_id
                 ORDER BY {_cos_sql('q.embedding', 'c.cvec')} DESC, c.centroid_id
               ) AS rn
        FROM e q CROSS JOIN cent c WHERE q.vec_id < 10
      ) WHERE rn <= 4
    ),
    scored AS (
      SELECT p.query_id, a.vec_id AS neighbor_id,
             {_cos_sql('p.qvec', 'a.embedding')} AS cosine_sim
      FROM asn a JOIN probes p ON a.bucket_id = p.bucket_id
      WHERE a.vec_id != p.query_id
    )
    SELECT query_id, neighbor_id, cosine_sim FROM (
      SELECT *, ROW_NUMBER() OVER (
        PARTITION BY query_id ORDER BY cosine_sim DESC, neighbor_id
      ) AS rn FROM scored
    ) WHERE rn <= 5
    """,
)
def ext_similarity_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-bucketed approximate top-5 for the same query set, with a
    TRAINED coarse quantizer: 16 centroids from two fixed-point Lloyd
    iterations (operators/kmeans.kmeans_centroids) replace the
    salted-hash pseudo-sample — trained centroids track the corpus
    distribution, so buckets are better balanced and recall@nprobe is
    at least the hash pick's (asserted vs exact in
    tests/test_similarity.py). The whole pipeline — fit chain,
    dequantization, bucket argmax, probe ranking, top-5 — is replayed
    by the DuckDB oracle."""
    emb = _t(spark, sf_dir, "embeddings")
    queries_df = emb.filter(F.col("vec_id") < 10)
    cents = kmeans.kmeans_centroids(emb, k=16, n_iters=2, salt="ivfkm:")
    return similarity.cosine_topk_ivf(
        emb, queries_df, k=5, nprobe=4, centroids=cents
    )


def _rh_hyperplanes_sql(n_bits: int = 32, dim: int = 64) -> str:
    """VALUES rows for the RH-LSH hyperplanes, regenerated with the
    same seed as operators/similarity.py:cosine_topk_rhlsh. ``repr``
    of a Python float is shortest-round-trip, and DuckDB's literal
    parser is correctly rounded, so each literal lands on the exact
    same double the Spark plan broadcasts."""
    rnd = random.Random(0xC05EED)
    rows = []
    for i in range(n_bits):
        vec = ", ".join(repr(rnd.uniform(-1.0, 1.0)) for _ in range(dim))
        rows.append(f"({i}, [{vec}])")
    return ",\n      ".join(rows)


@query(
    "ext_similarity_lsh",
    # Approximate (recall<1) yet deterministic: seeded hyperplanes are
    # inlined as exact double literals, so sign bits, band buckets,
    # the candidate join, and the top-k all mirror bit-for-bit.
    oracle=f"""
    WITH e AS (SELECT vec_id, embedding FROM embeddings),
    hp(bit_idx, hvec) AS (VALUES
      {_rh_hyperplanes_sql(n_bits=32, dim=64)}
    ),
    bits AS (
      SELECT e.vec_id, hp.bit_idx,
        CASE WHEN list_reduce(list_transform(range(1, len(e.embedding)+1),
               i -> CAST(e.embedding[i] AS DOUBLE) * hp.hvec[i]), (x,y) -> x+y) >= 0
             THEN 1 ELSE 0 END AS bit
      FROM e CROSS JOIN hp
    ),
    buckets AS (
      SELECT vec_id, bit_idx // 4 AS band,
             CAST(SUM(bit * (1 << (bit_idx % 4))) AS BIGINT) AS bucket
      FROM bits GROUP BY 1, 2
    ),
    cand AS (
      SELECT DISTINCT qb.vec_id AS query_id, cb.vec_id AS neighbor_id
      FROM (SELECT * FROM buckets WHERE vec_id < 10) qb
      JOIN buckets cb ON qb.band = cb.band AND qb.bucket = cb.bucket
      WHERE cb.vec_id != qb.vec_id
    ),
    scored AS (
      SELECT c.query_id, c.neighbor_id,
             {_cos_sql('q.embedding', 'n.embedding')} AS cosine_sim
      FROM cand c
      JOIN e q ON q.vec_id = c.query_id
      JOIN e n ON n.vec_id = c.neighbor_id
    )
    SELECT query_id, neighbor_id, cosine_sim FROM (
      SELECT *, ROW_NUMBER() OVER (
        PARTITION BY query_id ORDER BY cosine_sim DESC, neighbor_id
      ) AS rn FROM scored
    ) WHERE rn <= 5
    """,
)
def ext_similarity_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Random-hyperplane LSH approximate top-5 for the same query set
    — the stateless, append-friendly ANN scale path (no centroid
    model); recall vs exact is asserted in tests/test_similarity.py
    and the seeded pipeline is replayed whole by the DuckDB oracle."""
    emb = _t(spark, sf_dir, "embeddings")
    queries_df = emb.filter(F.col("vec_id") < 10)
    return similarity.cosine_topk_rhlsh(emb, queries_df, k=5, n_bits=32, bands=8)


# ---------------------------------------------------------------------------
# Semantic dedup clusters (embedding-space transitive closure)
# ---------------------------------------------------------------------------

@query(
    "ext_dedup_semantic_clusters",
    # cent/assigned: the CANONICAL adaptive-C IVF twin
    # (operators/neardup.oracle_ivf_adaptive — same fragment
    # ext_dedup_embedding splices, so the C formula and centroid order can
    # never drift between the two embedding queries).
    oracle=f"""
    WITH RECURSIVE {neardup.oracle_ivf_adaptive()},
    pairs AS (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b
      FROM assigned a JOIN assigned b
        ON a.bucket_id = b.bucket_id AND a.vec_id < b.vec_id
      WHERE {_cos_sql("a.embedding", "b.embedding")} >= 0.4
    ),
    und AS (SELECT id_a AS x, id_b AS y FROM pairs
            UNION SELECT id_b, id_a FROM pairs),
    walk(node, reach) AS (
      SELECT x, x FROM und
      UNION
      SELECT w.node, u.y FROM walk w JOIN und u ON w.reach = u.x
    ),
    comp AS (SELECT node, MIN(reach) AS component FROM walk GROUP BY node)
    SELECT v.vec_id,
      COALESCE(c.component, v.vec_id) AS cluster_id,
      COALESCE(c.component, v.vec_id) = v.vec_id AS is_canonical
    FROM embeddings v LEFT JOIN comp c ON v.vec_id = c.node
    """,
)
def ext_dedup_semantic_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic dedup (Abbas et al., 2023 — public
    paper): IVF-bucket the embedding space, take cosine pairs ≥ 0.4
    *within buckets only* → connected components → one canonical
    vector per semantic cluster. Within-cluster-only pairing is the
    published SemDeDup contract and the 100 TB shape: the only
    broadcast is the C-row centroid table and the pair join is an
    equi-join on bucket_id (never all-pairs), with C sized adaptively
    at the √n IVF operating point (fixed C=8 measured 7.7× wall-time
    for 10× vectors in the sf1 probe; adaptive C keeps within-bucket
    pairing ~n^1.5). Same clustering kernel as the lexical path
    (operators/cluster.py) fed by a different pair generator. The
    salted-MD5 centroid pick, adaptive-C formula, left-fold cosine,
    and argmax assignment are all bit-reproducible in DuckDB, so the
    oracle mirrors the bucketing exactly at every scale."""
    from ..operators.cluster import dedup_clusters

    emb = _t(spark, sf_dir, "embeddings")
    pairs = neardup.embedding_neardup_pairs_bucketed(
        emb, threshold=0.4
    ).select("id_a", "id_b")
    return dedup_clusters(
        emb.select("vec_id"), pairs, id_col="vec_id", pair_a="id_a", pair_b="id_b"
    ).select("vec_id", "cluster_id", "is_canonical")


# ---------------------------------------------------------------------------
# Fixed-point class centroids over the embedding column
# ---------------------------------------------------------------------------

_SCALE = 1048576  # 2^20: exact in double, ~1e-6 quantization


@query(
    "ext_embedding_centroids",
    oracle=f"""
    WITH comp AS (
      SELECT label, s.pos AS pos,
        CAST(FLOOR(CAST(s.v AS DOUBLE) * {_SCALE}) AS BIGINT) AS q
      FROM (
        SELECT label,
          unnest(list_transform(range(1, len(embedding)+1),
                 i -> struct_pack(pos := i-1, v := embedding[i]))) AS s
        FROM embeddings
      )
    )
    SELECT label, pos,
      CAST(SUM(q) AS BIGINT) AS sum_scaled,
      COUNT(*) AS n,
      CAST(SUM(q) AS BIGINT) / (COUNT(*) * CAST({_SCALE} AS DOUBLE)) AS centroid
    FROM comp
    GROUP BY 1, 2
    """,
)
def ext_embedding_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid of the embedding column — the class-prototype
    primitive behind embedding-space curation (cluster purity checks,
    centroid-distance outlier pruning, IVF coarse quantizers).

    Element-wise mean via posexplode → groupBy(label, pos): partial
    aggregation makes it one shuffle of ~n_labels×dim rows regardless
    of corpus size. Cross-engine exactness: each float component is
    quantized to 2^-20 fixed point (float→double exact, ×2^20 exact,
    floor exact), summed as integers (order-independent), and the
    final division by n·2^20 is one correctly-rounded IEEE op — so the
    centroid is bit-identical in both engines with no decimal routing.
    At 100 TB the long sum would route through DECIMAL(38,0); fixture
    magnitudes stay far inside long range."""
    emb = _t(spark, sf_dir, "embeddings")
    comp = emb.select(
        "label", F.posexplode("embedding").alias("pos", "_v")
    ).select(
        "label",
        "pos",
        F.floor(F.col("_v").cast("double") * _SCALE).cast("long").alias("q"),
    )
    return comp.groupBy("label", "pos").agg(
        F.sum("q").alias("sum_scaled"),
        F.count(F.lit(1)).alias("n"),
    ).select(
        "label",
        "pos",
        "sum_scaled",
        "n",
        (
            F.col("sum_scaled").cast("double")
            / (F.col("n") * F.lit(float(_SCALE)))
        ).alias("centroid"),
    )


# ---------------------------------------------------------------------------
# kNN label prediction over embeddings (majority vote of top-k neighbors)
# ---------------------------------------------------------------------------

@query(
    "ext_knn_label_predict",
    oracle=f"""
    WITH e AS (SELECT vec_id, embedding, label FROM embeddings),
    scored AS (
      SELECT q.vec_id AS query_id, q.label AS true_label,
             c.vec_id AS neighbor_id, c.label AS vote,
             {_cos_sql("q.embedding", "c.embedding")} AS cosine_sim
      FROM e q JOIN e c ON q.vec_id != c.vec_id
      WHERE q.vec_id < 100
    ),
    topk AS (
      SELECT * FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                   ORDER BY cosine_sim DESC, neighbor_id) AS rn
        FROM scored
      ) WHERE rn <= 5
    ),
    votes AS (
      SELECT query_id, true_label, vote, COUNT(*) AS n_votes
      FROM topk GROUP BY 1, 2, 3
    )
    SELECT query_id AS vec_id, true_label, vote AS predicted_label, n_votes
    FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                 ORDER BY n_votes DESC, vote) AS rn
      FROM votes
    ) WHERE rn = 1
    """,
)
def ext_knn_label_predict(spark: SparkSession, sf_dir: str) -> DataFrame:
    """kNN classification over the embedding column: each query vector
    (vec_id < 100) takes the majority label of its 5 exact-cosine
    nearest neighbors (ties: larger vote count, then smaller label).
    The weak-supervision / label-propagation primitive of embedding-
    based curation. Reuses the broadcast top-k kernel
    (operators/similarity.cosine_topk); the fold cosine is bit-exact
    across engines, so the oracle checks values, not just shape."""
    emb = _t(spark, sf_dir, "embeddings")
    queries_df = emb.filter(F.col("vec_id") < 100)
    topk = similarity.cosine_topk(emb, queries_df, k=5)
    votes = (
        topk.join(
            emb.select(
                F.col("vec_id").alias("neighbor_id"), F.col("label").alias("vote")
            ),
            ["neighbor_id"],
        )
        .groupBy("query_id", "vote")
        .agg(F.count(F.lit(1)).alias("n_votes"))
    )
    w = Window.partitionBy("query_id").orderBy(F.col("n_votes").desc(), "vote")
    pred = votes.withColumn("_rn", F.row_number().over(w)).filter(
        F.col("_rn") == 1
    )
    return (
        pred.join(
            emb.select(F.col("vec_id"), F.col("label").alias("true_label")),
            pred["query_id"] == F.col("vec_id"),
        )
        .select("vec_id", "true_label", F.col("vote").alias("predicted_label"), "n_votes")
    )


# ---------------------------------------------------------------------------
# Contrastive triplet mining, ANN recall
# ---------------------------------------------------------------------------

@query(
    "ext_hard_negative_mining",
    # cosine: the canonical cross-engine fold (operators/neardup.py)
    oracle=f"""
    WITH e AS (SELECT vec_id, embedding, label FROM embeddings),
    q AS (SELECT vec_id AS query_id, embedding AS qvec, label AS qlabel
          FROM e WHERE vec_id < 10),
    scored AS (
      SELECT q.query_id, q.qlabel, c.vec_id AS neighbor_id,
             c.label AS neighbor_label,
        {_cos_sql("q.qvec", "c.embedding")} AS cosine_sim
      FROM e c CROSS JOIN q WHERE c.vec_id != q.query_id
    ),
    pos AS (
      SELECT query_id, 'pos' AS role, rn AS rank, neighbor_id,
             neighbor_label, cosine_sim
      FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
              ORDER BY cosine_sim DESC, neighbor_id) AS rn
            FROM scored WHERE neighbor_label = qlabel)
      WHERE rn = 1
    ),
    neg AS (
      SELECT query_id, 'neg' AS role, rn AS rank, neighbor_id,
             neighbor_label, cosine_sim
      FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
              ORDER BY cosine_sim DESC, neighbor_id) AS rn
            FROM scored WHERE neighbor_label != qlabel)
      WHERE rn <= 3
    )
    SELECT * FROM pos UNION ALL SELECT * FROM neg
    """,
)
def ext_hard_negative_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contrastive-training triplet mining
    (operators/similarity.py:hard_triplets): per query vector the
    hardest positive (most-similar same-label) and top-3 hardest
    negatives (most-similar different-label) — the ANN-assisted batch
    construction that carries most of the gradient signal in
    contrastive training. Bit-exact cosine + id tiebreaks make the
    whole mining run oracle-checkable."""
    from ..operators.similarity import hard_triplets

    emb = _t(spark, sf_dir, "embeddings")
    queries_df = emb.filter(F.col("vec_id") < 10)
    return hard_triplets(emb, queries_df, k_neg=3)


@query(
    "ext_ann_recall",
    # Both ANN paths are deterministic, so even the QUALITY METRIC is
    # oracle-checkable: the oracle nests the exact-top-k and IVF
    # oracle chains (registered above) as CTEs and recomputes recall@5
    # from scratch.
    oracle=f"""
    WITH exact_topk AS ({ORACLES['ext_similarity_topk']}),
    approx_topk AS ({ORACLES['ext_similarity_ivf']})
    SELECT e.query_id,
      CAST(COUNT(*) AS BIGINT) AS n_exact,
      CAST(SUM(CASE WHEN a.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
        AS n_overlap,
      CAST(SUM(CASE WHEN a.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
        / COUNT(*) AS recall_at_5
    FROM exact_topk e
    LEFT JOIN approx_topk a
      ON e.query_id = a.query_id AND e.neighbor_id = a.neighbor_id
    GROUP BY e.query_id
    """,
)
def ext_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN self-evaluation: per-query recall@5 of the IVF path against
    the exact brute-force top-5 — the continuous-monitoring query an
    ANN deployment runs on a sampled query set to catch recall
    regressions as the corpus drifts. Joins the two deterministic
    pipelines and counts overlap; the division is correctly rounded in
    both engines so even the metric matches bit-for-bit."""
    from ..operators import similarity

    emb = _t(spark, sf_dir, "embeddings")
    queries_df = emb.filter(F.col("vec_id") < 10)
    exact = similarity.cosine_topk(emb, queries_df, k=5).select(
        "query_id", "neighbor_id"
    )
    # the approx path under evaluation is the REGISTERED one — the
    # trained-k-means IVF (ext_similarity_ivf), whose oracle chain the
    # oracle above nests verbatim
    cents = kmeans.kmeans_centroids(emb, k=16, n_iters=2, salt="ivfkm:")
    approx = similarity.cosine_topk_ivf(
        emb, queries_df, k=5, nprobe=4, centroids=cents
    ).select("query_id", F.col("neighbor_id").alias("_approx_id"))
    joined = exact.join(
        approx,
        (exact["query_id"] == approx["query_id"])
        & (exact["neighbor_id"] == approx["_approx_id"]),
        "left",
    ).select(exact["query_id"], "neighbor_id", "_approx_id")
    return joined.groupBy("query_id").agg(
        F.count(F.lit(1)).alias("n_exact"),
        F.sum(
            F.when(F.col("_approx_id").isNotNull(), 1).otherwise(0)
        ).alias("n_overlap"),
        (
            F.sum(
                F.when(F.col("_approx_id").isNotNull(), 1).otherwise(0)
            ).cast("double")
            / F.count(F.lit(1))
        ).alias("recall_at_5"),
    )


# ---------------------------------------------------------------------------
# Lloyd's k-means over the embedding column (operators/kmeans.py)
# ---------------------------------------------------------------------------

def _kmeans_oracle(k: int, iters: int, dim: int, salt: str) -> str:
    """DuckDB twin of :func:`operators.kmeans.kmeans_assign`: the same
    2^-20 quantization, salted-md5 seed pick, exact BIGINT distances,
    truncating ``//`` centroid updates with empty-cluster reseeding,
    and cluster-id tiebreak — unrolled one CTE pair per Lloyd
    iteration via the shared fragment builders next to the operator
    (operators/kmeans.py). The oracle replays the ALGEBRA as a
    relation chain; the Spark side compiles centroids to broadcast
    literals instead, so the two formulations are independent down to
    the join strategy."""
    ctes, cfin, pts = kmeans.oracle_centroid_chain(k, iters, dim, salt)
    ctes.append(kmeans.oracle_assign_cte("final", pts, cfin, dim))
    ctes.append(
        """sizes AS (
      SELECT cluster, CAST(COUNT(*) AS BIGINT) AS cluster_n
      FROM final GROUP BY 1
    )"""
    )
    return (
        "WITH "
        + ",".join(ctes)
        + """
    SELECT f.vec_id, f.cluster, f.d AS dist_sq, s.cluster_n
    FROM final f JOIN sizes s USING (cluster)
    """
    )


@query(
    "ext_embedding_covariance",
    oracle=f"""
    WITH pts AS (
      SELECT list_transform(embedding,
        v -> CAST(FLOOR(CAST(v AS DOUBLE) * {kmeans.SCALE}) AS BIGINT)) AS q
      FROM embeddings
    ),
    marg AS (
      SELECT t.i AS pos, CAST(SUM(q[t.i + 1]) AS BIGINT) AS s,
        CAST(COUNT(*) AS BIGINT) AS n
      FROM pts CROSS JOIN range(0, 64) t(i) GROUP BY 1
    ),
    pairs AS (
      SELECT ti.i AS i, tj.i AS j,
        CAST(SUM(q[ti.i + 1] * q[tj.i + 1]) AS BIGINT) AS sum_prod
      FROM pts
      CROSS JOIN range(0, 64) ti(i) CROSS JOIN range(0, 64) tj(i)
      WHERE tj.i >= ti.i GROUP BY 1, 2
    )
    SELECT p.i, p.j, mi.n AS n, mi.s AS sum_i, mj.s AS sum_j, p.sum_prod,
      CAST((CAST(mi.n AS HUGEINT) * p.sum_prod - CAST(mi.s AS HUGEINT) * mj.s)
           // (CAST(mi.n AS HUGEINT) * mi.n) AS BIGINT) AS cov_q
    FROM pairs p
    JOIN marg mi ON p.i = mi.pos
    JOIN marg mj ON p.j = mj.pos
    """,
)
def ext_embedding_covariance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact co-moment / covariance matrix of the embedding corpus —
    the distributed "fit" half of PCA/whitening (the dim×dim second
    moments are what a 100 TB PCA actually aggregates; the O(dim³)
    eigensolve on the 64×64 result is a driver-side epilogue).

    Scale shape: each row map-side expands to its dim(dim+1)/2
    upper-triangle products (nested transform + flatten + one explode
    — no self-join on the corpus), and partial aggregation collapses
    the shuffle to the 2 080 (i, j) cells regardless of corpus size;
    the 64 marginals aggregate in their own map-combined pass and ride
    back in as literals (join-free final plan). Exactness: all
    sums are BIGINT on the 2^-20 grid; ``cov_q`` is the covariance on
    the 2^-40 grid via the single truncating division
    (n·S_ij − S_i·S_j) DIV n², whose n²-growing intermediates run in
    DECIMAL(38,0) ⟺ HUGEINT (they overflow BIGINT near n ≈ 2×10^4 —
    measured, not hypothetical) while the quotient is always
    long-ranged. Valid until the SUM columns themselves leave BIGINT
    (n ≈ 5×10^8 for unit-norm vectors on this grid); beyond that the
    sums route through DECIMAL(38,0), as ext_embedding_centroids
    documents for the same grid.

    The frame is also the fit half of PCA: operators/pca.pca_fit
    collects these cells (corpus-size-independent driver state) for
    the 64x64 eigensolve, and pca_project applies the components as a
    zero-shuffle literal-matrix projection (property-tested in
    tests/test_pca.py; the eigensolve itself is floating point, hence
    not oracle-paired)."""
    return pca.comoment_cells(_t(spark, sf_dir, "embeddings"), dim=64)


def _pq_block_ctes(
    n_blocks: int, k: int, iters: int, dim: int, salt: str
) -> tuple[list[str], int]:
    """The shared per-block PQ kmeans chains (sliced 1-based
    inclusive, DuckDB ``l[a:b]`` == Spark ``slice(l, a, len)``), block
    salt in the seed pick, built from the shared fragment builders
    (operators/kmeans.py — reseeding included). Returns (CTE list,
    subvector length); each block b ends in ``fin{b}`` (assignments vs
    its final codebook ``c{iters}_{b}``), with points in
    ``pts_{b}``."""
    sub = dim // n_blocks
    ctes: list[str] = []
    for b in range(n_blocks):
        lo, hi = b * sub + 1, (b + 1) * sub
        chain, cfin, pts = kmeans.oracle_centroid_chain(
            k,
            iters,
            sub,
            f"{salt}{b}:",
            slice_sql=f"embedding[{lo}:{hi}]",
            suffix=f"_{b}",
        )
        ctes.extend(chain)
        ctes.append(kmeans.oracle_assign_cte(f"fin{b}", pts, cfin, sub))
    return ctes, sub


def _pq_oracle(n_blocks: int, k: int, iters: int, dim: int, salt: str) -> str:
    """DuckDB twin of :func:`operators.kmeans.pq_encode`: the shared
    block chains, assignments unioned with the block id."""
    ctes, _sub = _pq_block_ctes(n_blocks, k, iters, dim, salt)
    finals = [
        f"SELECT vec_id, CAST({b} AS BIGINT) AS block,"
        f" cluster AS code, d AS dist_sq FROM fin{b}"
        for b in range(n_blocks)
    ]
    return "WITH " + ",".join(ctes) + "\n    " + "\n    UNION ALL ".join(finals)


def _pq_adc_oracle(
    n_blocks: int,
    k: int,
    iters: int,
    dim: int,
    salt: str,
    n_queries: int,
    topk: int,
) -> str:
    """DuckDB twin of :func:`operators.kmeans.pq_adc_topk` run over
    :func:`pq_encode` codes: the same block chains, per-query
    distance tables against each block's FINAL codebook, block-wise
    code joins, summed into the ADC distance, top-k with the
    neighbor-id tiebreak."""
    ctes, sub = _pq_block_ctes(n_blocks, k, iters, dim, salt)
    for b in range(n_blocks):
        ctes.append(
            f"""t{b} AS (
      SELECT q.vec_id AS query_id, c.cluster AS code,
        CAST(list_sum(list_transform(range(1, {sub + 1}),
          j -> (q.q[j] - c.qc[j]) * (q.q[j] - c.qc[j]))) AS BIGINT) AS pdist
      FROM pts_{b} q CROSS JOIN c{iters}_{b} c
      WHERE q.vec_id < {n_queries}
    )"""
        )
    scored = "\n      UNION ALL ".join(
        f"SELECT t.query_id, f.vec_id AS neighbor_id, t.pdist"
        f" FROM fin{b} f JOIN t{b} t ON f.cluster = t.code"
        f" AND f.vec_id != t.query_id"
        for b in range(n_blocks)
    )
    ctes.append(f"scored AS (\n      {scored}\n    )")
    ctes.append(
        """agg AS (
      SELECT query_id, neighbor_id, CAST(SUM(pdist) AS BIGINT) AS adc_dist
      FROM scored GROUP BY 1, 2
    )"""
    )
    return (
        "WITH "
        + ",".join(ctes)
        + f"""
    SELECT query_id, neighbor_id, adc_dist FROM agg
    QUALIFY ROW_NUMBER() OVER (
      PARTITION BY query_id ORDER BY adc_dist, neighbor_id) <= {topk}
    """
    )


@query("ext_pq_encode", oracle=_pq_oracle(4, 16, 1, 64, "pq"))
def ext_pq_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization encoding of the embedding corpus: 4
    independent 16-code codebooks (one Lloyd iteration each) over the
    16-dim subvector blocks, every vector encoded as its nearest code
    per block — 64 floats become 4 codes, the compression step behind
    corpus-scale vector stores and ADC search (Jégou et al. 2011,
    public). Codebook training is driver-loop k-means per block
    (operators/kmeans.py); the corpus-proportional ENCODING is a
    zero-shuffle map-side assignment, and the differential replays
    the full per-block fit+encode chain exactly."""
    return kmeans.pq_encode(
        _t(spark, sf_dir, "embeddings"), dim=64, n_blocks=4, k=16, n_iters=1
    )


@query("ext_pq_adc_search", oracle=_pq_adc_oracle(4, 16, 1, 64, "pq", 10, 5))
def ext_pq_adc_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate nearest neighbors in the COMPRESSED domain: top-5
    per query by asymmetric distance computation over the PQ codes —
    queries' exact per-block centroid distance tables (driver-built
    from the collected query set, B×K ints each) broadcast-joined to
    the codes, summed, ranked. The corpus-proportional work touches
    only the 4-code representation, never the 64-float vectors — the
    search half of Jégou et al. 2011 that makes billion-vector stores
    queryable. Bit-exact cross-engine: the oracle replays the per-
    block fits, the tables, the joins, and the tiebroken top-5."""
    emb = _t(spark, sf_dir, "embeddings")
    cbs = kmeans.pq_fit_blocks(emb, dim=64, n_blocks=4, k=16, n_iters=1)
    codes = kmeans.pq_encode(
        emb, dim=64, n_blocks=4, k=16, n_iters=1, codebooks=cbs
    )
    queries_df = emb.filter(F.col("vec_id") < 10)
    return kmeans.pq_adc_topk(codes, cbs, queries_df, dim=64, k=5)


def _sq8_ivf_oracle(
    k: int,
    iters: int,
    dim: int,
    salt: str,
    n_queries: int,
    topk: int,
    nprobe: int,
) -> str:
    """DuckDB twin of :func:`operators.quantize.sq8_topk_ivf` over
    :func:`sq8_calibrate`/:func:`sq8_encode` output: the shared Lloyd
    chain (operators/kmeans.py fragments, reseeding included) trains
    the coarse quantizer; calibration is the per-dimension min/max on
    the 2^-20 grid; encode→dequantize collapses to one fused
    ``mn + ⌊⌊(v−mn)·255/span⌋·span/255⌋`` per coordinate (every
    operand non-negative, so truncating ``//`` IS floor — bit-exact
    vs Spark's float-division floor, whose < 2^30 numerators are
    exact in double); bucket assignment, nprobe probe ranking,
    candidate join, and the tiebroken top-k mirror the Spark plan."""
    ctes, cfin, pts = kmeans.oracle_centroid_chain(k, iters, dim, salt)
    rng = f"range(1, {dim + 1})"
    ctes.append(
        f"""cal AS (
      SELECT t.j AS pos, MIN(p.q[t.j]) AS mn, MAX(p.q[t.j]) AS mx
      FROM {pts} p CROSS JOIN range(1, {dim + 1}) AS t(j)
      GROUP BY 1
    )"""
    )
    ctes.append(
        """grid AS (
      SELECT list(mn ORDER BY pos) AS mn,
             list(mx - mn ORDER BY pos) AS span
      FROM cal
    )"""
    )
    ctes.append(
        f"""deq AS (
      SELECT p.vec_id,
        list_transform({rng}, j ->
          g.mn[j] + CASE WHEN g.span[j] > 0
            THEN ((p.q[j] - g.mn[j]) * 255 // g.span[j]) * g.span[j] // 255
            ELSE 0 END) AS q
      FROM {pts} p CROSS JOIN grid g
    )"""
    )
    ctes.append(kmeans.oracle_assign_cte("asn", "deq", cfin, dim))
    ctes.append(
        f"""probes AS (
      SELECT query_id, qv, cluster AS bucket_id FROM (
        SELECT p.vec_id AS query_id, p.q AS qv, c.cluster,
          ROW_NUMBER() OVER (PARTITION BY p.vec_id ORDER BY
            CAST(list_sum(list_transform({rng},
              j -> (p.q[j] - c.qc[j]) * (p.q[j] - c.qc[j]))) AS BIGINT),
            c.cluster) AS rn
        FROM {pts} p CROSS JOIN {cfin} c
        WHERE p.vec_id < {n_queries}
      ) WHERE rn <= {nprobe}
    )"""
    )
    ctes.append(
        f"""scored AS (
      SELECT pr.query_id, a.vec_id AS neighbor_id,
        CAST(list_sum(list_transform({rng},
          j -> (a.q[j] - pr.qv[j]) * (a.q[j] - pr.qv[j]))) AS BIGINT)
          AS sq_dist
      FROM asn a JOIN probes pr ON a.cluster = pr.bucket_id
      WHERE a.vec_id != pr.query_id
    )"""
    )
    return (
        "WITH "
        + ",".join(ctes)
        + f"""
    SELECT query_id, neighbor_id, sq_dist FROM scored
    QUALIFY ROW_NUMBER() OVER (
      PARTITION BY query_id ORDER BY sq_dist, neighbor_id) <= {topk}
    """
    )


@query(
    "ext_sq8_ivf_topk",
    oracle=_sq8_ivf_oracle(8, 1, 64, "sq8ivf:", 10, 5, 2),
)
def ext_sq8_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compressed-domain ANN — the FAISS ``IVF,SQ8`` composition
    (operators/quantize.py): per-dimension SQ8 calibration (one
    map-combined ≤dim-row aggregate) encodes the corpus 4× smaller,
    a trained coarse quantizer (one fixed-point Lloyd iteration,
    k=8) buckets the DEQUANTIZED codes map-side, each query probes
    its 2 nearest buckets, and squared-L2 scoring touches only those
    candidates — no stored float is ever read on the
    corpus-proportional path. Every stage is exact integer arithmetic
    on the quantization grids, so the DuckDB oracle replays the full
    fit → calibrate → encode → dequantize → bucket → probe → top-5
    chain bit-exactly."""
    emb = _t(spark, sf_dir, "embeddings")
    from ..operators import quantize

    cal = quantize.sq8_calibrate(emb, dim=64)
    codes = quantize.sq8_encode(emb, cal)
    cents = kmeans.kmeans_fit(emb, k=8, n_iters=1, salt="sq8ivf:")
    queries_df = emb.filter(F.col("vec_id") < 10)
    return quantize.sq8_topk_ivf(
        codes, cal, queries_df, cents, k=5, nprobe=2
    )


@query("ext_kmeans_embedding", oracle=_kmeans_oracle(8, 2, 64, "kmeans:"))
def ext_kmeans_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lloyd's k-means (k=8, 2 exact fixed-point iterations) over the
    embedding corpus — the trained coarse quantizer behind IVF/SemDeDup
    bucketing (operators/kmeans.py; assign_ivf_buckets is the
    hash-sampled untrained variant).

    Scale shape: per iteration, assignment is a ZERO-shuffle
    whole-stage-codegen projection (the k×dim centroids ride in the
    plan as literals — "broadcast the centroids" in its purest form)
    and the update is one map-combined groupBy of (cluster, pos)
    rows, ≤ k×dim after partial aggregation; driver traffic is k×dim
    sums per iteration, the pagerank-probe legitimacy class. All
    arithmetic is on the 2^-20 integer grid, so the differential is
    bit-exact (module docstring has the full argument)."""
    return kmeans.kmeans_assign(
        _t(spark, sf_dir, "embeddings"), k=8, n_iters=2
    )


def _perceptron_oracle(n_iters: int, train_where: str | None = None) -> str:
    """DuckDB twin of the pocket-perceptron chain
    (operators/classifier.py): long-format centered features, the
    epoch CTEs unrolled (margin under w_{t-1} → misclassified
    gradient → w_t), per-epoch error counts, the pocket argmin
    (fewest errors, ties → earliest epoch), scoring under the pocket
    weights, confusion matrix. All-integer arithmetic, so every
    epoch — and the argmin — is bit-identical to the Spark run
    regardless of partitioning or join order. Spark's zero-error
    early stop is equivalent under the fixed unroll: a zero-error
    epoch's gradient is empty, so every later w_t is identical and
    the earliest-epoch tiebreak selects the same vector.

    ``train_where`` (a predicate over ``documents d``) restricts the
    FIT — margins, gradients, and the pocket's error counts — to the
    matching documents; scoring always covers the full corpus. This
    mirrors the sampled-train/full-score composition the classifier's
    magnitude-bounds note prescribes for n beyond exact-BIGINT
    range."""
    from ..operators.classifier import (
        CENTER_DISTINCT,
        CENTER_THE,
        CENTER_TOKENS,
    )

    ctes = [
        f"""f AS (
      SELECT doc_id,
        CASE WHEN n_chars >= 300 THEN 1 ELSE -1 END AS y,
        CAST(1 AS BIGINT) AS x0,
        CAST(len(string_split(text, ' ')) AS BIGINT)
          - {CENTER_TOKENS} AS x1,
        CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT)
          - {CENTER_DISTINCT} AS x2,
        CAST(len(list_filter(string_split(text, ' '), tk -> tk = 'the'))
             AS BIGINT) - {CENTER_THE} AS x3
      FROM documents
    )""",
        """fx AS (
      SELECT doc_id, y, 0 AS pos, x0 AS v FROM f
      UNION ALL SELECT doc_id, y, 1, x1 FROM f
      UNION ALL SELECT doc_id, y, 2, x2 FROM f
      UNION ALL SELECT doc_id, y, 3, x3 FROM f
    )""",
        """w0 AS (
      SELECT CAST(r.i AS INT) AS pos, CAST(0 AS BIGINT) AS w
      FROM range(0, 4) r(i)
    )""",
    ]
    fit_src = "fx"
    if train_where is not None:
        fit_src = "fxt"
        ctes.append(
            f"""fxt AS (
      SELECT fx.* FROM fx
      JOIN documents d ON d.doc_id = fx.doc_id
      WHERE {train_where}
    )"""
        )
    # m{t} = per-doc margins under w_{t-1}; one extra margin pass
    # (m{T+1}) measures the last update's vector, mirroring the fit
    for t in range(1, n_iters + 2):
        ctes.append(
            f"""m{t} AS (
      SELECT {fit_src}.doc_id,
             CAST(SUM({fit_src}.v * w.w) AS BIGINT) * MIN({fit_src}.y) AS m
      FROM {fit_src} JOIN w{t - 1} w USING (pos)
      GROUP BY {fit_src}.doc_id
    )"""
        )
        if t > n_iters:
            break
        ctes.append(
            f"""g{t} AS (
      SELECT {fit_src}.pos, CAST(SUM({fit_src}.y * {fit_src}.v) AS BIGINT) AS g
      FROM {fit_src} JOIN m{t} USING (doc_id) WHERE m{t}.m <= 0
      GROUP BY {fit_src}.pos
    )"""
        )
        ctes.append(
            f"""w{t} AS (
      SELECT w.pos, w.w + COALESCE(g{t}.g, 0) AS w
      FROM w{t - 1} w LEFT JOIN g{t} USING (pos)
    )"""
        )
    errs = "\n      UNION ALL ".join(
        f"SELECT {t} AS t, COUNT(*) FILTER (WHERE m <= 0) AS e FROM m{t + 1}"
        for t in range(n_iters + 1)
    )
    ctes.append(f"errs AS (\n      {errs}\n    )")
    ctes.append("best AS (SELECT t FROM errs ORDER BY e, t LIMIT 1)")
    wall = "\n      UNION ALL ".join(
        f"SELECT {t} AS t, pos, w FROM w{t}" for t in range(n_iters + 1)
    )
    ctes.append(f"wall AS (\n      {wall}\n    )")
    ctes.append("wbest AS (SELECT pos, w FROM wall JOIN best USING (t))")
    ctes.append(
        """sc AS (
      SELECT fx.doc_id, MIN(fx.y) AS y,
             CAST(SUM(fx.v * w.w) AS BIGINT) AS s
      FROM fx JOIN wbest w USING (pos) GROUP BY fx.doc_id
    )"""
    )
    return (
        "WITH "
        + ",\n    ".join(ctes)
        + """
    SELECT CAST(y AS BIGINT) AS label,
           CASE WHEN s > 0 THEN CAST(1 AS BIGINT)
                ELSE CAST(-1 AS BIGINT) END AS pred,
           COUNT(*) AS n,
           CAST(SUM(s) AS BIGINT) AS sum_score
    FROM sc GROUP BY 1, 2 ORDER BY label, pred
    """
    )


@query("ext_quality_perceptron", oracle=_perceptron_oracle(6))
def ext_quality_perceptron(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trained quality classifier: a pocket perceptron (6 batch
    epochs, all-integer, centered features) learns the Gopher-style
    length gate back from token statistics alone — 98–99% accuracy at
    sf0.001/0.01/0.1 — then scores the corpus map-side: the
    supervised curation pattern (CCNet/fastText-style quality
    filters) expressed as iterative Spark aggregation
    (operators/classifier.py).

    Scale shape: per epoch ONE corpus scan — margin is a zero-shuffle
    fold with the weights as a plan literal, the gradient is one
    map-combined groupBy(pos) whose ≤ dim rows (carrying the pocket's
    error count) are all the driver sees; scoring is pure projection.
    Same O(model) driver-traffic legitimacy class, integer-exactness
    argument, and re-scan rationale as ext_kmeans_embedding. The
    confusion matrix (≤4 rows with per-cell score mass) value-checks
    weights, margins, the pocket argmin, and boundary conventions at
    once against the unrolled-CTE oracle."""
    docs = _t(spark, sf_dir, "documents")
    feats = classifier.quality_features(docs)
    w = classifier.perceptron_fit(feats, dim=4, n_iters=6)
    return classifier.perceptron_confusion(
        classifier.perceptron_score(feats, w)
    )


_TRAIN_SAMPLE_WHERE = (
    "CAST(('0x' || substring(md5('strat:' || CAST(d.doc_id AS VARCHAR)), "
    "1, 8)) AS BIGINT) % 10000 < CASE "
    + _STRATA_SQL.replace("lang =", "d.lang =")
    + " ELSE 0 END"
)


@query(
    "ext_quality_sampled_train",
    oracle=_perceptron_oracle(6, train_where=_TRAIN_SAMPLE_WHERE),
)
def ext_quality_sampled_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sampled-train / full-score composition: fit the pocket
    perceptron on the stratified salted-hash sample (the EXACT sample
    ext_sample_stratified materializes — a pure function of doc_id,
    so the two queries stay consistent by construction) and score the
    WHOLE corpus under the pocket weights. This is the regime the
    classifier's magnitude-bounds note prescribes for corpora past
    exact-BIGINT range (operators/classifier.py): gradient magnitudes
    scale with the SAMPLE size while scoring stays a map-side
    projection over everything — the n>10⁸ shape, exercised
    end-to-end under the oracle gate rather than just documented.
    The confusion matrix is over the full corpus, so sample-selection,
    fit, pocket argmin, and cross-population generalization all sit
    on the checked path."""
    docs = _t(spark, sf_dir, "documents")
    bucket = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat(F.lit("strat:"), F.col("doc_id").cast("string"))
                ),
                1,
                8,
            ),
            16,
            10,
        ).cast("long")
        % 10000
    )
    rate = F.lit(0)
    for lang, per10k in _STRATA_RATES.items():
        rate = F.when(F.col("lang") == lang, per10k).otherwise(rate)
    feats_all = classifier.quality_features(docs)
    feats_train = classifier.quality_features(docs.filter(bucket < rate))
    w = classifier.perceptron_fit(feats_train, dim=4, n_iters=6)
    return classifier.perceptron_confusion(
        classifier.perceptron_score(feats_all, w)
    )

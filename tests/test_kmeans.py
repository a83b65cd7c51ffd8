"""Lloyd's k-means (operators/kmeans.py): algorithm parity against an
independent pure-Python replica, deterministic re-runs, empty-cluster
semantics, and the zero-shuffle assignment plan shape. Cross-engine
value parity is covered by the registry differential
(tests/test_registry_oracle.py::ext_kmeans_embedding)."""

from __future__ import annotations

import hashlib

from pyspark.sql import functions as F
from pyspark.sql import types as T

from ecommerce_lakehouse_platform_spark.operators import kmeans

_SCHEMA = T.StructType(
    [
        T.StructField("vec_id", T.LongType()),
        T.StructField("embedding", T.ArrayType(T.FloatType())),
    ]
)


def _vectors(n: int, dim: int = 6) -> list[tuple[int, list[float]]]:
    """Deterministic pseudo-random vectors in [-1, 1), md5-derived —
    no RNG state, reproducible across runs and processes."""
    out = []
    for i in range(n):
        comps = []
        for j in range(dim):
            h = hashlib.md5(f"v{i}:{j}".encode()).hexdigest()
            comps.append((int(h[:8], 16) / 2**31) - 1.0)
        out.append((i, comps))
    return out


def _replica(rows, k: int, n_iters: int, salt: str = "kmeans:"):
    """Independent re-implementation: plain Python ints, same quantize
    / seed / distance / tiebreak / truncating-division contract."""
    import struct

    def f32(v: float) -> float:  # the FloatType storage round-trip
        return struct.unpack("f", struct.pack("f", v))[0]

    pts = {
        i: [int(_pyfloor(f32(v) * kmeans.SCALE)) for v in vec]
        for i, vec in rows
    }
    seeds = sorted(
        pts, key=lambda i: (hashlib.md5(f"{salt}{i}".encode()).hexdigest(), i)
    )[:k]
    cents = {ci: list(pts[i]) for ci, i in enumerate(seeds)}

    def assign():
        out = {}
        for i, q in pts.items():
            best = min(
                (sum((a - b) ** 2 for a, b in zip(q, c)), ci)
                for ci, c in cents.items()
            )
            out[i] = best  # (dist, cluster)
        return out

    seed_ids = list(cents)
    for _ in range(n_iters):
        a = assign()
        groups: dict[int, list[int]] = {}
        for i, (_, ci) in a.items():
            groups.setdefault(ci, []).append(i)
        cents = {
            ci: [
                kmeans._tdiv(sum(pts[i][p] for i in members), len(members))
                for p in range(len(next(iter(pts.values()))))
            ]
            for ci, members in groups.items()
        }
        # empty-cluster reseed: farthest points (d DESC, id ASC)
        # rank-matched to missing cluster ids ascending
        missing = sorted(c for c in seed_ids if c not in cents)
        if missing:
            far = sorted(a.items(), key=lambda kv: (-kv[1][0], kv[0]))
            for slot, (i, _) in zip(missing, far):
                cents[slot] = list(pts[i])
    a = assign()
    sizes: dict[int, int] = {}
    for _, ci in a.values():
        sizes[ci] = sizes.get(ci, 0) + 1
    return {
        i: (ci, d, sizes[ci]) for i, (d, ci) in a.items()
    }


def _pyfloor(x: float) -> int:
    import math

    return math.floor(x)


def _run(spark, rows, k, n_iters):
    df = spark.createDataFrame(
        [(i, [float(v) for v in vec]) for i, vec in rows], _SCHEMA
    )
    return {
        r["vec_id"]: (r["cluster"], r["dist_sq"], r["cluster_n"])
        for r in kmeans.kmeans_assign(df, k=k, n_iters=n_iters).collect()
    }


def test_matches_pure_python_replica(spark):
    rows = _vectors(40)
    got = _run(spark, rows, k=5, n_iters=3)
    want = _replica(rows, k=5, n_iters=3)
    assert got == want


def test_deterministic_across_runs(spark):
    rows = _vectors(25)
    assert _run(spark, rows, k=4, n_iters=2) == _run(
        spark, rows, k=4, n_iters=2
    )


def test_duplicate_seeds_parity_under_reseeding(spark):
    # two tight point groups, k=4: duplicate co-located seeds lose
    # every member after one update (the cluster-id tiebreak routes
    # co-located points to the smaller id). Reseeding re-centers the
    # emptied ids on the farthest points — here ALL distances are 0,
    # so the reseeds are duplicate centroids that empty again; the
    # replica must mirror that churn exactly and the final assignment
    # still uses the 2 effective clusters
    rows = [(i, [0.0, 0.0]) for i in range(4)] + [
        (i, [0.9, 0.9]) for i in range(4, 8)
    ]
    got = _run(spark, rows, k=4, n_iters=2)
    assert got == _replica(rows, k=4, n_iters=2)
    clusters = {c for c, _, _ in got.values()}
    assert len(clusters) == 2
    # every surviving point sits exactly on its centroid
    assert all(d == 0 for _, d, _ in got.values())
    sizes = {got[i][2] for i in got}
    assert sizes == {4}


def test_empty_cluster_reseeds_to_farthest(spark):
    """Adversarial seed placement where a cluster empties and the
    reseed RESCUES it: ids 0..7 seed in md5 order [1, 6, 3] (k=3);
    ids 1 and 6 are duplicate points, so cluster 1 loses the tiebreak
    and empties after the first update — and must be re-centered on
    the farthest point (the outlier id 7), which then survives as its
    own cluster. Without reseeding, k collapses to 2 and the outlier
    is absorbed into the nearest dense cluster."""
    rows = [(i, [0.0, 0.0]) for i in (0, 1, 2, 4, 5, 6)] + [
        (3, [0.5, 0.5]),
        (7, [0.9, 0.9]),
    ]
    got = _run(spark, rows, k=3, n_iters=2)
    assert got == _replica(rows, k=3, n_iters=2)
    clusters = {c for c, _, _ in got.values()}
    assert len(clusters) == 3  # all k survive — the rescue happened
    c7, d7, n7 = got[7]
    assert (d7, n7) == (0, 1)  # the outlier sits on its own centroid
    assert got[3][2] == 1  # the mid point keeps its own cluster too
    assert {got[i][2] for i in (0, 1, 2, 4, 5, 6)} == {6}


def test_pq_encode_coverage_and_distortion(spark):
    """Every (id, block) encoded exactly once with an in-range code,
    and an extra Lloyd iteration on the codebooks can only reduce the
    total quantization distortion."""
    rows = _vectors(48, dim=8)
    df = spark.createDataFrame(
        [(i, [float(v) for v in vec]) for i, vec in rows], _SCHEMA
    )
    enc = kmeans.pq_encode(df, dim=8, n_blocks=2, k=4, n_iters=1).collect()
    assert len(enc) == 48 * 2
    assert {(r["vec_id"], r["block"]) for r in enc} == {
        (i, b) for i in range(48) for b in (0, 1)
    }
    assert all(0 <= r["code"] < 4 for r in enc)
    d1 = sum(r["dist_sq"] for r in enc)
    enc2 = kmeans.pq_encode(df, dim=8, n_blocks=2, k=4, n_iters=2).collect()
    d2 = sum(r["dist_sq"] for r in enc2)
    assert d2 <= d1


def test_pq_adc_recall_vs_exact(spark):
    """ADC over the compressed codes must rank true near neighbors
    well above random: recall@5 vs exact squared-L2 top-5 on the raw
    vectors, same floor as the IVF recall tests."""
    rows = _vectors(60, dim=16)
    df = spark.createDataFrame(
        [(i, [float(v) for v in vec]) for i, vec in rows], _SCHEMA
    )
    cbs = kmeans.pq_fit_blocks(df, dim=16, n_blocks=4, k=8, n_iters=2)
    codes = kmeans.pq_encode(df, dim=16, n_blocks=4, k=8, codebooks=cbs)
    queries = df.filter(F.col("vec_id") < 8)
    approx = kmeans.pq_adc_topk(codes, cbs, queries, dim=16, k=5).collect()

    import struct

    def f32(v):
        return struct.unpack("f", struct.pack("f", v))[0]

    pts = {i: [f32(v) for v in vec] for i, vec in rows}
    exact_set = set()
    for qid in range(8):
        dists = sorted(
            (sum((a - b) ** 2 for a, b in zip(pts[qid], pts[i])), i)
            for i in pts
            if i != qid
        )[:5]
        exact_set |= {(qid, i) for _, i in dists}
    approx_set = {(r["query_id"], r["neighbor_id"]) for r in approx}
    assert len(approx_set) == 8 * 5
    recall = len(exact_set & approx_set) / len(exact_set)
    assert recall >= 0.3, f"ADC recall@5 unexpectedly low: {recall}"


def test_assignment_is_map_side(spark):
    rows = _vectors(30)
    df = spark.createDataFrame(
        [(i, [float(v) for v in vec]) for i, vec in rows], _SCHEMA
    )
    plan = (
        kmeans.kmeans_assign(df, k=3, n_iters=1)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    # no pair blowup, no Python boundary; the ONLY exchanges are the
    # cluster-size aggregate and its broadcast back — assignment itself
    # is pure projection
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "MapInPandas" not in plan
    assert plan.count("Exchange") <= 3


def test_adc_table_build_is_distributed(spark):
    """The per-query ADC distance tables are computed IN THE PLAN
    (codebook literals + zip_with/aggregate fold over the queries
    DataFrame, exploded per code), not by collecting the query set
    into a driver loop: the search plan carries no locally-built
    relation (LocalTableScan) and no Python-eval node, and the tables
    still ship as the broadcast side of the code join."""
    from ecommerce_lakehouse_platform_spark.sources.catalog import load_table

    from .conftest import SF_SMOKE

    emb = load_table(spark, SF_SMOKE, "embeddings")
    cbs = kmeans.pq_fit_blocks(emb, dim=64, n_blocks=4, k=4, n_iters=1)
    codes = kmeans.pq_encode(
        emb, dim=64, n_blocks=4, k=4, n_iters=1, codebooks=cbs
    )
    queries = emb.filter(F.col("vec_id") < 3)
    out = kmeans.pq_adc_topk(codes, cbs, queries, dim=64, k=3)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "LocalTableScan" not in plan, "driver-built relation in plan"
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    # r8 fusion pin: ALL blocks fused on BOTH sides — exactly two
    # Generate nodes total (one flatten+explode building every
    # block's table, one explode emitting every block's code from a
    # single corpus scan in pq_encode) and no Union of per-block
    # branches anywhere in the search plan.
    assert plan.count("Generate") == 2, "per-block explode branches back"
    assert "Union" not in plan, "per-block union branches back"
    # and the search itself still answers correctly: top-3 per query
    got = out.collect()
    assert {r["query_id"] for r in got} == {0, 1, 2}
    assert all(0 <= len([r for r in got if r["query_id"] == qid]) <= 3
               for qid in (0, 1, 2))


def test_pq_adc_topk_ivf_composition(spark):
    """IVF×PQ: at full probe width the composition is BIT-IDENTICAL
    to plain ADC (IVF restricts candidates, never changes scoring);
    at nprobe=2 recall against plain ADC is substantial and every
    result is a genuinely probed candidate."""
    from ecommerce_lakehouse_platform_spark.sources.catalog import load_table

    from .conftest import SF_SMOKE

    emb = load_table(spark, SF_SMOKE, "embeddings")
    cbs = kmeans.pq_fit_blocks(emb, dim=64, n_blocks=4, k=16, n_iters=1)
    codes = kmeans.pq_encode(
        emb, dim=64, n_blocks=4, k=16, n_iters=1, codebooks=cbs
    )
    cents = kmeans.kmeans_fit(emb, k=8, n_iters=1, salt="ivfpq:")
    queries = emb.filter(F.col("vec_id") < 10)

    def pairs(df):
        return {
            (r["query_id"], r["neighbor_id"], r["adc_dist"])
            for r in df.collect()
        }

    full = pairs(kmeans.pq_adc_topk(codes, cbs, queries, dim=64, k=5))
    # full probe width == plain ADC, bit-exact
    same = pairs(
        kmeans.pq_adc_topk_ivf(
            emb, codes, cbs, cents, queries, dim=64, k=5, nprobe=8
        )
    )
    assert same == full
    # narrow probe: high overlap, and distances still exact ADC sums
    narrow = pairs(
        kmeans.pq_adc_topk_ivf(
            emb, codes, cbs, cents, queries, dim=64, k=5, nprobe=2
        )
    )
    inter = {(q, n) for q, n, _ in narrow} & {(q, n) for q, n, _ in full}
    # same floor as the trained-IVF cosine recall tests: the fixture
    # embeddings are near-random, so 2-of-8 coarse buckets carry
    # limited signal — the contract is correctness, not this corpus
    assert len(inter) >= 0.3 * len(full), (len(inter), len(full))
    full_d = {(q, n): d for q, n, d in full}
    assert all(
        full_d.get((q, n), d) == d for q, n, d in narrow
    ), "IVF must restrict candidates, never change ADC distances"


def test_pq_fit_blocks_jobs_keep_caller_job_group(spark):
    """The block fits run on pool threads; their jobs must land in the
    caller's job group, or a per-group profile (bench.query_jobs)
    cannot see the fit — plain pool threads submit under no group."""
    df = spark.createDataFrame(
        [(i, [float(v) for v in vec]) for i, vec in _vectors(12, dim=4)],
        _SCHEMA,
    )
    sc = spark.sparkContext
    group = "test:pq_fit_blocks"
    sc.setJobGroup(group, "pq fit")
    try:
        kmeans.pq_fit_blocks(df, dim=4, n_blocks=2, k=2, n_iters=1)
    finally:
        sc._jsc.clearJobGroup()
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    # per block: at least the seed pick and one Lloyd update
    assert len(sc.statusTracker().getJobIdsForGroup(group)) >= 4

"""Recall/consistency checks for the hash-based near-dup operators
(no DuckDB oracle possible — xxhash64 is engine-specific)."""

from __future__ import annotations

from ecommerce_lakehouse_platform_spark.operators import neardup
from ecommerce_lakehouse_platform_spark.sources.catalog import load_table

from .conftest import SF_SMOKE


def test_minhash_lsh_recall_vs_exact(spark):
    docs = load_table(spark, SF_SMOKE, "documents")
    exact = {
        (r.doc_a, r.doc_b)
        for r in neardup.ngram_jaccard_pairs(docs, threshold=0.5).collect()
    }
    lsh = {
        (r.doc_a, r.doc_b)
        for r in neardup.minhash_lsh_pairs(
            docs, num_perm=64, bands=32, threshold=0.5
        ).collect()
    }
    assert exact, "fixture should contain planted near-dup pairs"
    assert lsh <= exact, "verified LSH pairs must be a subset of exact pairs"
    recall = len(lsh & exact) / len(exact)
    assert recall >= 0.9, f"LSH recall too low: {recall} ({len(lsh)}/{len(exact)})"


def test_simhash_finds_planted_dups(spark):
    docs = load_table(spark, SF_SMOKE, "documents")
    exact = {
        (r.doc_a, r.doc_b)
        for r in neardup.ngram_jaccard_pairs(docs, threshold=0.8).collect()
    }
    sim = {
        (r.doc_a, r.doc_b)
        for r in neardup.simhash_pairs(docs, max_hamming=12, bands=4).collect()
    }
    assert exact
    overlap = len(sim & exact) / len(exact)
    assert overlap >= 0.5, f"simhash should catch most strong near-dups: {overlap}"


def test_embedding_neardup_symmetric_bound(spark):
    emb = load_table(spark, SF_SMOKE, "embeddings")
    pairs = neardup.embedding_neardup_pairs(emb, threshold=0.4).collect()
    assert all(r.id_a < r.id_b for r in pairs)
    assert all(0.4 <= r.cosine_sim <= 1.0 for r in pairs)


def test_bucketed_embedding_pairs_degenerate_to_all_pairs(spark):
    """n_centroids=1 → one bucket → the bucketed generator must equal
    the exact all-pairs baseline bit-for-bit (same pairs, same
    cosines)."""
    emb = load_table(spark, SF_SMOKE, "embeddings")
    exact = {
        (r.id_a, r.id_b): r.cosine_sim
        for r in neardup.embedding_neardup_pairs(emb, threshold=0.4).collect()
    }
    bucketed = {
        (r.id_a, r.id_b): r.cosine_sim
        for r in neardup.embedding_neardup_pairs_bucketed(
            emb, threshold=0.4, n_centroids=1
        ).collect()
    }
    assert exact and bucketed == exact


def test_bucketed_embedding_pairs_subset_and_pruned(spark):
    """With real bucketing: verified pairs ⊆ all-pairs result, and the
    candidate (scored-pair) count is far below n(n-1)/2 — the whole
    point of the IVF bucketing at scale."""
    from ecommerce_lakehouse_platform_spark.operators.similarity import (
        assign_ivf_buckets,
    )
    from pyspark.sql import functions as F

    emb = load_table(spark, SF_SMOKE, "embeddings")
    n = emb.count()
    exact = {
        (r.id_a, r.id_b)
        for r in neardup.embedding_neardup_pairs(emb, threshold=0.4).collect()
    }
    bucketed = {
        (r.id_a, r.id_b)
        for r in neardup.embedding_neardup_pairs_bucketed(
            emb, threshold=0.4, n_centroids=8
        ).collect()
    }
    assert bucketed and bucketed <= exact
    # scored candidates = same-bucket pairs only
    _, assigned = assign_ivf_buckets(emb, n_centroids=8)
    sizes = [
        r.c for r in assigned.groupBy("bucket_id").agg(F.count("*").alias("c")).collect()
    ]
    candidates = sum(c * (c - 1) // 2 for c in sizes)
    all_pairs = n * (n - 1) // 2
    assert candidates < 0.5 * all_pairs, (candidates, all_pairs)


def test_bucketed_embedding_adaptive_default(spark):
    """n_centroids=None sizes C at the √n IVF operating point and must
    equal the explicit-C call bit-for-bit (same pairs, same cosines).
    This is the default the registered queries run."""
    import math

    emb = load_table(spark, SF_SMOKE, "embeddings")
    n = emb.count()
    expected_c = max(8, math.ceil(math.sqrt(n)))
    assert neardup.adaptive_n_centroids(n) == expected_c
    adaptive = {
        (r.id_a, r.id_b): r.cosine_sim
        for r in neardup.embedding_neardup_pairs_bucketed(
            emb, threshold=0.4
        ).collect()
    }
    explicit = {
        (r.id_a, r.id_b): r.cosine_sim
        for r in neardup.embedding_neardup_pairs_bucketed(
            emb, threshold=0.4, n_centroids=expected_c
        ).collect()
    }
    assert adaptive == explicit


def test_oracle_sh_capped_parameterized_n(spark):
    """oracle_sh_capped(n) must mirror the Spark generator for n != 3
    too — the fragment used to hard-code 3-gram shingling, so a future
    registered query at another width would have silently lost
    cross-engine parity. Differential at n=2 on the smoke fixture."""
    import duckdb

    docs = load_table(spark, SF_SMOKE, "documents")
    got = {
        (r.doc_a, r.doc_b): (r.n_shared, r.n_a, r.n_b, round(r.jaccard, 12))
        for r in neardup.ngram_jaccard_pairs(docs, n=2, threshold=0.5).collect()
    }
    con = duckdb.connect()
    con.sql(
        f"CREATE VIEW documents AS SELECT * FROM '{SF_SMOKE}/documents.parquet'"
    )
    sql = f"""
    WITH {neardup.oracle_sh_capped(2)},
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1),
    shared AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_shared
      FROM sh a JOIN sh b USING (s) WHERE a.doc_id < b.doc_id GROUP BY 1, 2
    )
    SELECT doc_a, doc_b, n_shared, sa.n AS n_a, sb.n AS n_b,
      CAST(n_shared AS DOUBLE) / (sa.n + sb.n - n_shared) AS jaccard
    FROM shared
    JOIN sizes sa ON doc_a = sa.doc_id
    JOIN sizes sb ON doc_b = sb.doc_id
    WHERE CAST(n_shared AS DOUBLE) / (sa.n + sb.n - n_shared) >= 0.5
    """
    want = {
        (doc_a, doc_b): (n_shared, n_a, n_b, round(jac, 12))
        for doc_a, doc_b, n_shared, n_a, n_b, jac in con.sql(sql).fetchall()
    }
    assert got == want and neardup.oracle_sh_capped(3) == neardup.ORACLE_SH_CAPPED


def test_max_df_cap_is_identity_when_loose(spark):
    """Stop-shingle cap: with max_df ≥ the corpus's true max document
    frequency the capped run must equal the uncapped run exactly; with
    an aggressive cap the join never sees the frequent shingles (the
    f² skew rows are gone) and output pairs carry consistent sizes."""
    from pyspark.sql import functions as F

    docs = load_table(spark, SF_SMOKE, "documents")
    uncapped = {
        (r.doc_a, r.doc_b): (r.n_shared, r.n_a, r.n_b)
        for r in neardup.ngram_jaccard_pairs(docs, threshold=0.5).collect()
    }
    max_freq = (
        neardup._doc_shingles(docs, "doc_id", "text", 3)
        .groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("df"))
        .agg(F.max("df"))
        .collect()[0][0]
    )
    capped = {
        (r.doc_a, r.doc_b): (r.n_shared, r.n_a, r.n_b)
        for r in neardup.ngram_jaccard_pairs(
            docs, threshold=0.5, max_df=max_freq
        ).collect()
    }
    assert uncapped and capped == uncapped

    tight = neardup.ngram_jaccard_pairs(docs, threshold=0.5, max_df=2).collect()
    for r in tight:
        assert r.n_shared <= min(r.n_a, r.n_b)
        assert r.jaccard >= 0.5


def test_incremental_minhash_equals_full_restricted(spark):
    """Batch-vs-index incremental dedup returns exactly the full-run
    pairs that touch the batch — corpus-internal pairs are excluded
    by construction (the cost-model point: history is never re-paired
    with itself)."""
    docs = load_table(spark, SF_SMOKE, "documents")
    from pyspark.sql import functions as F

    corpus = docs.filter(F.col("doc_id") % 2 == 0)
    batch = docs.filter(F.col("doc_id") % 2 == 1)
    full = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in neardup.minhash_lsh_pairs(docs, threshold=0.5).collect()
    }
    want = {k: v for k, v in full.items() if k[0] % 2 == 1 or k[1] % 2 == 1}
    got = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in neardup.minhash_lsh_pairs_incremental(
            corpus, batch, threshold=0.5
        ).collect()
    }
    assert got == want
    assert want, "fixture should contain batch-touching near-dup pairs"
    assert any(k[0] % 2 == 0 or k[1] % 2 == 0 for k in got), (
        "expected at least one batch-vs-history pair"
    )


def test_containment_materialize_releases_cache(spark):
    """The containment pair generator must (a) return the exact pairs
    and (b) leave NO pinned SQL-cache entry behind — the
    self-cleaning contract loopy callers rely on (r4 advice item)."""
    spark.catalog.clearCache()
    docs = spark.createDataFrame(
        [
            (1, "a b c d e f g h"),
            (2, "a b c d e f g h i j k l m n o p q r s t"),
            (3, "z y x w v u t s"),
        ],
        ["doc_id", "text"],
    )
    got = sorted(
        map(
            tuple,
            neardup.shingle_containment_pairs(docs, threshold=0.5).collect(),
        )
    )
    # doc 1's 6 shingles all sit inside doc 2's 18; doc 3 shares none
    assert got == [(1, 2, 6, 6, 18, 1.0, 6 / 18)]
    cm = spark._jsparkSession.sharedState().cacheManager()
    assert cm.isEmpty(), "containment pairs left a pinned SQL cache entry"


def test_ngram_jaccard_query_leaves_no_cache_entry(spark):
    """The registered Jaccard pair query takes the same self-cleaning
    path: collecting it must leave no pinned InMemoryRelation behind
    (one per call would accumulate in bench loops)."""
    from ecommerce_lakehouse_platform_spark import registry

    spark.catalog.clearCache()
    rows = registry.QUERIES["ext_dedup_ngram_jaccard"](spark, SF_SMOKE).collect()
    assert rows
    cm = spark._jsparkSession.sharedState().cacheManager()
    assert cm.isEmpty(), "ext_dedup_ngram_jaccard left a pinned SQL cache entry"


def test_minhash_bucket_cap_identity_at_fixture_scale(spark):
    """max_bucket=64 must be the IDENTITY on the fixture corpus (its
    largest band bucket holds ~13 docs): same verified pairs as an
    effectively-uncapped run. This is what keeps the registered
    query's exact-oracle contract intact while the cap guards the
    giant-bucket quadratic blowup at scale."""
    docs = load_table(spark, SF_SMOKE, "documents")
    capped = sorted(
        map(tuple, neardup.minhash_lsh_pairs(docs, bands=32).collect())
    )
    uncapped = sorted(
        map(
            tuple,
            neardup.minhash_lsh_pairs(
                docs, bands=32, max_bucket=1_000_000_000
            ).collect(),
        )
    )
    assert capped == uncapped and len(capped) > 0


def test_minhash_giant_bucket_chain_preserves_clone_cluster(spark):
    """A clone group bigger than max_bucket floods every band bucket;
    the cap must degrade it to a verified doc_id-order CHAIN, not drop
    it — so connected components over the output still recover the
    full duplicate cluster. 30 clones with max_bucket=10: expect the
    29 consecutive pairs (all jaccard 1.0) to survive and to span all
    30 docs transitively."""
    clones = [(i, "alpha beta gamma delta epsilon zeta eta theta") for i in range(30)]
    others = [(100 + i, f"unique text number {i} about topic {i} entirely") for i in range(5)]
    docs = spark.createDataFrame(clones + others, ["doc_id", "text"])
    pairs = neardup.minhash_lsh_pairs(
        docs, threshold=0.9, max_bucket=10
    ).collect()
    chain = {(r.doc_a, r.doc_b) for r in pairs if r.doc_a < 100 and r.doc_b < 100}
    assert {(i, i + 1) for i in range(29)} <= chain
    assert all(abs(r.jaccard - 1.0) < 1e-12 for r in pairs if r.doc_a < 100)


def test_fractional_cap_arithmetic_on_shingle_table(spark):
    """Unit-level check of _cap_stop_shingles' growth-stable cap,
    df <= greatest(floor, ceil(frac * n_docs)), on a constructed
    (doc_id, shingle) table where the frac term EXCEEDS the floor:
    n_docs=10_000 -> cap = max(32, ceil(50.0)) = 50, so a df-45
    shingle survives ONLY because the fraction raised the cap and a
    df-60 shingle is cut. The same table truncated to 100 docs flips
    the cap to the floor (32) and cuts the df-45 shingle too."""
    from pyspark.sql import functions as F

    rows = [(i, f"rare_{i}") for i in range(10_000)]
    rows += [(i, "warm") for i in range(45)]
    rows += [(i, "hot") for i in range(60)]
    ds = spark.createDataFrame(rows, ["doc_id", "shingle"])
    kept = {
        r.shingle
        for r in neardup._cap_stop_shingles(ds, None, 0.005, 32)
        .select("shingle")
        .distinct()
        .collect()
    }
    assert "warm" in kept and "hot" not in kept
    assert f"rare_{9_999}" in kept

    small = ds.filter(F.col("doc_id") < 100)
    kept_small = {
        r.shingle
        for r in neardup._cap_stop_shingles(small, None, 0.005, 32)
        .select("shingle")
        .distinct()
        .collect()
    }
    assert "warm" not in kept_small and "hot" not in kept_small
    assert "rare_0" in kept_small


def test_absolute_ceiling_clamps_fractional_cap(spark):
    """Beyond ~819k docs the fractional cap would keep growing with
    the corpus — and with it the f² candidate bound. The MAX_DF_CEIL
    clamp freezes it: on a 1M-doc table, cap = max(32,
    min(ceil(5000.0), 4096)) = 4096, so a df-4096 shingle survives
    and a df-5000 shingle (under the unclamped fractional cap, but
    over the ceiling) is cut. This is the property that makes the
    candidate join O(corpus): capped volume ≤ MAX_DF_CEIL · rows."""
    from pyspark.sql import functions as F

    n = 1_000_000
    base = spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("rare_"), F.col("id")).alias("shingle"),
    )
    at_ceil = spark.range(4096).select(
        F.col("id").alias("doc_id"), F.lit("at_ceiling").alias("shingle")
    )
    over = spark.range(5000).select(
        F.col("id").alias("doc_id"), F.lit("over_ceiling").alias("shingle")
    )
    ds = base.unionByName(at_ceil).unionByName(over)
    kept = {
        r.shingle
        for r in neardup._cap_stop_shingles(ds, None, 0.005, 32)
        .select("shingle")
        .distinct()
        .filter(F.col("shingle").isin("at_ceiling", "over_ceiling"))
        .collect()
    }
    assert kept == {"at_ceiling"}


def _py_capped_jaccard(texts: dict[int, str], n: int, threshold: float,
                       frac: float, floor: int):
    """Pure-Python mini-oracle for the capped exact-Jaccard relation."""
    import math

    sets = {}
    for d, t in texts.items():
        toks = t.split(" ")
        if len(toks) >= n:
            sets[d] = {" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)}
    df: dict[str, int] = {}
    for s in sets.values():
        for sh in s:
            df[sh] = df.get(sh, 0) + 1
    cap = max(floor, math.ceil(frac * len(sets)))
    capped = {d: {sh for sh in s if df[sh] <= cap} for d, s in sets.items()}
    out = {}
    ids = sorted(capped)
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            inter = len(capped[a] & capped[b])
            union = len(capped[a] | capped[b])
            if union and inter / union >= threshold:
                out[(a, b)] = (inter, len(capped[a]), len(capped[b]))
    return out


def test_fractional_cap_binding_end_to_end_vs_python_oracle(spark):
    """40-doc corpus where every doc shares an identical boilerplate
    run (its interior shingles have df 40 > floor 32 -> cut) and two
    docs additionally share a rare phrase. The capped generator must
    match a pure-Python reimplementation of the capped relation
    exactly — pairs, intersection counts, and CAPPED set sizes — and
    must differ from the uncapped run (which drowns in
    boilerplate-only similarity)."""
    boiler = "terms of service apply all rights reserved contact us today"
    texts = {
        i: f"unique{i}a unique{i}b unique{i}c unique{i}d {boiler}"
        for i in range(40)
    }
    rare = "quantum flux capacitor overdrive engages warp drive smoothly"
    texts[0] = f"{rare} unique0a unique0b {boiler}"
    texts[1] = f"{rare} unique1a unique1b {boiler}"
    docs = spark.createDataFrame(list(texts.items()), ["doc_id", "text"])

    got = {
        (r.doc_a, r.doc_b): (r.n_shared, r.n_a, r.n_b)
        for r in neardup.ngram_jaccard_pairs(docs, threshold=0.3).collect()
    }
    want = _py_capped_jaccard(texts, n=3, threshold=0.3, frac=0.005, floor=32)
    assert got == want and (0, 1) in got

    uncapped = {
        (r.doc_a, r.doc_b)
        for r in neardup.ngram_jaccard_pairs(
            docs, threshold=0.3, max_df_frac=None
        ).collect()
    }
    assert uncapped != set(got), "cap should change a boilerplate-dense corpus"


def test_prefix_filter_matches_allpairs_under_same_cap(spark):
    """prefix_filter_jaccard_pairs and ngram_jaccard_pairs share the
    stop-shingle cap default, so they must stay interchangeable —
    identical pairs and scores — on a corpus where the cap BINDS."""
    boiler = "click here to subscribe to our newsletter for updates now"
    texts = {
        i: f"body{i}x body{i}y body{i}z body{i}w {boiler}" for i in range(40)
    }
    texts[7] = f"shared payload alpha beta body7x {boiler}"
    texts[9] = f"shared payload alpha beta body9x {boiler}"
    docs = spark.createDataFrame(list(texts.items()), ["doc_id", "text"])
    allpairs = {
        (r.doc_a, r.doc_b): (r.n_shared, r.n_a, r.n_b, round(r.jaccard, 12))
        for r in neardup.ngram_jaccard_pairs(docs, threshold=0.25).collect()
    }
    prefix = {
        (r.doc_a, r.doc_b): (r.n_shared, r.n_a, r.n_b, round(r.jaccard, 12))
        for r in neardup.prefix_filter_jaccard_pairs(
            docs, threshold=0.25
        ).collect()
    }
    assert allpairs == prefix and (7, 9) in allpairs

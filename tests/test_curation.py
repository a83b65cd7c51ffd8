"""Round-2 curation operators: prefix-filter similarity join,
quality-aware cluster retention, duplicate-span coverage, temperature
resampling, quality banding, pseudonymization, kNN label prediction.

The DuckDB oracle gate covers value exactness; these tests pin the
semantic invariants the oracle can't express (equivalence between two
independent implementations, per-cluster cardinality, rate
monotonicity, mask completeness).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ecommerce_lakehouse_platform_spark import registry
from ecommerce_lakehouse_platform_spark.operators import neardup

from .conftest import SF_SMOKE


def test_prefix_filter_equals_all_pairs(spark):
    """Prefix filtering must be EXACT: same pairs, same jaccards, as
    the all-pairs shingle join — at two thresholds."""
    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    for t in (0.5, 0.2):
        exact = {
            (r["doc_a"], r["doc_b"]): r["jaccard"]
            for r in neardup.ngram_jaccard_pairs(docs, threshold=t).collect()
        }
        pf = {
            (r["doc_a"], r["doc_b"]): r["jaccard"]
            for r in neardup.prefix_filter_jaccard_pairs(docs, threshold=t).collect()
        }
        assert pf == exact, f"threshold {t}: {len(pf)} vs {len(exact)} pairs"


def test_prefix_filter_prunes_candidates(spark):
    """The point of the operator: the prefix join must generate fewer
    candidate pairs than the full shingle self-join."""
    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    ds = neardup._doc_shingles(docs, "doc_id", "text", 3)
    a = ds.select(F.col("doc_id").alias("doc_a"), "shingle")
    b = ds.select(F.col("doc_id").alias("doc_b"), "shingle")
    full = (
        a.join(b, ["shingle"]).filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b").distinct().count()
    )
    dfreq = ds.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
    per_doc = (
        ds.join(dfreq, ["shingle"])
        .groupBy("doc_id")
        .agg(F.sort_array(F.collect_list(F.struct("df", "shingle"))).alias("o"))
        .select(
            "doc_id",
            F.transform("o", lambda x: x["shingle"]).alias("sset"),
            F.size("o").alias("n_sh"),
        )
    )
    plen = (F.col("n_sh") - F.ceil(F.lit(0.5) * F.col("n_sh")) + 1).cast("int")
    pref = per_doc.select(
        "doc_id", F.explode(F.slice("sset", F.lit(1), plen)).alias("shingle")
    )
    pa = pref.select(F.col("doc_id").alias("doc_a"), "shingle")
    pb = pref.select(F.col("doc_id").alias("doc_b"), "shingle")
    pruned = (
        pa.join(pb, ["shingle"]).filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b").distinct().count()
    )
    assert pruned < full


def test_keep_best_one_keeper_per_cluster(spark):
    out = registry.QUERIES["ext_dedup_keep_best"](spark, SF_SMOKE)
    per_cluster = out.groupBy("cluster_id").agg(
        F.sum(F.col("is_kept").cast("int")).alias("kept"),
        F.count(F.lit(1)).alias("n"),
    )
    bad = per_cluster.filter(F.col("kept") != 1).count()
    assert bad == 0
    # the keeper must be the longest member of its cluster
    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet").select(
        "doc_id", "n_chars"
    )
    joined = out.join(docs, "doc_id")
    cluster_max = joined.groupBy("cluster_id").agg(F.max("n_chars").alias("mx"))
    kept = joined.filter("is_kept").join(cluster_max, "cluster_id")
    assert kept.filter(F.col("n_chars") != F.col("mx")).count() == 0


def test_dup_span_coverage_bounds_and_planted_dups(spark):
    out = registry.QUERIES["ext_dup_span_coverage"](spark, SF_SMOKE)
    assert out.filter("dup_ratio < 0 OR dup_ratio > 1").count() == 0
    assert out.filter("n_dup_spans > n_spans").count() == 0
    # the fixture plants near-dup pairs, so some 8-gram spans repeat
    assert out.filter("dup_ratio > 0").count() > 0


def test_temperature_sample_rate_monotonicity(spark):
    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    n_by_lang = {r["lang"]: r["n"] for r in docs.groupBy("lang").agg(F.count(F.lit(1)).alias("n")).collect()}
    out = registry.QUERIES["ext_lang_temperature_sample"](spark, SF_SMOKE)
    rates = {
        r["lang"]: r["rate_per10k"]
        for r in out.select("lang", "rate_per10k").distinct().collect()
    }
    # smallest language keeps everything; larger corpora get lower rates
    smallest = min(n_by_lang, key=n_by_lang.get)
    assert rates[smallest] == 10000
    for a in rates:
        for b in rates:
            if n_by_lang[a] < n_by_lang[b]:
                assert rates[a] >= rates[b]


def test_quality_band_drops_both_tails(spark):
    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    total = docs.count()
    out = registry.QUERIES["ext_quality_band_filter"](spark, SF_SMOKE)
    kept = out.count()
    # p05..p95 band keeps ~90%; exact count depends on score ties
    assert 0.85 * total <= kept <= 0.95 * total
    row = out.limit(1).collect()[0]
    assert row["q_lo"] < row["q_hi"]


def test_pseudonymize_masks_every_digit(spark):
    out = registry.QUERIES["ext_pii_pseudonymize"](spark, SF_SMOKE)
    leaked = out.filter(F.col("props_masked").rlike("[0-9]")).count()
    assert leaked == 0
    # pseudonym is total and deterministic: same user ⇒ same hash
    ev = spark.read.parquet(f"{SF_SMOKE}/events.parquet")
    n_users = ev.select("user_id").distinct().count()
    assert out.select("user_pseudo").distinct().count() == n_users


def test_knn_prediction_votes_bounded(spark):
    out = registry.QUERIES["ext_knn_label_predict"](spark, SF_SMOKE)
    rows = out.collect()
    assert len(rows) == 100
    for r in rows:
        assert 1 <= r["n_votes"] <= 5


def test_chunking_covers_and_overlaps(spark):
    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    out = registry.QUERIES["ext_doc_chunking"](spark, SF_SMOKE)
    # chunk 0 starts at token 1; consecutive chunks overlap by 16
    first = out.filter("doc_id = 0").orderBy("chunk_id").collect()
    toks = docs.filter("doc_id = 0").collect()[0]["text"].split(" ")
    assert first[0]["chunk_text"].split(" ")[0] == toks[0]
    for a, b in zip(first, first[1:]):
        ta, tb = a["chunk_text"].split(" "), b["chunk_text"].split(" ")
        if len(ta) == 64:  # full chunk: 16-token overlap with successor
            assert ta[48:] == tb[: len(ta[48:])]
    # every token position is covered by at least one chunk
    total = sum(1 for _ in toks)
    last = first[-1]
    assert 48 * last["chunk_id"] + last["n_chunk_tokens"] == total


def test_centroids_match_plain_mean_within_quantization(spark):
    from pyspark.sql import functions as F

    out = registry.QUERIES["ext_embedding_centroids"](spark, SF_SMOKE)
    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    plain = (
        emb.select("label", F.posexplode("embedding").alias("pos", "v"))
        .groupBy("label", "pos")
        .agg(F.avg(F.col("v").cast("double")).alias("mean"))
    )
    joined = out.join(plain, ["label", "pos"])
    # fixed-point floor at 2^-20 ⇒ centroid ∈ (mean - 2^-20, mean]
    bad = joined.filter(
        (F.col("centroid") > F.col("mean") + 1e-12)
        | (F.col("centroid") < F.col("mean") - 1.0 / 1048576 - 1e-12)
    ).count()
    assert bad == 0


def test_span_cut_matches_islands_coverage(spark):
    """The cut application and the island report must agree doc by
    doc: a doc's removed-token count equals its islands'
    covered_tokens (the covered-position union IS the island union),
    and docs absent from the island report lose nothing — their
    cleaned text round-trips the original."""
    cut = registry.QUERIES["ext_dedup_span_cut"](spark, SF_SMOKE)
    isl = registry.QUERIES["ext_dup_span_islands"](spark, SF_SMOKE)
    j = cut.join(isl.select("doc_id", "covered_tokens"), ["doc_id"], "left")
    mismatch = j.filter(
        F.col("n_removed") != F.coalesce(F.col("covered_tokens"), F.lit(0))
    ).count()
    assert mismatch == 0
    untouched = cut.filter(F.col("n_removed") == 0)
    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    bad = (
        untouched.join(docs, ["doc_id"])
        .filter(F.col("cleaned_text") != F.col("text"))
        .count()
    )
    assert bad == 0
    assert cut.filter(F.col("n_removed") > 0).count() > 0


def test_span_cut_planted_duplicate_span(spark):
    """Two docs sharing one 8-token run, padded with unique tokens:
    exactly the 8 shared positions vanish from each, the unique
    padding survives in order, and a third unrelated doc is
    untouched."""
    from ecommerce_lakehouse_platform_spark.registry.text import ext_dedup_span_cut
    shared = "one two three four five six seven eight"
    rows = [
        (1, f"a1 b1 {shared} c1 d1"),
        (2, f"a2 {shared} b2 c2 d2"),
        (3, "totally unrelated text with nothing duplicated here at all"),
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    import tempfile, os
    with tempfile.TemporaryDirectory() as td:
        docs.write.parquet(os.path.join(td, "documents.parquet"))
        out = {
            r.doc_id: r
            for r in ext_dedup_span_cut(spark, td).collect()
        }
    assert out[1].n_removed == 8 and out[1].cleaned_text == "a1 b1 c1 d1"
    assert out[2].n_removed == 8 and out[2].cleaned_text == "a2 b2 c2 d2"
    assert out[3].n_removed == 0
    assert out[3].cleaned_text == rows[2][1]

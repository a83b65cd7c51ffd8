"""Text and dedup: the training-data curation surface over the
``documents`` corpus — text statistics and language ID, tokenizer
statistics (vocabulary, subwords, BPE merges), exact, normalized,
near-duplicate, line- and span-level dedup, quality scoring and
filtering, decontamination, PII scrubbing, corpus mixing and
resampling, chunking and shard packing, and retrieval (positional
index, TF-IDF, BM25).

Every query carries a DuckDB oracle, the hash paths included:
MinHash carries an exact-Jaccard verify and SimHash runs its portable
md5-hash mode. Arithmetic is integer, DECIMAL-routed or correctly
rounded IEEE, bucketing uses md5, and every window and LIMIT carries
an explicit tiebreak.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions import text as T
from ..operators import neardup
from ..operators.neardup import _spread
from ..operators.ranking import global_rank_with_ties, percent_rank_from_rank
from ._core import _t, query


# ---------------------------------------------------------------------------
# Text analysis
# ---------------------------------------------------------------------------

@query(
    "ext_text_stats",
    oracle="""
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
    SELECT doc_id,
      CAST(len(toks) AS BIGINT) AS n_tokens,
      CAST(len(list_distinct(toks)) AS BIGINT) AS n_distinct,
      list_reduce(list_transform(toks, s -> CAST(length(s) AS DOUBLE)), (a,b) -> a+b) / len(toks) AS avg_token_len,
      CAST(len(list_filter(toks, s -> list_contains(['the','a','of','and','to','in','is'], s))) AS DOUBLE) / len(toks) AS stopword_ratio,
      LEAST(1.0, len(toks) / 100.0) * 0.4
        + (CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks)) * 0.3
        + LEAST(1.0, (CAST(len(list_filter(toks, s -> list_contains(['the','a','of','and','to','in','is'], s))) AS DOUBLE) / len(toks)) * 5.0) * 0.3
        AS quality_score
    FROM t
    """,
)
def ext_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting + lexical-diversity + quality scoring, all via
    JVM-side higher-order functions (no UDF)."""
    docs = _t(spark, sf_dir, "documents")
    txt = F.col("text")
    return docs.select(
        "doc_id",
        T.token_count(txt).alias("n_tokens"),
        T.distinct_token_count(txt).alias("n_distinct"),
        T.avg_token_len(txt).alias("avg_token_len"),
        T.stopword_ratio(txt).alias("stopword_ratio"),
        T.quality_score(txt).alias("quality_score"),
    )


_RATIOS = T.LANGID_RATIOS_SQL


@query(
    "ext_text_langid",
    oracle=f"""
    WITH t AS (SELECT doc_id, lang, string_split(text, ' ') AS toks FROM documents),
    r AS (
      SELECT doc_id, lang,
        {_RATIOS['en']} AS r_en, {_RATIOS['es']} AS r_es,
        {_RATIOS['fr']} AS r_fr, {_RATIOS['de']} AS r_de
      FROM t
    )
    SELECT doc_id, lang,
      CASE
        WHEN r_en > 0 AND r_en = GREATEST(r_en, r_es, r_fr, r_de) THEN 'en'
        WHEN r_es > 0 AND r_es = GREATEST(r_en, r_es, r_fr, r_de) THEN 'es'
        WHEN r_fr > 0 AND r_fr = GREATEST(r_en, r_es, r_fr, r_de) THEN 'fr'
        WHEN r_de > 0 AND r_de = GREATEST(r_en, r_es, r_fr, r_de) THEN 'de'
        ELSE 'und' END AS predicted_lang
    FROM r
    """,
)
def ext_text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-overlap language ID next to the labeled lang column."""
    docs = _t(spark, sf_dir, "documents")
    return docs.select("doc_id", "lang", T.langid(F.col("text")).alias("predicted_lang"))


@query(
    "ext_text_fingerprint",
    oracle="""
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
    SELECT doc_id,
      list_reduce(
        list_concat([CAST(0 AS BIGINT)],
          list_transform(toks, s ->
            (CAST(length(s) AS BIGINT) * 31 + ascii(s[1]) * 7 + ascii(s[-1])) % 2147483647)),
        (acc, w) -> (acc * 1000003 + w) % 2147483647
      ) AS fingerprint
    FROM t
    """,
)
def ext_text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-sensitive rolling-hash document fingerprint (engine-
    portable integer arithmetic, no native hash function)."""
    docs = _t(spark, sf_dir, "documents")
    return docs.select("doc_id", T.token_fingerprint(F.col("text")).alias("fingerprint"))


# ---------------------------------------------------------------------------
# Deduplication family
# ---------------------------------------------------------------------------

@query(
    "ext_dedup_exact",
    oracle="""
    SELECT doc_id,
      MIN(doc_id) OVER (PARTITION BY text) AS canonical_doc_id,
      doc_id != MIN(doc_id) OVER (PARTITION BY text) AS is_duplicate
    FROM documents
    """,
)
def ext_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-content dedup mapping: every doc → canonical (min id)
    representative of its identical-text group."""
    docs = _t(spark, sf_dir, "documents")
    w = Window.partitionBy("text")
    canonical = F.min("doc_id").over(w)
    return docs.select(
        "doc_id",
        canonical.alias("canonical_doc_id"),
        (F.col("doc_id") != canonical).alias("is_duplicate"),
    )


@query(
    "ext_corpus_curation",
    oracle="""
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
    s AS (
      SELECT doc_id, len(toks) AS n,
        LEAST(1.0, len(toks) / 100.0) * 0.4
          + (CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks)) * 0.3
          + LEAST(1.0, (CAST(len(list_filter(toks, x -> list_contains(['the','a','of','and','to','in','is'], x))) AS DOUBLE) / len(toks)) * 5.0) * 0.3
          AS q
      FROM t
    )
    SELECT doc_id,
      CASE WHEN n < 25 THEN 'too_short'
           WHEN q < 0.5 THEN 'low_quality' END AS drop_reason,
      n < 25 OR q < 0.5 AS dropped
    FROM s
    """,
)
def ext_corpus_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curation filter ladder with reasons — the keep/drop decision
    pass of a training-data pipeline, composed from the token-count
    and quality-score primitives. First failing rule names the drop
    reason; the reason column makes filter-rate dashboards and ablation
    audits one groupBy away."""
    docs = _t(spark, sf_dir, "documents")
    n = T.token_count(F.col("text"))
    q = T.quality_score(F.col("text"))
    reason = (
        F.when(n < 25, "too_short")
        .when(q < 0.5, "low_quality")
    )
    return docs.select(
        "doc_id",
        reason.alias("drop_reason"),
        ((n < 25) | (q < 0.5)).alias("dropped"),
    )


@query(
    "ext_text_length_quantiles",
    oracle="""
    WITH t AS (
      SELECT lang, len(string_split(text, ' ')) AS n, length(text) AS chars
      FROM documents
    )
    SELECT lang, COUNT(*) AS n_docs,
      quantile_cont(n, 0.25) AS p25_tokens,
      quantile_cont(n, 0.5) AS p50_tokens,
      quantile_cont(n, 0.75) AS p75_tokens,
      quantile_cont(n, 0.99) AS p99_tokens,
      AVG(chars) AS avg_chars
    FROM t GROUP BY lang ORDER BY lang
    """,
)
def ext_text_length_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language document-length profile: exact interpolated token
    quantiles + mean char length — the distribution pass behind
    length-based corpus filtering. Spark's ``percentile`` and DuckDB's
    ``quantile_cont`` share the linear-interpolation definition, so
    the comparison is bit-exact."""
    docs = _t(spark, sf_dir, "documents")
    stats = docs.select(
        "lang",
        T.token_count(F.col("text")).alias("n"),
        F.length("text").alias("chars"),
    )
    return (
        stats.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.expr("percentile(n, 0.25)").alias("p25_tokens"),
            F.expr("percentile(n, 0.5)").alias("p50_tokens"),
            F.expr("percentile(n, 0.75)").alias("p75_tokens"),
            F.expr("percentile(n, 0.99)").alias("p99_tokens"),
            F.avg("chars").alias("avg_chars"),
        )
        .orderBy("lang")
    )


@query(
    "ext_dedup_normalized",
    oracle="""
    WITH canon AS (
      SELECT doc_id,
        trim(regexp_replace(
          regexp_replace(lower(text), '[^a-z0-9 \t\n\r]', '', 'g'),
          '[ \t\n\r]+', ' ', 'g')) AS norm
      FROM documents
    )
    SELECT doc_id,
      MIN(doc_id) OVER (PARTITION BY norm) AS canonical_doc_id,
      doc_id != MIN(doc_id) OVER (PARTITION BY norm) AS is_duplicate
    FROM canon
    """,
)
def ext_dedup_normalized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Normalized-exact dedup: canonical-id mapping over
    case/punctuation/whitespace-normalized text — the cheap tier
    between byte-exact and MinHash in a dedup ladder (one window,
    no pairs)."""
    docs = _t(spark, sf_dir, "documents")
    norm = T.normalized_text(F.col("text"))
    w = Window.partitionBy(norm)
    canonical = F.min("doc_id").over(w)
    return docs.select(
        "doc_id",
        canonical.alias("canonical_doc_id"),
        (F.col("doc_id") != canonical).alias("is_duplicate"),
    )


@query(
    "ext_text_vocab",
    oracle="""
    WITH toks AS (
      SELECT doc_id, unnest(string_split_regex(text, '\\s+')) AS token
      FROM documents
    )
    SELECT token, COUNT(*) AS term_freq,
      COUNT(DISTINCT doc_id) AS doc_freq
    FROM toks WHERE token != ''
    GROUP BY token
    ORDER BY term_freq DESC, token
    LIMIT 100
    """,
)
def ext_text_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary: top-100 tokens by term frequency with
    document frequency — the counting pass behind BPE-style vocab
    builds and TF-IDF stats. Explode → one partial+final agg →
    TakeOrderedAndProject; tiebroken for determinism."""
    docs = _t(spark, sf_dir, "documents")
    return (
        docs.select(
            "doc_id", F.explode(T.tokens(F.col("text"))).alias("token")
        )
        .filter(F.col("token") != "")
        .groupBy("token")
        .agg(
            F.count(F.lit(1)).alias("term_freq"),
            F.countDistinct("doc_id").alias("doc_freq"),
        )
        .orderBy(F.col("term_freq").desc(), "token")
        .limit(100)
    )


@query(
    "ext_text_tfidf",
    oracle="""
    WITH toks AS (
      SELECT doc_id, unnest(string_split_regex(text, '\\s+')) AS token
      FROM documents
    ), tf AS (
      SELECT doc_id, token, COUNT(*) AS tf FROM toks WHERE token != ''
      GROUP BY 1, 2
    ), df AS (
      SELECT token, COUNT(*) AS df FROM tf GROUP BY 1
    ), n AS (SELECT COUNT(*) AS n FROM documents),
    scored AS (
      SELECT tf.doc_id, tf.token, tf.tf, df.df,
        FLOOR((tf.tf * (ln((CAST(n.n AS DOUBLE) + 1.0) / (CAST(df.df AS DOUBLE) + 1.0)) + 1.0)) * 1000000 + 0.5) / 1000000 AS tfidf
      FROM tf JOIN df USING (token) CROSS JOIN n
    )
    SELECT doc_id, token, tf, df, tfidf FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
                ORDER BY tfidf DESC, token) AS rn
      FROM scored
    ) WHERE rn <= 5
    """,
)
def ext_text_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 TF-IDF terms per document (smoothed idf
    ``ln((N+1)/(df+1)) + 1``): explode → two key-partitioned aggs →
    broadcast of the 1-row corpus count (a plan-side cross join, not a
    driver collect) → windowed top-k per doc. ``ln`` differs by 1 ULP
    between Spark (fdlibm) and DuckDB (libm) on some inputs, so scores
    floor-round at 6 dp in BOTH engines before the hash compare and
    before top-k ordering (ties then break on the token)."""
    from ..functions.math import roundn

    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.explode(T.tokens(F.col("text"))).alias("token")
    ).filter(F.col("token") != "")
    tf = toks.groupBy("doc_id", "token").agg(F.count(F.lit(1)).alias("tf"))
    df_ = tf.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    n = docs.agg(F.count(F.lit(1)).alias("n"))
    idf = F.log((F.col("n").cast("double") + 1.0) / (F.col("df").cast("double") + 1.0)) + 1.0
    scored = (
        tf.join(df_, "token")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "token",
            "tf",
            "df",
            roundn(F.col("tf") * idf, 6).alias("tfidf"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("tfidf").desc(), "token")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .drop("rn")
    )


@query(
    "ext_text_repetition",
    oracle="""
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
    b AS (
      SELECT doc_id,
        list_transform(range(1, len(toks)), i -> concat_ws(' ', toks[i], toks[i+1])) AS bigrams
      FROM t WHERE len(toks) >= 2
    )
    SELECT doc_id,
      CAST(len(bigrams) AS BIGINT) AS n_bigrams,
      CAST(len(list_distinct(bigrams)) AS BIGINT) AS n_distinct_bigrams,
      1.0 - CAST(len(list_distinct(bigrams)) AS DOUBLE) / len(bigrams) AS repetition_ratio
    FROM b
    """,
)
def ext_text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram repetition ratio (1 − distinct/total bigrams) — the
    duplicate-n-gram quality signal from published LLM-corpus filters
    (Gopher-style repetition rules): high values flag boilerplate and
    degenerate repetition that unigram stats miss. Pure higher-order
    functions, one scan, no explode shuffle."""
    docs = _t(spark, sf_dir, "documents")
    bigrams = T.shingles(F.col("text"), 2)
    n = F.size(bigrams).cast("long")
    nd = F.size(F.array_distinct(bigrams)).cast("long")
    return (
        docs.filter(F.size(T.tokens(F.col("text"))) >= 2)
        .select(
            "doc_id",
            n.alias("n_bigrams"),
            nd.alias("n_distinct_bigrams"),
            (1.0 - nd.cast("double") / n).alias("repetition_ratio"),
        )
    )


@query(
    "ext_decontamination",
    oracle="""
    WITH split AS (
      SELECT doc_id, text,
        CASE WHEN CAST(('0x' || substring(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100 < 90
             THEN 'train' ELSE 'test' END AS split
      FROM documents
    ), toks AS (SELECT doc_id, split, string_split(text, ' ') AS t FROM split),
    sh AS (
      SELECT DISTINCT doc_id, split,
        unnest(list_transform(range(1, len(t)-1), i -> concat_ws(' ', t[i], t[i+1], t[i+2]))) AS s
      FROM toks WHERE len(t) >= 3
    ),
    test_sh AS (SELECT DISTINCT s FROM sh WHERE split = 'test'),
    train_sh AS (SELECT doc_id, s FROM sh WHERE split = 'train'),
    hits AS (
      SELECT doc_id, COUNT(*) AS n_contaminated
      FROM train_sh WHERE s IN (SELECT s FROM test_sh) GROUP BY 1
    ),
    totals AS (SELECT doc_id, COUNT(*) AS n_shingles FROM train_sh GROUP BY 1)
    SELECT t.doc_id, t.n_shingles,
      COALESCE(h.n_contaminated, 0) AS n_contaminated,
      CAST(COALESCE(h.n_contaminated, 0) AS DOUBLE) / t.n_shingles AS contamination_ratio,
      CAST(COALESCE(h.n_contaminated, 0) AS DOUBLE) / t.n_shingles >= 0.5 AS is_contaminated
    FROM totals t LEFT JOIN hits h ON t.doc_id = h.doc_id
    """,
)
def ext_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: per TRAIN doc, the fraction of its
    distinct 3-grams that also occur anywhere in the TEST split (the
    n-gram-overlap contamination check used before training on a
    corpus that must not leak eval data). The test-side shingle set is
    bounded by the benchmark size, so the membership probe is a
    broadcast LEFT SEMI join against the fact-side shingles — no
    all-pairs comparison, one shuffle for the per-doc counts."""
    docs = _t(spark, sf_dir, "documents")
    bucket = (
        F.conv(F.substring(F.md5(F.concat(F.lit("split:"), F.col("doc_id").cast("string"))), 1, 8), 16, 10)
        .cast("long")
        % 100
    )
    tagged = docs.select(
        "doc_id",
        F.when(bucket < 90, "train").otherwise("test").alias("split"),
        T.shingles(F.col("text"), 3).alias("sh"),
    ).filter(F.size("sh") > 0)
    exploded = tagged.select(
        "doc_id", "split", F.explode(F.array_distinct("sh")).alias("s")
    )
    train_sh = exploded.filter(F.col("split") == "train").select("doc_id", "s")
    test_sh = exploded.filter(F.col("split") == "test").select("s").distinct()
    hits = (
        train_sh.join(F.broadcast(test_sh), "s", "left_semi")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_contaminated"))
    )
    totals = train_sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_shingles"))
    ratio = F.coalesce(F.col("n_contaminated"), F.lit(0)).cast("double") / F.col(
        "n_shingles"
    )
    return (
        totals.join(hits, "doc_id", "left")
        .select(
            "doc_id",
            "n_shingles",
            F.coalesce(F.col("n_contaminated"), F.lit(0)).cast("long").alias(
                "n_contaminated"
            ),
            ratio.alias("contamination_ratio"),
            (ratio >= 0.5).alias("is_contaminated"),
        )
    )


@query(
    "ext_text_unk_replace",
    oracle="""
    WITH toks AS (
      SELECT doc_id, unnest(string_split_regex(text, '\\s+')) AS token
      FROM documents
    ), freq AS (
      SELECT token, COUNT(*) AS tf FROM toks WHERE token != '' GROUP BY 1
    ), top AS (
      SELECT list(token) AS lst FROM (
        SELECT token FROM freq ORDER BY tf DESC, token LIMIT 10
      )
    )
    SELECT doc_id,
      array_to_string(
        list_transform(string_split_regex(text, '\\s+'),
          t -> CASE WHEN list_contains(top.lst, t) THEN t ELSE '<unk>' END),
        ' ') AS unk_text,
      CAST(len(list_filter(string_split_regex(text, '\\s+'),
        t -> NOT list_contains(top.lst, t))) AS BIGINT) AS n_replaced
    FROM documents CROSS JOIN top
    """,
)
def ext_text_unk_replace(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary truncation: rebuild every document with
    out-of-vocabulary tokens (outside the corpus top-10 by term
    frequency) replaced by ``<unk>`` — the closed-vocab preprocessing
    pass of classic LM training. Two aggregation passes (term counts →
    top-k) and a broadcast of the bounded vocabulary into a
    higher-order rewrite; the document rewrite itself is one map
    stage, no explode."""
    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(F.explode(T.tokens(F.col("text"))).alias("token")).filter(
        F.col("token") != ""
    )
    top = (
        toks.groupBy("token")
        .agg(F.count(F.lit(1)).alias("tf"))
        .orderBy(F.col("tf").desc(), "token")
        .limit(10)
        .agg(F.collect_list("token").alias("lst"))
    )
    with_vocab = docs.crossJoin(F.broadcast(top))
    tcol = T.tokens(F.col("text"))
    rewritten = F.transform(
        tcol,
        lambda t: F.when(F.array_contains(F.col("lst"), t), t).otherwise(
            F.lit("<unk>")
        ),
    )
    n_replaced = F.size(
        F.filter(tcol, lambda t: ~F.array_contains(F.col("lst"), t))
    ).cast("long")
    return with_vocab.select(
        "doc_id",
        F.concat_ws(" ", rewritten).alias("unk_text"),
        n_replaced.alias("n_replaced"),
    )


@query(
    "ext_shard_packing",
    oracle="""
    WITH t AS (
      SELECT doc_id, lang,
        CAST(len(string_split_regex(text, '\\s+')) AS BIGINT) AS n_tokens
      FROM documents
    ), c AS (
      SELECT doc_id, lang, n_tokens,
        SUM(n_tokens) OVER (PARTITION BY lang
          ORDER BY md5('shard:' || CAST(doc_id AS VARCHAR)), doc_id
          ROWS UNBOUNDED PRECEDING) AS cum
      FROM t
    )
    SELECT doc_id, lang, n_tokens,
      CAST((cum - n_tokens) // 2000 AS BIGINT) AS shard_id
    FROM c
    """,
)
def ext_shard_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-shard packing: assign documents to ~2000-token shards
    per language, deterministically (docs ordered by salted MD5 —
    a stable pseudo-shuffle — then packed by cumulative token count).
    Partitioned by lang so the running sum shuffles once on the
    partition key; at scale the same pattern runs per date/bucket
    partition, keeping every window bounded. Pure integer arithmetic,
    bit-exact across engines."""
    docs = _t(spark, sf_dir, "documents")
    t = docs.select(
        "doc_id",
        "lang",
        T.token_count(F.col("text")).alias("n_tokens"),
    )
    order_key = F.md5(F.concat(F.lit("shard:"), F.col("doc_id").cast("string")))
    w = (
        Window.partitionBy("lang")
        .orderBy(order_key, "doc_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = F.sum("n_tokens").over(w)
    return t.select(
        "doc_id",
        "lang",
        "n_tokens",
        F.floor((cum - F.col("n_tokens")) / 2000).cast("long").alias("shard_id"),
    )


@query(
    "ext_sketch_profile",
    oracle="""
    SELECT lang,
      CAST(COUNT(*) AS BIGINT) AS n_docs,
      MIN(n_chars) AS chars_min,
      MAX(n_chars) AS chars_max,
      quantile_cont(n_chars, 0.5) AS chars_p50,
      quantile_cont(n_chars, 0.95) AS chars_p95,
      TRUE AS hll_texts_ok,
      TRUE AS hll_sources_ok,
      TRUE AS kll_p50_ok,
      TRUE AS kll_p95_ok
    FROM documents GROUP BY lang
    """,
)
def ext_sketch_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-based corpus profile per language: HyperLogLog++ distinct
    counts (``approx_count_distinct``) and KLL-style quantiles
    (``approx_percentile``) — the mergeable-sketch scale path for
    profiling 100 TB where exact distinct/percentile would shuffle
    every value.

    Sketch outputs are implementation-defined, so the checkable
    contract is: exact aggregates (count/min/max and ``percentile``,
    proven bit-equal to DuckDB ``quantile_cont``) plus ``*_ok``
    booleans asserting each sketch landed within its configured error
    of the exact answer, computed side-by-side in the same
    aggregation. The oracle expects every ``*_ok`` to be TRUE. (The
    exact columns double as the verification harness; a pure-scale
    profiling run would keep only the sketch columns.) Tighter rank
    bounds are asserted in tests/test_sketches.py."""
    docs = _t(spark, sf_dir, "documents")
    agg = docs.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.min("n_chars").alias("chars_min"),
        F.max("n_chars").alias("chars_max"),
        F.expr("percentile(n_chars, 0.5)").alias("chars_p50"),
        F.expr("percentile(n_chars, 0.95)").alias("chars_p95"),
        F.countDistinct("text").alias("_exact_texts"),
        F.countDistinct("source").alias("_exact_sources"),
        F.approx_count_distinct("text", 0.02).alias("_hll_texts"),
        F.approx_count_distinct("source", 0.02).alias("_hll_sources"),
        F.expr("approx_percentile(n_chars, 0.5, 5000)").alias("_kll_p50"),
        F.expr("approx_percentile(n_chars, 0.95, 5000)").alias("_kll_p95"),
        # Rank-slack windows for the approx percentiles (generous vs
        # the n/5000 guarantee so coarse tiny groups can't flake).
        F.expr("percentile(n_chars, 0.48)").alias("_p50_lo"),
        F.expr("percentile(n_chars, 0.52)").alias("_p50_hi"),
        F.expr("percentile(n_chars, 0.93)").alias("_p95_lo"),
        F.expr("percentile(n_chars, 0.97)").alias("_p95_hi"),
    )

    def _rel_ok(approx: F.Column, exact: F.Column) -> F.Column:
        # rsd=0.02 → 10% is a ~5-sigma bound; ±2 absolute for tiny groups
        return F.abs(approx - exact) <= F.greatest(F.lit(2.0), exact * 0.10)

    return agg.select(
        "lang",
        "n_docs",
        "chars_min",
        "chars_max",
        "chars_p50",
        "chars_p95",
        _rel_ok(F.col("_hll_texts"), F.col("_exact_texts")).alias("hll_texts_ok"),
        _rel_ok(F.col("_hll_sources"), F.col("_exact_sources")).alias(
            "hll_sources_ok"
        ),
        F.col("_kll_p50").between(F.col("_p50_lo"), F.col("_p50_hi")).alias(
            "kll_p50_ok"
        ),
        F.col("_kll_p95").between(F.col("_p95_lo"), F.col("_p95_hi")).alias(
            "kll_p95_ok"
        ),
    )


@query(
    "ext_dedup_ngram_jaccard",
    # The shingle CTE is the CAPPED twin (operators/neardup.py
    # ORACLE_SH_CAPPED): stop-shingles above max(32, min(0.5% of corpus, 4096))
    # document frequency are removed from the sets in BOTH engines —
    # identity at fixture scale (floor 32 vs max observed df 25),
    # quadratic-blowup guard at probe scale and beyond.
    oracle=f"""
    WITH {neardup.ORACLE_SH_CAPPED},
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1),
    shared AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_shared
      FROM sh a JOIN sh b USING (s) WHERE a.doc_id < b.doc_id GROUP BY 1, 2
    )
    SELECT doc_a, doc_b, n_shared,
      sa.n AS n_a, sb.n AS n_b,
      CAST(n_shared AS DOUBLE) / (sa.n + sb.n - n_shared) AS jaccard
    FROM shared
    JOIN sizes sa ON doc_a = sa.doc_id
    JOIN sizes sb ON doc_b = sb.doc_id
    WHERE CAST(n_shared AS DOUBLE) / (sa.n + sb.n - n_shared) >= 0.5
    """,
)
def ext_dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact all-pairs 3-gram Jaccard near-dup pairs (≥ 0.5) via
    shared-shingle join — the ground truth the LSH variants
    approximate. Jaccard is over INFORMATIVE shingles: the default
    stop-shingle cap (df ≤ max(32, min(0.5% of corpus, 4096)), mirrored
    in the oracle) keeps the self-join linear-ish on boilerplate-dense
    corpora where uncapped candidates grow quadratically."""
    docs = _t(spark, sf_dir, "documents")
    return neardup.ngram_jaccard_pairs(docs, threshold=0.5)


@query(
    "ext_dedup_minhash_lsh",
    oracle="""
    WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
    sh AS (
      SELECT DISTINCT doc_id,
        unnest(list_transform(range(1, len(t)-1), i -> concat_ws(' ', t[i], t[i+1], t[i+2]))) AS s
      FROM toks WHERE len(t) >= 3
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1),
    shared AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_shared
      FROM sh a JOIN sh b USING (s) WHERE a.doc_id < b.doc_id GROUP BY 1, 2
    )
    SELECT doc_a, doc_b,
      CAST(n_shared AS DOUBLE) / (sa.n + sb.n - n_shared) AS jaccard
    FROM shared
    JOIN sizes sa ON doc_a = sa.doc_id
    JOIN sizes sb ON doc_b = sb.doc_id
    WHERE CAST(n_shared AS DOUBLE) / (sa.n + sb.n - n_shared) >= 0.5
    """,
)
def ext_dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash(64 perms) + 32-band LSH candidates, exact-Jaccard
    verified ≥ 0.5. The verify stage removes all false positives, so
    the output equals the exact all-pairs result minus LSH misses;
    with 2-row bands the miss probability at j = 0.5 is
    (1 - 0.25)^32 ≈ 1e-4 per pair and the fixture's documents table
    is fixed at 500 rows with deterministic hashes, so the exact
    oracle holds (recall is additionally property-tested in
    tests/test_neardup.py)."""
    docs = _t(spark, sf_dir, "documents")
    return neardup.minhash_lsh_pairs(
        docs, num_perm=64, bands=32, threshold=0.5
    )


@query(
    "ext_dedup_clusters",
    # Capped shingle CTE — see ext_dedup_ngram_jaccard's note.
    oracle=f"""
    WITH RECURSIVE {neardup.ORACLE_SH_CAPPED},
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1),
    shared AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_shared
      FROM sh a JOIN sh b USING (s) WHERE a.doc_id < b.doc_id GROUP BY 1, 2
    ),
    pairs AS (
      SELECT doc_a, doc_b FROM shared
      JOIN sizes sa ON doc_a = sa.doc_id
      JOIN sizes sb ON doc_b = sb.doc_id
      WHERE CAST(n_shared AS DOUBLE) / (sa.n + sb.n - n_shared) >= 0.2
    ),
    und AS (SELECT doc_a AS a, doc_b AS b FROM pairs
            UNION SELECT doc_b, doc_a FROM pairs),
    walk(node, reach) AS (
      SELECT a, a FROM und
      UNION
      SELECT w.node, u.b FROM walk w JOIN und u ON w.reach = u.a
    ),
    comp AS (SELECT node, MIN(reach) AS component FROM walk GROUP BY node)
    SELECT d.doc_id,
      COALESCE(c.component, d.doc_id) AS cluster_id,
      COALESCE(c.component, d.doc_id) = d.doc_id AS is_canonical
    FROM documents d LEFT JOIN comp c ON d.doc_id = c.node
    """,
)
def ext_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup *clustering*: exact 3-gram-Jaccard pairs (≥ 0.2,
    default stop-shingle cap — the uncapped pair join measured 1389s
    at the sf1 probe vs ~5s at sf0.1, 99.8% of its 6.0e9 candidate
    rows from boilerplate shingles) → connected components
    (operators/cluster.py, min-label propagation with pointer
    jumping) → every doc mapped to its cluster's minimum id,
    singletons to themselves, one canonical keeper per cluster.
    Transitive closure is the step pair-listing misses: A≈B≈C collapses
    to one group even when A and C are not directly similar. Oracle is
    a DuckDB recursive-CTE transitive closure over the same capped
    pairs."""
    from ..operators.cluster import dedup_clusters

    docs = _t(spark, sf_dir, "documents")
    # the pair relation is consumed TWICE by the component step (the
    # symmetrizing union references it in both branches) — the pair
    # generator's eager checkpoint runs the capped-shingle joins once
    # instead of twice, and releases the shingle-group cache before
    # the join-heavy CC stage (r10: 6.8s → 4.4s at sf0.1 together
    # with the bounded union-find fast path)
    pairs = neardup.ngram_jaccard_pairs(docs, threshold=0.2).select(
        "doc_a", "doc_b"
    )
    return dedup_clusters(
        docs.select("doc_id"), pairs, id_col="doc_id"
    ).select("doc_id", "cluster_id", "is_canonical")


@query(
    "ext_dedup_simhash",
    # Mirrors the portable (md5-token-hash, 60-bit) SimHash pipeline
    # exactly: per-token 60-bit hash → ±1 bit votes → sign fingerprint
    # → 4×15-bit band join → bit_count(xor) Hamming verify.
    oracle="""
    WITH toks AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
    ),
    hashed AS (
      SELECT doc_id,
        CAST(('0x' || substring(md5(tok), 1, 15)) AS BIGINT) AS h
      FROM toks
    ),
    bitvals AS (
      SELECT doc_id, j,
        CASE WHEN SUM(CASE WHEN (h >> j) & 1 = 1 THEN 1 ELSE -1 END) > 0
             THEN CAST(1 AS BIGINT) << j ELSE CAST(0 AS BIGINT) END AS bitval
      FROM hashed CROSS JOIN (SELECT unnest(range(0, 60)) AS j) bit_positions
      GROUP BY doc_id, j
    ),
    fp AS (
      SELECT doc_id, CAST(SUM(bitval) AS BIGINT) AS simhash
      FROM bitvals GROUP BY doc_id
    ),
    buckets AS (
      SELECT doc_id, simhash, b, (simhash >> (b * 15)) & 32767 AS bucket
      FROM fp CROSS JOIN (SELECT unnest(range(0, 4)) AS b) band_ids
    ),
    cand AS (
      SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b,
             l.simhash AS sh_a, r.simhash AS sh_b
      FROM buckets l JOIN buckets r
        ON l.b = r.b AND l.bucket = r.bucket AND l.doc_id < r.doc_id
    )
    SELECT doc_a, doc_b,
           CAST(bit_count(xor(sh_a, sh_b)) AS INT) AS hamming
    FROM cand
    WHERE bit_count(xor(sh_a, sh_b)) <= 8
    """,
)
def ext_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash-banded near-dup pairs with exact Hamming verify, in the
    portable 60-bit md5-hash mode so the full pipeline (votes, sign
    fingerprint, banding, Hamming) is bit-reproducible in DuckDB. The
    xxhash64 fast path stays the operator default and is covered by
    tests/test_neardup.py."""
    docs = _t(spark, sf_dir, "documents")
    return neardup.simhash_pairs(
        docs, max_hamming=8, bands=4, bits=60, portable=True
    )


# ---------------------------------------------------------------------------
# Duplicate-span coverage (Gopher-style memorization-risk signal)
# ---------------------------------------------------------------------------

_SHINGLE8 = (
    "list_transform(range(1, len(t)-6), i -> concat_ws(' ', "
    "t[i], t[i+1], t[i+2], t[i+3], t[i+4], t[i+5], t[i+6], t[i+7]))"
)


@query(
    "ext_dup_span_coverage",
    oracle=f"""
    WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
    sh AS (
      SELECT DISTINCT doc_id, unnest({_SHINGLE8}) AS s
      FROM toks WHERE len(t) >= 8
    ),
    freq AS (SELECT s, COUNT(*) AS df FROM sh GROUP BY 1)
    SELECT doc_id,
      COUNT(*) AS n_spans,
      CAST(SUM(CASE WHEN df >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_spans,
      CAST(SUM(CASE WHEN df >= 2 THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*) AS dup_ratio
    FROM sh JOIN freq USING (s)
    GROUP BY 1
    """,
)
def ext_dup_span_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document duplicated-span coverage: the fraction of a doc's
    distinct 8-gram spans that also occur in at least one other doc —
    the span-level memorization-risk metric behind substring-level
    dedup (Lee et al., "Deduplicating Training Data Makes Language
    Models Better"). Two shuffles (span df, per-doc rollup), both on
    high-cardinality keys; no all-pairs join anywhere, so it scales
    linearly with corpus size."""
    docs = _t(spark, sf_dir, "documents")
    ds = neardup._doc_shingles(docs, "doc_id", "text", 8)
    freq = ds.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
    dup = F.sum(F.when(F.col("df") >= 2, 1).otherwise(0)).cast("long")
    return (
        ds.join(freq, ["shingle"])
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_spans"),
            dup.alias("n_dup_spans"),
        )
        .select(
            "doc_id",
            "n_spans",
            "n_dup_spans",
            (F.col("n_dup_spans").cast("double") / F.col("n_spans")).alias(
                "dup_ratio"
            ),
        )
    )


# ---------------------------------------------------------------------------
# Substring-dedup application (remove duplicated spans, rebuild text)
# ---------------------------------------------------------------------------

@query(
    "ext_dedup_span_cut",
    oracle="""
    WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
    post AS (
      SELECT doc_id, CAST(i AS BIGINT) AS p, t[i+1] AS tok
      FROM toks, unnest(range(0, CAST(len(t) AS BIGINT))) AS u(i)
    ),
    pos AS (
      SELECT doc_id, CAST(i AS BIGINT) AS p,
        concat_ws(' ', t[i+1], t[i+2], t[i+3], t[i+4],
                       t[i+5], t[i+6], t[i+7], t[i+8]) AS s
      FROM toks, unnest(range(0, CAST(len(t) - 7 AS BIGINT))) AS u(i)
      WHERE len(t) >= 8
    ),
    sh AS (SELECT DISTINCT doc_id, s FROM pos),
    freq AS (SELECT s, COUNT(*) AS df FROM sh GROUP BY 1),
    dup AS (SELECT doc_id, p FROM pos JOIN freq USING (s) WHERE df >= 2),
    cov AS (
      SELECT DISTINCT doc_id, p + CAST(j AS BIGINT) AS q
      FROM dup, unnest(range(0, 8)) AS v(j)
    ),
    kept AS (
      SELECT pt.doc_id, pt.p, pt.tok
      FROM post pt ANTI JOIN cov c ON pt.doc_id = c.doc_id AND pt.p = c.q
    ),
    agg AS (
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_kept,
             string_agg(tok, ' ' ORDER BY p) AS cleaned
      FROM kept GROUP BY 1
    )
    SELECT d.doc_id,
      CAST(len(string_split(d.text, ' ')) AS BIGINT) AS n_tokens,
      CAST(len(string_split(d.text, ' ')) - COALESCE(a.n_kept, 0) AS BIGINT)
        AS n_removed,
      COALESCE(a.cleaned, '') AS cleaned_text
    FROM documents d LEFT JOIN agg a USING (doc_id)
    """,
)
def ext_dedup_span_cut(spark: SparkSession, sf_dir: str) -> DataFrame:
    """APPLY the substring-dedup cut — the step after
    ext_dup_span_islands in the Lee et al. pipeline: every token
    position covered by any cross-document duplicated 8-gram span
    ([p, p+7] for each duplicated occurrence p) is removed, and the
    surviving tokens are reassembled in order into the cleaned text.
    Emits per doc the original token count, removed-token count, and
    the rewritten text (empty string when a doc is entirely
    duplicated material).

    Scale shape (all linear, window-free): positional shingling and
    token positions are map-side explodes; span df is one shuffle on
    the 8-gram key; coverage is a bounded 8× fan-out of duplicated
    positions; removal is an anti-join on (doc, position); reassembly
    is one groupBy(doc) with an in-group array_sort — the same
    no-global-sort reassembly as ext_dedup_lines. The covered-position
    explode is equivalent to materializing the merged islands' token
    union, so no interval-merge window is needed."""
    docs = _spread(_t(spark, sf_dir, "documents"), "doc_id")
    toks = docs.select("doc_id", "text", F.split("text", " ").alias("t"))
    post = toks.select(
        "doc_id", F.posexplode("t").alias("p", "tok")
    ).withColumn("p", F.col("p").cast("long"))
    spans = toks.filter(F.size("t") >= 8).select(
        "doc_id",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.size("t") - 8),
                lambda i: F.array_join(F.slice("t", i + 1, 8), " "),
            )
        ).alias("p", "s"),
    ).withColumn("p", F.col("p").cast("long"))
    freq = spans.select("doc_id", "s").distinct().groupBy("s").agg(
        F.count(F.lit(1)).alias("df")
    )
    dup = spans.join(
        freq.filter(F.col("df") >= 2).select("s"), ["s"], "leftsemi"
    )
    cov = dup.select(
        "doc_id",
        F.explode(F.sequence(F.col("p"), F.col("p") + 7)).alias("q"),
    ).distinct()
    kept = post.join(
        cov,
        (post["doc_id"] == cov["doc_id"]) & (post["p"] == cov["q"]),
        "left_anti",
    )
    agg = kept.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_kept"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("p", "tok"))),
                lambda x: x["tok"],
            ),
            " ",
        ).alias("cleaned"),
    )
    n_tokens = F.size(F.split(F.col("text"), " ")).cast("long")
    return (
        docs.select("doc_id", "text")
        .join(agg, ["doc_id"], "left")
        .select(
            "doc_id",
            n_tokens.alias("n_tokens"),
            (n_tokens - F.coalesce(F.col("n_kept"), F.lit(0))).cast(
                "long"
            ).alias("n_removed"),
            F.coalesce(F.col("cleaned"), F.lit("")).alias("cleaned_text"),
        )
    )


# ---------------------------------------------------------------------------
# BPE-ish subword unit counting (token-budget estimation)
# ---------------------------------------------------------------------------

# disjoint character-class alternatives ⇒ identical matching in Java
# regex (Spark) and RE2 (DuckDB): letter runs capped at 4 chars (a
# BPE-like subword unit), digit runs, any other non-space symbol
_SUBWORD_RE = r"[a-z]{1,4}|[0-9]+|[^a-z0-9\s]"


@query(
    "ext_text_subword_stats",
    oracle=rf"""
    SELECT doc_id,
      CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
      CAST(len(regexp_extract_all(text, '{_SUBWORD_RE}')) AS BIGINT) AS n_subword_units,
      CAST(len(regexp_extract_all(text, '{_SUBWORD_RE}')) AS DOUBLE)
        / len(string_split(text, ' ')) AS units_per_word,
      CAST(n_chars AS DOUBLE)
        / len(regexp_extract_all(text, '{_SUBWORD_RE}')) AS chars_per_unit
    FROM documents
    """,
)
def ext_text_subword_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget estimation with a BPE-ish subword proxy: letter
    runs capped at 4 chars + digit runs + symbols. ``units_per_word``
    and ``chars_per_unit`` are the fertility / compression stats used
    to size training shards and context windows before running a real
    tokenizer. Map-side only (regexp_count per row, no shuffle)."""
    docs = _t(spark, sf_dir, "documents")
    units = F.regexp_count(F.col("text"), F.lit(_SUBWORD_RE)).cast("long")
    words = F.size(F.split(F.col("text"), " ")).cast("long")
    return docs.select(
        "doc_id",
        words.alias("n_words"),
        units.alias("n_subword_units"),
        (units.cast("double") / words).alias("units_per_word"),
        (F.col("n_chars").cast("double") / units).alias("chars_per_unit"),
    )


# ---------------------------------------------------------------------------
# Quality-aware cluster retention (dedup keeps the BEST doc, not the min-id)
# ---------------------------------------------------------------------------

# Shingle CTE is the capped twin (operators/neardup.py
# ORACLE_SH_CAPPED) — mirrors the generators' default stop-shingle
# cap so the pair relation matches ngram_jaccard_pairs at any scale.
_CC_PAIRS_02 = f"""
    {neardup.ORACLE_SH_CAPPED},
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1),
    shared AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_shared
      FROM sh a JOIN sh b USING (s) WHERE a.doc_id < b.doc_id GROUP BY 1, 2
    ),
    pairs AS (
      SELECT doc_a, doc_b FROM shared
      JOIN sizes sa ON doc_a = sa.doc_id
      JOIN sizes sb ON doc_b = sb.doc_id
      WHERE CAST(n_shared AS DOUBLE) / (sa.n + sb.n - n_shared) >= 0.2
    ),
    und AS (SELECT doc_a AS a, doc_b AS b FROM pairs
            UNION SELECT doc_b, doc_a FROM pairs),
    walk(node, reach) AS (
      SELECT a, a FROM und
      UNION
      SELECT w.node, u.b FROM walk w JOIN und u ON w.reach = u.a
    ),
    comp AS (SELECT node, MIN(reach) AS component FROM walk GROUP BY node)
"""


@query(
    "ext_dedup_keep_best",
    oracle=f"""
    WITH RECURSIVE {_CC_PAIRS_02},
    assigned AS (
      SELECT d.doc_id, d.n_chars,
             COALESCE(c.component, d.doc_id) AS cluster_id
      FROM documents d LEFT JOIN comp c ON d.doc_id = c.node
    )
    SELECT doc_id, cluster_id,
      ROW_NUMBER() OVER (PARTITION BY cluster_id
                         ORDER BY n_chars DESC, doc_id) = 1 AS is_kept
    FROM assigned
    """,
)
def ext_dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware dedup retention: near-dup clusters (3-gram
    Jaccard ≥ 0.2 → connected components) keep their LONGEST member
    (n_chars desc, doc_id tiebreak) instead of the arbitrary min-id —
    the retention policy real curation pipelines use (keep the most
    complete variant, drop truncations). One extra window over the
    cluster key on top of ext_dedup_clusters."""
    from ..operators.cluster import dedup_clusters

    docs = _t(spark, sf_dir, "documents")
    # same shape as ext_dedup_clusters: the component step consumes
    # the pair relation TWICE (both branches of the symmetrizing
    # union), so the pair generator's eager checkpoint runs the
    # capped-shingle joins once instead of twice and releases the
    # shingle-group cache before the join-heavy CC stage (sf1 probe:
    # keep_best ran 5.9x at 10x data with the chain re-evaluated;
    # clusters holds ~4x with it materialized)
    pairs = neardup.ngram_jaccard_pairs(docs, threshold=0.2).select(
        "doc_a", "doc_b"
    )
    clustered = dedup_clusters(
        docs.select("doc_id", "n_chars"), pairs, id_col="doc_id"
    )
    w = Window.partitionBy("cluster_id").orderBy(
        F.col("n_chars").desc(), "doc_id"
    )
    return clustered.select(
        "doc_id", "cluster_id", (F.row_number().over(w) == 1).alias("is_kept")
    )


# ---------------------------------------------------------------------------
# Exact prefix-filter set-similarity join (PPJoin candidate rule)
# ---------------------------------------------------------------------------

@query(
    "ext_dedup_prefix_filter",
    # Capped shingle CTE (operators/neardup.py ORACLE_SH_CAPPED):
    # prefix filtering is exact over whatever sets it is given, and
    # the sets both engines see are the capped ones.
    oracle=f"""
    WITH {neardup.ORACLE_SH_CAPPED},
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1),
    shared AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_shared
      FROM sh a JOIN sh b USING (s) WHERE a.doc_id < b.doc_id GROUP BY 1, 2
    )
    SELECT doc_a, doc_b, n_shared,
      sa.n AS n_a, sb.n AS n_b,
      CAST(n_shared AS DOUBLE) / (sa.n + sb.n - n_shared) AS jaccard
    FROM shared
    JOIN sizes sa ON doc_a = sa.doc_id
    JOIN sizes sb ON doc_b = sb.doc_id
    WHERE CAST(n_shared AS DOUBLE) / (sa.n + sb.n - n_shared) >= 0.5
    """,
)
def ext_dedup_prefix_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 3-gram Jaccard ≥ 0.5 via prefix filtering — same answer
    as the all-pairs shingle join (the oracle IS the all-pairs SQL:
    prefix filtering has no false negatives, exact verify kills false
    positives) with a quadratically smaller candidate join at scale.
    See operators/neardup.prefix_filter_jaccard_pairs."""
    docs = _t(spark, sf_dir, "documents")
    return neardup.prefix_filter_jaccard_pairs(docs, threshold=0.5)


# ---------------------------------------------------------------------------
# Global-percentile quality banding (two-pass broadcast-back filter)
# ---------------------------------------------------------------------------

_Q_TOKS = "string_split(text, ' ')"


_Q_SCORE = (
    "LEAST(1.0, len(toks) / 100.0) * 0.4"
    " + (CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks)) * 0.3"
    " + LEAST(1.0, (CAST(len(list_filter(toks, s ->"
    " list_contains(['the','a','of','and','to','in','is'], s))) AS DOUBLE)"
    " / len(toks)) * 5.0) * 0.3"
)


@query(
    "ext_quality_band_filter",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, {_Q_SCORE} AS quality_score
      FROM (SELECT doc_id, {_Q_TOKS} AS toks FROM documents)
    ),
    b AS (
      SELECT quantile_cont(quality_score, 0.05) AS q_lo,
             quantile_cont(quality_score, 0.95) AS q_hi
      FROM t
    )
    SELECT doc_id, quality_score, q_lo, q_hi
    FROM t, b
    WHERE quality_score >= q_lo AND quality_score <= q_hi
    """,
)
def ext_quality_band_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Percentile-band quality filter: drop the bottom and top 5% of
    the corpus by quality score (junk below, boilerplate/templates
    above). Two-pass global-statistic pattern: pass 1 computes the
    exact p05/p95 (Spark ``percentile`` == DuckDB ``quantile_cont``,
    bit-exact linear interpolation), pass 2 broadcasts the 1-row
    bounds back over the corpus — the scale-correct way to apply a
    corpus-global threshold without collecting anything."""
    docs = _t(spark, sf_dir, "documents")
    scored = docs.select(
        "doc_id", T.quality_score(F.col("text")).alias("quality_score")
    )
    bounds = scored.agg(
        F.expr("percentile(quality_score, 0.05)").alias("q_lo"),
        F.expr("percentile(quality_score, 0.95)").alias("q_hi"),
    )
    return (
        scored.join(F.broadcast(bounds))
        .filter(
            (F.col("quality_score") >= F.col("q_lo"))
            & (F.col("quality_score") <= F.col("q_hi"))
        )
        .select("doc_id", "quality_score", "q_lo", "q_hi")
    )


# ---------------------------------------------------------------------------
# Identifier pseudonymization (privacy scrubbing pass)
# ---------------------------------------------------------------------------

@query(
    "ext_pii_pseudonymize",
    oracle="""
    SELECT event_id,
      md5('pii:' || CAST(user_id AS VARCHAR)) AS user_pseudo,
      regexp_replace(props, '[0-9]+', '<NUM>', 'g') AS props_masked,
      CAST(length(props) - length(regexp_replace(props, '[0-9]', '', 'g')) AS BIGINT)
        AS n_digits_masked
    FROM events
    """,
)
def ext_pii_pseudonymize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Privacy scrubbing over an event stream: salted-hash
    pseudonymization of the user id (stable join key, irreversible
    without the salt) + masking of every digit run in the free-form
    props payload, with an auditable masked-character count. Pure
    map-side JVM regex — character-class patterns behave identically
    in Java regex and RE2, and md5 hex is lowercase in both engines.
    The real-PII variant (emails/phones) is the same plan with richer
    patterns; fixtures carry no such strings, so digit runs are the
    testable stand-in."""
    ev = _t(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        F.md5(F.concat(F.lit("pii:"), F.col("user_id").cast("string"))).alias(
            "user_pseudo"
        ),
        F.regexp_replace("props", "[0-9]+", "<NUM>").alias("props_masked"),
        (
            F.length("props") - F.length(F.regexp_replace("props", "[0-9]", ""))
        ).cast("long").alias("n_digits_masked"),
    )


# ---------------------------------------------------------------------------
# Temperature-balanced language resampling (multilingual mixing)
# ---------------------------------------------------------------------------

@query(
    "ext_lang_temperature_sample",
    oracle="""
    WITH c AS (SELECT lang, COUNT(*) AS n_l FROM documents GROUP BY 1),
    m AS (SELECT MIN(n_l) AS n_min FROM c),
    r AS (
      SELECT lang,
        CAST(FLOOR(10000 * sqrt(CAST(n_min AS DOUBLE) / CAST(n_l AS DOUBLE))) AS BIGINT)
          AS rate_per10k
      FROM c, m
    )
    SELECT d.doc_id, d.lang, r.rate_per10k
    FROM documents d JOIN r USING (lang)
    WHERE CAST(('0x' || substring(md5('temp:' || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
          % 10000 < rate_per10k
    """,
)
def ext_lang_temperature_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-balanced multilingual resampling (α = 0.5): keep
    rate per language ∝ sqrt(n_min/n_l), so head languages are
    downsampled toward the tail (the mBERT/XLM-R exponent-smoothing
    recipe). Two-pass like the quality band: tiny per-language rate
    table broadcast back over the corpus; the keep decision is a pure
    salted-MD5 function of doc_id — stable across runs, engines, and
    corpus growth. sqrt and double division are correctly-rounded IEEE
    ops in both engines, so the rates are bit-identical (pow/ln would
    not be)."""
    docs = _t(spark, sf_dir, "documents")
    counts = docs.groupBy("lang").agg(F.count(F.lit(1)).alias("n_l"))
    n_min = counts.agg(F.min("n_l").alias("n_min"))
    rates = counts.join(F.broadcast(n_min)).select(
        "lang",
        F.floor(
            10000
            * F.sqrt(F.col("n_min").cast("double") / F.col("n_l").cast("double"))
        ).alias("rate_per10k"),
    )
    bucket = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("temp:"), F.col("doc_id").cast("string"))), 1, 8
            ),
            16,
            10,
        ).cast("long")
        % 10000
    )
    return (
        docs.join(F.broadcast(rates), ["lang"])
        .filter(bucket < F.col("rate_per10k"))
        .select("doc_id", "lang", "rate_per10k")
    )


# ---------------------------------------------------------------------------
# Sliding-window document chunking (context-window packing / RAG prep)
# ---------------------------------------------------------------------------

@query(
    "ext_doc_chunking",
    oracle="""
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
    starts AS (
      SELECT doc_id, toks, unnest(range(1, len(toks)+1, 48)) AS start
      FROM t
    )
    SELECT doc_id,
      CAST((start - 1) // 48 AS BIGINT) AS chunk_id,
      array_to_string(toks[start:start+63], ' ') AS chunk_text,
      CAST(LEAST(64, len(toks) - start + 1) AS INT) AS n_chunk_tokens
    FROM starts
    """,
)
def ext_doc_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window chunking: split each document into 64-token
    chunks with stride 48 (16-token overlap) — the tokenize-and-pack
    step before embedding or context-window training. One explode of
    a per-row integer sequence (no join, no shuffle: chunk count and
    boundaries are pure functions of the token count), so the plan is
    a single map stage that scales linearly and preserves the input
    partitioning."""
    docs = _t(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    with_starts = docs.select(
        "doc_id",
        toks.alias("_toks"),
        F.explode(F.sequence(F.lit(1), F.size(toks), F.lit(48))).alias("_start"),
    )
    return with_starts.select(
        "doc_id",
        ((F.col("_start") - 1) / 48).cast("long").alias("chunk_id"),
        F.concat_ws(" ", F.slice("_toks", F.col("_start"), F.lit(64))).alias(
            "chunk_text"
        ),
        F.least(
            F.lit(64), F.size("_toks") - F.col("_start") + 1
        ).cast("int").alias("n_chunk_tokens"),
    )


# ---------------------------------------------------------------------------
# Tokenizer statistics, corpus mixing, containment dedup, BM25
# ---------------------------------------------------------------------------

@query(
    "ext_bpe_pair_counts",
    oracle="""
    WITH toks AS (
      SELECT unnest(string_split(text, ' ')) AS tok FROM documents
    ),
    wf AS (SELECT tok, COUNT(*) AS wcount FROM toks GROUP BY tok),
    pairs AS (
      SELECT unnest(list_transform(range(1, length(tok)),
                    i -> substr(tok, i, 2))) AS pair,
             wcount
      FROM wf WHERE length(tok) >= 2
    )
    SELECT pair, CAST(SUM(wcount) AS BIGINT) AS pair_count
    FROM pairs GROUP BY pair
    ORDER BY pair_count DESC, pair
    LIMIT 100
    """,
)
def ext_bpe_pair_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One BPE-training merge step at corpus scale: count adjacent
    symbol pairs (2-char substrings of whitespace words), weighted by
    word frequency. The classic tokenizer-training inner loop: the
    word-frequency table is tiny relative to the corpus, so the heavy
    explode runs over |vocab| rows, not |corpus| rows — aggregate
    first, explode second. Top-100 pairs with a lexical tiebreak."""
    docs = _spread(_t(spark, sf_dir, "documents"), "doc_id")
    wf = (
        docs.select(F.explode(T.tokens(F.col("text"))).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("wcount"))
    )
    pairs = wf.filter(F.length("tok") >= 2).select(
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.length("tok") - 1),
                lambda i: F.col("tok").substr(i, F.lit(2)),
            )
        ).alias("pair"),
        "wcount",
    )
    return (
        pairs.groupBy("pair")
        .agg(F.sum("wcount").alias("pair_count"))
        .orderBy(F.col("pair_count").desc(), "pair")
        .limit(100)
    )


@query(
    "ext_dedup_incremental",
    # Exact-Jaccard oracle restricted to pairs touching the "new
    # batch" (odd ids): the LSH candidate stage has recall < 1 in
    # theory, but at 64 perms / 16 bands the per-pair miss probability
    # at j=0.5 is ~1e-4 and the exact verify kills all false
    # positives — verified equal to this oracle at sf0.001 and sf0.01
    # (same justification as ext_dedup_minhash_lsh).
    oracle="""
    WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
    sh AS (
      SELECT DISTINCT doc_id,
        unnest(list_transform(range(1, len(t)-1), i -> concat_ws(' ', t[i], t[i+1], t[i+2]))) AS s
      FROM toks WHERE len(t) >= 3
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1),
    shared AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_shared
      FROM sh a JOIN sh b USING (s) WHERE a.doc_id < b.doc_id GROUP BY 1, 2
    )
    SELECT doc_a, doc_b,
      CAST(n_shared AS DOUBLE) / (sa.n + sb.n - n_shared) AS jaccard
    FROM shared
    JOIN sizes sa ON doc_a = sa.doc_id
    JOIN sizes sb ON doc_b = sb.doc_id
    WHERE CAST(n_shared AS DOUBLE) / (sa.n + sb.n - n_shared) >= 0.5
      AND (doc_a % 2 = 1 OR doc_b % 2 = 1)
    """,
)
def ext_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental MinHash dedup: the odd-id half of the corpus plays
    a newly-landed shard checked against the even-id history
    (operators/neardup.py:minhash_lsh_pairs_incremental). Batch×index
    band-bucket join only — history is never re-paired with itself,
    which is the continuous-ingest cost model at 100 TB (stored
    bucket index, per-shard map-side signatures)."""
    from ..operators import neardup

    docs = _t(spark, sf_dir, "documents")
    corpus = docs.filter(F.col("doc_id") % 2 == 0)
    batch = docs.filter(F.col("doc_id") % 2 == 1)
    return neardup.minhash_lsh_pairs_incremental(corpus, batch, threshold=0.5)


@query(
    "ext_corpus_mixture",
    # Uniform target shares (1/5 per language). B = max corpus size
    # honoring the targets given availability = min_l(n_l / s_l);
    # keep rate_l = B*s_l/n_l. Double division/multiplication are
    # correctly rounded in both engines, so rates — and the salted-md5
    # keep decisions they drive — are bit-identical.
    oracle="""
    WITH counts AS (SELECT lang, COUNT(*) AS n_lang FROM documents GROUP BY 1),
    budget AS (SELECT MIN(n_lang / 0.2) AS b FROM counts),
    rates AS (
      SELECT lang, n_lang,
        CAST(floor((b * 0.2 / n_lang) * 1000000) AS BIGINT) AS keep_ppm
      FROM counts CROSS JOIN budget
    )
    SELECT d.doc_id, d.lang, r.keep_ppm
    FROM documents d JOIN rates r USING (lang)
    WHERE CAST(('0x' || substring(md5('mix:' || CAST(d.doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
          % 1000000 < r.keep_ppm
    """,
)
def ext_corpus_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-mixture construction: resample the corpus to target
    language shares (uniform 20% here). The kept set is the LARGEST
    corpus honoring the targets given per-language availability
    (budget = min_l n_l/s_l, the scarcest language saturates), and
    membership is a salted-hash keep — deterministic, growth-stable,
    no shuffle beyond one tiny per-language count. Generalizes
    ext_lang_temperature_sample from α-smoothing to explicit target
    shares — the knob an actual pretraining mixture is specified
    with."""
    docs = _t(spark, sf_dir, "documents")
    counts = docs.groupBy("lang").agg(F.count(F.lit(1)).alias("n_lang"))
    budget = counts.agg(
        F.min(F.col("n_lang") / F.lit(0.2)).alias("b")
    )
    rates = counts.crossJoin(F.broadcast(budget)).select(
        "lang",
        F.floor((F.col("b") * F.lit(0.2) / F.col("n_lang")) * 1_000_000)
        .cast("long")
        .alias("keep_ppm"),
    )
    keyed = docs.join(F.broadcast(rates), ["lang"]).withColumn(
        "_h",
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("mix:"), F.col("doc_id").cast("string"))),
                1,
                8,
            ),
            16,
            10,
        ).cast("long")
        % 1_000_000,
    )
    return keyed.filter(F.col("_h") < F.col("keep_ppm")).select(
        "doc_id", "lang", "keep_ppm"
    )


@query(
    "ext_length_bucket_batching",
    # Quartile edges via quantile_cont == Spark percentile (proven
    # bit-exact); bucket by strict comparisons; batches of 16 inside
    # each bucket in (n_tokens, doc_id) order.
    oracle="""
    WITH lens AS (
      SELECT doc_id, len(string_split(text, ' ')) AS n_tokens FROM documents
    ),
    edges AS (
      SELECT quantile_cont(n_tokens, 0.25) AS q1,
             quantile_cont(n_tokens, 0.50) AS q2,
             quantile_cont(n_tokens, 0.75) AS q3
      FROM lens
    ),
    bucketed AS (
      SELECT doc_id, n_tokens,
        CASE WHEN n_tokens <= q1 THEN 0
             WHEN n_tokens <= q2 THEN 1
             WHEN n_tokens <= q3 THEN 2
             ELSE 3 END AS bucket
      FROM lens CROSS JOIN edges
    ),
    batched AS (
      SELECT doc_id, n_tokens, bucket,
        CAST((ROW_NUMBER() OVER (PARTITION BY bucket
               ORDER BY n_tokens, doc_id) - 1) // 16 AS BIGINT) AS batch_id
      FROM bucketed
    )
    SELECT bucket, batch_id,
      CAST(COUNT(*) AS BIGINT) AS n_docs,
      CAST(MAX(n_tokens) AS BIGINT) AS max_len,
      CAST(COUNT(*) * MAX(n_tokens) - SUM(n_tokens) AS BIGINT) AS padding_waste
    FROM batched GROUP BY 1, 2
    """,
)
def ext_length_bucket_batching(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-bucketed batch construction: bucket documents by global
    token-length quartiles, then form fixed-size batches inside each
    bucket in (length, id) order and report the padding waste each
    batch would incur (max_len·n − Σlen). The standard efficiency move
    for sequence-model training: batching like-length documents
    minimizes pad tokens. Two-pass shape — one tiny percentile
    aggregate, then a map-side bucket assign + per-bucket window —
    the window key is the 4-value bucket id, so at true scale the
    batch-id assignment would move to a per-partition
    running-count (the shard-packing pattern); the quartile pass and
    waste accounting are scale-correct as-is."""
    from ..functions.text import token_count

    docs = _t(spark, sf_dir, "documents")
    lens = docs.select("doc_id", token_count(F.col("text")).alias("n_tokens"))
    edges = lens.agg(
        F.expr("percentile(n_tokens, 0.25)").alias("q1"),
        F.expr("percentile(n_tokens, 0.50)").alias("q2"),
        F.expr("percentile(n_tokens, 0.75)").alias("q3"),
    )
    bucketed = lens.crossJoin(F.broadcast(edges)).select(
        "doc_id",
        "n_tokens",
        F.when(F.col("n_tokens") <= F.col("q1"), 0)
        .when(F.col("n_tokens") <= F.col("q2"), 1)
        .when(F.col("n_tokens") <= F.col("q3"), 2)
        .otherwise(3)
        .alias("bucket"),
    )
    from pyspark.sql import Window

    w = Window.partitionBy("bucket").orderBy("n_tokens", "doc_id")
    batched = bucketed.withColumn(
        "batch_id",
        ((F.row_number().over(w) - 1) / 16).cast("long"),
    )
    return batched.groupBy("bucket", "batch_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.max("n_tokens").alias("max_len"),
        (F.count(F.lit(1)) * F.max("n_tokens") - F.sum("n_tokens"))
        .cast("long")
        .alias("padding_waste"),
    )


@query(
    "ext_lm_perplexity",
    # Same bigram stream both engines (tokens are single-space
    # separated in the fixture; Spark splits on \s+, DuckDB on ' ' —
    # the established pairing used by ext_bpe_pair_counts /
    # ext_dedup_incremental). Per-occurrence NLL is floored into
    # integer 1e-4-nat units BEFORE the per-doc sum, so the
    # aggregation is order-independent and bit-exact across engines.
    # The coarse quantum is deliberate (r4 advice): at 1e4 a 1-ULP
    # JVM-vs-DuckDB ln() divergence (~1e-11 absolute here) sits ~7
    # orders of magnitude below the floor-boundary spacing, vs ~5 at
    # the old 1e6 — see tests/test_properties.py boundary hammering.
    oracle="""
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS t FROM documents
    ),
    db AS (
      SELECT doc_id,
             unnest(list_transform(range(1, len(t)),
                    i -> t[i] || ' ' || t[i+1])) AS bigram
      FROM toks WHERE len(t) >= 2
    ),
    bg AS (SELECT bigram, COUNT(*) AS c_bg FROM db GROUP BY 1),
    pv AS (
      SELECT string_split(bigram, ' ')[1] AS prev, SUM(c_bg) AS c_prev
      FROM bg GROUP BY 1
    ),
    vocab AS (
      SELECT COUNT(DISTINCT tok) AS v
      FROM (SELECT unnest(t) AS tok FROM toks)
    ),
    model AS (
      SELECT bigram,
             CAST(floor(-ln((c_bg + 1.0) / (c_prev + v)) * 10000)
                  AS BIGINT) AS nll_e4
      FROM bg
      JOIN pv ON string_split(bg.bigram, ' ')[1] = pv.prev
      CROSS JOIN vocab
    )
    SELECT d.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_bigrams,
           CAST(SUM(m.nll_e4) AS BIGINT) AS nll_e4_total,
           CAST(SUM(m.nll_e4) // COUNT(*) AS BIGINT) AS avg_nll_e4
    FROM db d JOIN model m USING (bigram)
    GROUP BY d.doc_id
    """,
)
def ext_lm_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style LM quality scoring: train an add-one-smoothed
    bigram language model on the corpus itself, then score every
    document by average negative log-likelihood (micro-nats per
    bigram) — the standard perplexity-bucketing signal for web-corpus
    quality filtering. p(cur|prev) = (c(prev,cur)+1) / (c(prev)+|V|).

    Scale shape: the heavy stream (per-occurrence bigrams) is
    map-side from the spread corpus; the model is O(bigram types) and
    joins the stream on the high-cardinality bigram key, then one
    doc-key aggregation. At 100 TB the model table would be pruned to
    top-K bigrams (hashing-trick LM) behind the same plan; the exact
    model keeps the oracle bit-checkable. NLL is floored to integer
    1e-4-nat units per occurrence before summing, so per-doc totals
    are order-independent (same fixed-point discipline as
    ext_pagerank_copurchase). The quantum is 1e4 — coarse enough that
    a multi-ULP libm divergence between JVM and DuckDB cannot reach a
    floor boundary for any plausible count triple (hammered in
    tests/test_properties.py), fine enough for perplexity bucketing
    (0.1 milli-nat resolution)."""
    docs = _spread(_t(spark, sf_dir, "documents"), "doc_id")
    toks = docs.select("doc_id", T.tokens(F.col("text")).alias("t"))
    db = docs.select(
        "doc_id", F.explode(T.shingles(F.col("text"), 2)).alias("bigram")
    )
    bg = db.groupBy("bigram").agg(F.count(F.lit(1)).alias("c_bg"))
    pv = (
        bg.groupBy(F.split("bigram", " ")[0].alias("prev"))
        .agg(F.sum("c_bg").alias("c_prev"))
    )
    vocab = toks.select(F.explode("t").alias("tok")).agg(
        F.countDistinct("tok").alias("v")
    )
    model = (
        bg.withColumn("prev", F.split("bigram", " ")[0])
        .join(pv, ["prev"])
        .crossJoin(F.broadcast(vocab))
        .select(
            "bigram",
            F.floor(
                -F.log(
                    (F.col("c_bg") + F.lit(1.0))
                    / (F.col("c_prev") + F.col("v"))
                )
                * F.lit(10000.0)
            ).alias("nll_e4"),
        )
    )
    return (
        db.join(model, ["bigram"])
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.sum("nll_e4").alias("nll_e4_total"),
            F.expr("CAST(sum(nll_e4) DIV count(1) AS BIGINT)").alias(
                "avg_nll_e4"
            ),
        )
    )


@query(
    "ext_weighted_sample",
    # Efraimidis–Spirakis order statistic: rank by u^(1/w) ⇔ rank by
    # ln(u)/w (w > 0, monotone transform). u is the salted-md5
    # uniform (h % 1e6 + 0.5) / 1e6 — strictly inside (0,1), so ln is
    # finite. ln touches floats exactly ONCE, on the finite 1e6-value
    # u domain, quantized to micro-nats: the minimum distance of
    # -ln(u)*1e6 to a floor boundary over ALL 1e6 inputs is 2.7e-7
    # (asserted in tests/test_properties.py) vs a ~2e-9 worst-case
    # libm ULP — no platform's ln can flip any floor. Everything
    # after is exact BIGINT division, so the key — and the top-100 it
    # drives — is engine-exact by construction, not by fixture luck.
    oracle="""
    WITH keyed AS (
      SELECT doc_id, lang, n_chars,
        -((CAST(floor(-ln((CAST(('0x' || substring(md5('wsample:' || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
              % 1000000 + 0.5) / 1000000.0) * 1000000) AS BIGINT) * 1000)
          // GREATEST(n_chars, 1)) AS key_nanos
      FROM documents
    )
    SELECT doc_id, lang, n_chars, key_nanos
    FROM keyed
    ORDER BY key_nanos DESC, doc_id
    LIMIT 100
    """,
)
def ext_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling without replacement (Efraimidis–Spirakis
    A-ES): keep the 100 documents with the largest u^(1/w) order
    key, weighting by document length — the importance-sampling
    primitive behind quality-weighted corpus subsetting ("sample 10B
    tokens preferring high-quality docs"). One map-side key
    computation + TakeOrderedAndProject top-k: no shuffle of the
    corpus, no driver-side state, and the salted-hash uniform makes
    the draw reproducible under corpus growth (a doc's key never
    changes, so adding data only ever displaces the boundary).

    Key arithmetic (r4 advice — ULP-proof reformulation): quantize
    L = floor(-ln(u)·1e6) once over u's finite 1e6-value domain
    (margin to any floor boundary ≥ 2.7e-7 ≫ libm ULP, so L is a
    platform-independent integer), then key = -((L·1000) div w) in
    exact BIGINT math — the same nano-nat resolution as the previous
    float path with zero remaining cross-engine float comparisons."""
    docs = _t(spark, sf_dir, "documents")
    h = F.conv(
        F.substring(
            F.md5(F.concat(F.lit("wsample:"), F.col("doc_id").cast("string"))),
            1,
            8,
        ),
        16,
        10,
    ).cast("long")
    u = (h % 1000000 + F.lit(0.5)) / F.lit(1000000.0)
    neg_ln_micros = F.floor(-F.log(u) * F.lit(1000000.0)).cast("long")
    key = -F.call_function(
        "div",
        neg_ln_micros * F.lit(1000),
        F.greatest(F.col("n_chars"), F.lit(1)).cast("long"),
    )
    return (
        docs.select("doc_id", "lang", "n_chars", key.alias("key_nanos"))
        .orderBy(F.col("key_nanos").desc(), "doc_id")
        .limit(100)
    )


@query(
    "ext_dedup_containment",
    # Capped shingle CTE (operators/neardup.py ORACLE_SH_CAPPED) —
    # mirrors shingle_containment_pairs' default stop-shingle cap.
    oracle=f"""
    WITH {neardup.ORACLE_SH_CAPPED},
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1),
    shared AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_shared
      FROM sh a JOIN sh b USING (s) WHERE a.doc_id < b.doc_id GROUP BY 1, 2
    )
    SELECT doc_a, doc_b,
           CAST(n_shared AS BIGINT) AS n_shared,
           CAST(sa.n AS BIGINT) AS n_a,
           CAST(sb.n AS BIGINT) AS n_b,
           CAST(n_shared AS DOUBLE) / sa.n AS containment_a,
           CAST(n_shared AS DOUBLE) / sb.n AS containment_b
    FROM shared
    JOIN sizes sa ON doc_a = sa.doc_id
    JOIN sizes sb ON doc_b = sb.doc_id
    WHERE GREATEST(CAST(n_shared AS DOUBLE) / sa.n,
                   CAST(n_shared AS DOUBLE) / sb.n) >= 0.6
    """,
)
def ext_dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric containment dedup (operators/neardup.py:
    shingle_containment_pairs): pairs where either doc's shingle set
    is ≥60% contained in the other — catches sub-document duplication
    (whole-doc quotes, boilerplate-wrapped reposts) that symmetric
    Jaccard scores near zero. Integer counts divide to bit-exact
    doubles in both engines, so the pair list hashes identically.
    The pair generator is self-cleaning: the pair list is
    checkpointed and the shingle cache released inside the call, so
    repeated invocations (bench loops, services) pin nothing."""
    from ..operators.neardup import shingle_containment_pairs

    docs = _t(spark, sf_dir, "documents")
    return shingle_containment_pairs(docs, n=3, threshold=0.6)


@query(
    "ext_bm25_topk",
    # Per-term BM25 contributions are floored into integer 1e-4
    # units BEFORE the per-(query, doc) sum, so the score — and the
    # top-5 ordering it drives — is order-independent and engine-exact.
    # Quantum coarsened 1e6 → 1e4 (r4 advice): a multi-ULP libm
    # divergence is ~7 orders of magnitude below the boundary spacing
    # (boundary-hammered in tests/test_properties.py).
    oracle="""
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS t FROM documents
    ),
    tf AS (
      SELECT doc_id, tok AS term, COUNT(*) AS tf
      FROM (SELECT doc_id, unnest(t) AS tok FROM toks)
      GROUP BY 1, 2
    ),
    dl AS (SELECT doc_id, len(t) AS dl FROM toks),
    stats AS (
      SELECT (SELECT COUNT(*) FROM documents) AS n,
             (SELECT AVG(len(t)) FROM toks) AS avgdl
    ),
    df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
    qterms AS (
      SELECT DISTINCT doc_id AS query_id, term FROM (
        SELECT doc_id, unnest(t[1:8]) AS term FROM toks WHERE doc_id < 5
      )
    ),
    scored AS (
      SELECT q.query_id, tf.doc_id,
        CAST(floor(
          ln((s.n - df.df + 0.5) / (df.df + 0.5) + 1.0)
          * (tf.tf * 2.2)
          / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl / s.avgdl))
          * 10000
        ) AS BIGINT) AS term_score_e4
      FROM qterms q
      JOIN tf ON q.term = tf.term
      JOIN df ON q.term = df.term
      JOIN dl ON tf.doc_id = dl.doc_id
      CROSS JOIN stats s
    ),
    totals AS (
      SELECT query_id, doc_id,
             CAST(SUM(term_score_e4) AS BIGINT) AS score_e4
      FROM scored GROUP BY 1, 2
    ),
    ranked AS (
      SELECT query_id, doc_id, score_e4,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY score_e4 DESC, doc_id) AS rn
      FROM totals
    )
    SELECT query_id, doc_id, score_e4, CAST(rn AS BIGINT) AS rn
    FROM ranked WHERE rn <= 5
    """,
)
def ext_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-5 retrieval (k1=1.2, b=0.75): documents with
    ``doc_id < 5`` play queries (the distinct tokens among each one's
    first 8 positions), scored
    against the whole corpus through the classic inverted-index
    statistics — term frequency, document frequency, length
    normalization. This is the retrieval primitive a training-data
    pipeline runs for decontamination-by-retrieval and hard-negative
    mining at corpus scale.

    Scale shape: tf/df/doclen are one aggregation pass each over the
    exploded token stream; the query side is a tiny broadcast (5
    queries × ≤8 terms), so scoring touches only postings of query
    terms — never the full corpus cross — and the final top-k is a
    per-query window over candidates. At 100 TB the same plan holds
    with the tf table bucketed by term."""
    docs = _spread(_t(spark, sf_dir, "documents"), "doc_id")
    toks = docs.select("doc_id", T.tokens(F.col("text")).alias("t"))
    exploded = toks.select("doc_id", F.explode("t").alias("term"))
    tf = exploded.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    dl = toks.select("doc_id", F.size("t").alias("dl"))
    df = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    stats = toks.agg(
        F.count(F.lit(1)).alias("n"), F.avg(F.size("t")).alias("avgdl")
    )
    qterms = (
        toks.filter(F.col("doc_id") < 5)
        .select(
            F.col("doc_id").alias("query_id"),
            F.explode(F.slice("t", 1, 8)).alias("term"),
        )
        .distinct()
    )
    scored = (
        F.broadcast(qterms)
        .join(tf, ["term"])
        .join(F.broadcast(df), ["term"])
        .join(dl, ["doc_id"])
        .crossJoin(F.broadcast(stats))
        .select(
            "query_id",
            "doc_id",
            F.floor(
                F.log(
                    (F.col("n") - F.col("df") + F.lit(0.5))
                    / (F.col("df") + F.lit(0.5))
                    + F.lit(1.0)
                )
                * (F.col("tf") * F.lit(2.2))
                / (
                    F.col("tf")
                    + F.lit(1.2)
                    * (F.lit(0.25) + F.lit(0.75) * F.col("dl") / F.col("avgdl"))
                )
                * F.lit(10000.0)
            ).alias("term_score_e4"),
        )
    )
    totals = scored.groupBy("query_id", "doc_id").agg(
        F.sum("term_score_e4").alias("score_e4")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("score_e4").desc(), "doc_id"
    )
    return (
        totals.withColumn("rn", F.row_number().over(w).cast("long"))
        .filter(F.col("rn") <= 5)
        .select("query_id", "doc_id", "score_e4", "rn")
    )


# ---------------------------------------------------------------------------
# C4-style boilerplate line removal
# ---------------------------------------------------------------------------

_SEG_W = 4  # tokens per segment ("line")


# Boilerplate threshold as a FRACTION of the corpus (per-mille), not
# an absolute count: a fixed "df >= 3" silently reclassifies every
# moderately common line as boilerplate once the corpus grows (at 10x
# the docs, 3 appearances is noise, not a footer). threshold =
# max(2, ceil(6‰ * n_docs)) — integer-exact in both engines via
# (6n + 999) DIV 1000, and equal to the previous absolute 3 at the
# 500-doc fixtures, so behavior at test scale is unchanged.
_BOILER_PM = 6  # per-mille of corpus


_BOILER_MIN = 2  # floor: a segment in >= 2 docs can never be unique


@query(
    "ext_dedup_lines",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS ts FROM documents
    ),
    thr AS (
      SELECT GREATEST({_BOILER_MIN},
                      ({_BOILER_PM} * (SELECT COUNT(*) FROM documents) + 999)
                        // 1000) AS boiler_df
    ),
    seg AS (
      SELECT doc_id, CAST(i AS BIGINT) AS seg_no,
             array_to_string(ts[(i*{_SEG_W}+1):(i*{_SEG_W}+{_SEG_W})], ' ') AS seg
      FROM toks,
           unnest(range(0, CAST(ceil(len(ts)/{_SEG_W}.0) AS BIGINT))) AS t(i)
    ),
    sdf AS (SELECT seg, COUNT(DISTINCT doc_id) AS df FROM seg GROUP BY seg)
    SELECT s.doc_id,
      CAST(COUNT(*) AS BIGINT) AS n_segments,
      CAST(SUM(CASE WHEN df >= boiler_df THEN 1 ELSE 0 END) AS BIGINT)
        AS n_boilerplate,
      COALESCE(
        string_agg(CASE WHEN df < boiler_df THEN s.seg END,
                   ' ' ORDER BY s.seg_no),
        '') AS clean_text
    FROM seg s JOIN sdf USING (seg) CROSS JOIN thr
    GROUP BY s.doc_id
    """,
)
def ext_dedup_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Line-level (segment-level) boilerplate removal, the C4/CCNet
    move: chunk every document into fixed 4-token segments, count
    each segment's document frequency corpus-wide, and strip segments
    appearing in at least max(2, ceil(0.6% of docs)) distinct
    documents (navboxes, footers, legal boilerplate in a real web
    corpus). Output per doc: segment count, removed count, and the
    cleaned text reassembled in segment order.

    The threshold is a FRACTION of the corpus (r4 advice): an
    absolute df cutoff is not growth-stable — under corpus growth it
    reclassifies ever-more-common-but-legitimate lines as
    boilerplate, where a fractional cutoff keeps the classification
    of a segment with stable relative frequency fixed
    (property-tested at two corpus sizes in
    tests/test_boilerplate_growth.py). The
    threshold arithmetic is pure integer ((6n+999) DIV 1000), so both
    engines agree at any corpus size.

    Scale shape: explode → one df aggregation on the segment hash →
    one join back → one per-doc aggregation, all shuffle-partitioned
    on segment / doc keys; reassembly is an in-group ``array_sort`` of
    (seg_no, seg) structs, never a global sort. The df table could be
    broadcast when a stop-segment cap bounds it; here it stays a
    shuffle join since boilerplate df has no upper bound. The
    threshold is a 1-row broadcast.
    """
    docs = _spread(_t(spark, sf_dir, "documents"), "doc_id")
    thr = docs.agg(
        F.greatest(
            F.lit(_BOILER_MIN),
            F.expr(f"({_BOILER_PM} * count(1) + 999) DIV 1000"),
        ).cast("long").alias("boiler_df")
    )
    toks = docs.select("doc_id", F.split("text", " ").alias("ts"))
    segs = toks.select(
        "doc_id",
        F.posexplode(
            F.transform(
                F.sequence(
                    F.lit(0),
                    F.ceil(F.size("ts") / F.lit(_SEG_W)).cast("int") - 1,
                ),
                lambda i: F.array_join(
                    F.slice("ts", i * F.lit(_SEG_W) + 1, F.lit(_SEG_W)), " "
                ),
            )
        ).alias("seg_no", "seg"),
    ).withColumn("seg_no", F.col("seg_no").cast("long"))
    seg_df = segs.groupBy("seg").agg(
        F.countDistinct("doc_id").alias("df")
    )
    scored = segs.join(seg_df, "seg").crossJoin(F.broadcast(thr))
    kept_struct = F.when(
        F.col("df") < F.col("boiler_df"),
        F.struct(F.col("seg_no").alias("n"), F.col("seg").alias("s")),
    )
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_segments"),
        F.sum(
            F.when(F.col("df") >= F.col("boiler_df"), 1).otherwise(0)
        ).cast("long").alias("n_boilerplate"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(kept_struct)),
                lambda s: s["s"],
            ),
            " ",
        ).alias("clean_text"),
    )


# ---------------------------------------------------------------------------
# Inverted index (posting lists with positions)
# ---------------------------------------------------------------------------


@query(
    "ext_text_postings",
    oracle="""
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS ts FROM documents
    ),
    pos AS (
      SELECT doc_id, ts[CAST(i AS BIGINT) + 1] AS token, CAST(i AS BIGINT) AS p
      FROM toks, unnest(range(0, CAST(len(ts) AS BIGINT))) AS t(i)
    ),
    post AS (
      SELECT token, doc_id,
        CAST(COUNT(*) AS BIGINT) AS tf,
        string_agg(p::VARCHAR, ',' ORDER BY p) AS positions
      FROM pos GROUP BY 1, 2
    ),
    dfr AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS df FROM post GROUP BY 1)
    SELECT p.token, p.doc_id, p.tf, p.positions, d.df
    FROM post p JOIN dfr d ON p.token = d.token
    """,
)
def ext_text_postings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full positional inverted index — the IR structure under
    ext_bm25_topk made explicit: one posting row per (token, doc)
    carrying term frequency, the sorted 0-based position list
    (comma-joined, so the contract is engine-neutral), and the
    token's document frequency.

    Scale shape: posexplode is map-side; postings shuffle once on the
    (token, doc) pair; df re-aggregates from the postings relation
    (|vocab| keys) rather than rescanning the corpus, then joins back
    on the token key — partitioned on token, which is exactly how a
    sharded index would be laid out. Hot stop-tokens skew their
    posting shard; real deployments cap df (see ngram_jaccard's
    max_df note) — kept uncapped here because the oracle must see
    every posting.
    """
    docs = _spread(_t(spark, sf_dir, "documents"), "doc_id")
    pos = docs.select(
        "doc_id",
        F.posexplode(F.split("text", " ")).alias("p", "token"),
    )
    post = pos.groupBy("token", "doc_id").agg(
        F.count(F.lit(1)).alias("tf"),
        F.array_join(
            F.transform(
                F.sort_array(F.collect_list(F.col("p").cast("long"))),
                lambda x: x.cast("string"),
            ),
            ",",
        ).alias("positions"),
    )
    dfr = post.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    return post.join(dfr, "token").select(
        "token", "doc_id", "tf", "positions", "df"
    )


# ---------------------------------------------------------------------------
# Duplicated-span islands (maximal removable spans, Lee et al.)
# ---------------------------------------------------------------------------


@query(
    "ext_dup_span_islands",
    oracle="""
    WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
    pos AS (
      SELECT doc_id, CAST(i AS BIGINT) AS p,
        concat_ws(' ', t[i+1], t[i+2], t[i+3], t[i+4],
                       t[i+5], t[i+6], t[i+7], t[i+8]) AS s
      FROM toks, unnest(range(0, CAST(len(t) - 7 AS BIGINT))) AS u(i)
      WHERE len(t) >= 8
    ),
    sh AS (SELECT DISTINCT doc_id, s FROM pos),
    freq AS (SELECT s, COUNT(*) AS df FROM sh GROUP BY 1),
    dup AS (
      SELECT doc_id, p, p + 7 AS e
      FROM pos JOIN freq USING (s) WHERE df >= 2
    ),
    brk AS (
      SELECT doc_id, p, e,
        CASE WHEN MAX(e) OVER (
               PARTITION BY doc_id ORDER BY p, e
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) IS NULL
               OR p > MAX(e) OVER (
               PARTITION BY doc_id ORDER BY p, e
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) + 1
             THEN 1 ELSE 0 END AS b
      FROM dup
    ),
    isl AS (
      SELECT doc_id, p, e,
        SUM(b) OVER (PARTITION BY doc_id ORDER BY p, e
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS gid
      FROM brk
    ),
    g AS (
      SELECT doc_id, gid, MIN(p) AS s0, MAX(e) AS e0,
        CAST(COUNT(*) AS BIGINT) AS n_occ
      FROM isl GROUP BY 1, 2
    )
    SELECT doc_id,
      CAST(COUNT(*) AS BIGINT) AS n_islands,
      CAST(SUM(e0 - s0 + 1) AS BIGINT) AS covered_tokens,
      CAST(MAX(e0 - s0 + 1) AS BIGINT) AS max_island_len,
      CAST(SUM(n_occ) AS BIGINT) AS n_dup_positions
    FROM g GROUP BY 1
    """,
)
def ext_dup_span_islands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal duplicated spans — the step AFTER ext_dup_span_coverage
    in substring-level dedup (Lee et al.): every position whose 8-gram
    also occurs in another document marks the token interval
    [p, p+7]; overlapping/adjacent intervals merge into maximal
    islands (operators/islands.py), which are exactly the spans a
    substring-dedup pass would cut out. Per doc: island count, total
    covered tokens, longest island, and the raw duplicated-position
    count (>= islands; the ratio shows how much merging collapsed).

    Scale shape: positional shingling is map-side; span df is one
    shuffle on the shingle key (same as coverage); the island merge is
    a window PARTITIONED BY doc ordered by position — parallel across
    docs, frame bounded by doc length. The running-max-of-ends form
    stays correct for variable-length intervals (future: merged spans
    from multiple n-gram orders).
    """
    from ..operators.islands import interval_islands

    docs = _spread(_t(spark, sf_dir, "documents"), "doc_id")
    toks = docs.select("doc_id", F.split("text", " ").alias("t")).filter(
        F.size("t") >= 8
    )
    pos = toks.select(
        "doc_id",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.size("t") - 8),
                lambda i: F.array_join(F.slice("t", i + 1, 8), " "),
            )
        ).alias("p", "s"),
    ).withColumn("p", F.col("p").cast("long"))
    freq = pos.select("doc_id", "s").distinct().groupBy("s").agg(
        F.count(F.lit(1)).alias("df")
    )
    dup = (
        pos.join(freq.filter(F.col("df") >= 2).select("s"), ["s"], "leftsemi")
        .select("doc_id", "p", (F.col("p") + 7).alias("e"))
    )
    isl = interval_islands(dup, ["doc_id"], "p", "e", island_col="gid")
    g = isl.groupBy("doc_id", "gid").agg(
        F.min("p").alias("s0"),
        F.max("e").alias("e0"),
        F.count(F.lit(1)).alias("n_occ"),
    )
    return g.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_islands"),
        F.sum(F.col("e0") - F.col("s0") + 1).cast("long").alias(
            "covered_tokens"
        ),
        F.max(F.col("e0") - F.col("s0") + 1).cast("long").alias(
            "max_island_len"
        ),
        F.sum("n_occ").cast("long").alias("n_dup_positions"),
    )


# ---------------------------------------------------------------------------
# DSIR-style hashed-feature importance resampling
# ---------------------------------------------------------------------------

_DSIR_B = 4096  # hashed feature-space size


@query(
    "ext_dsir_importance",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, lang, unnest(string_split(text, ' ')) AS token
      FROM documents
    ),
    tb AS (
      SELECT doc_id, lang,
        CAST(('0x' || substring(md5('dsir:' || token), 1, 8)) AS BIGINT)
          % {_DSIR_B} AS b
      FROM tok
    ),
    src AS (SELECT b, CAST(COUNT(*) AS BIGINT) AS c_s FROM tb GROUP BY 1),
    tgt AS (
      SELECT b, CAST(COUNT(*) AS BIGINT) AS c_t
      FROM tb WHERE lang = 'en' GROUP BY 1
    ),
    tot AS (
      SELECT (SELECT COUNT(*) FROM tb) AS n_s,
             (SELECT COUNT(*) FROM tb WHERE lang = 'en') AS n_t
    ),
    ratio AS (
      SELECT s.b,
        CAST(FLOOR((ln(COALESCE(c_t, 0) + 1) - ln(c_s + 1)
                    - ln(n_t + {_DSIR_B}.0) + ln(n_s + {_DSIR_B}.0))
                   * 10000) AS BIGINT) AS term_e4
      FROM src s LEFT JOIN tgt t ON s.b = t.b CROSS JOIN tot
    ),
    dtf AS (
      SELECT doc_id, any_value(lang) AS lang, b,
        CAST(COUNT(*) AS BIGINT) AS tf
      FROM tb GROUP BY doc_id, b
    )
    SELECT doc_id, any_value(lang) AS lang,
      CAST(SUM(tf) AS BIGINT) AS n_tokens,
      CAST(SUM(tf * term_e4) AS BIGINT) AS score_e4,
      CAST(FLOOR(1.0 * SUM(tf * term_e4) / SUM(tf)) AS BIGINT)
        AS per_token_e4,
      SUM(tf * term_e4) >= 0 AS keep
    FROM dtf JOIN ratio USING (b)
    GROUP BY doc_id
    """,
)
def ext_dsir_importance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data Selection via Importance Resampling (DSIR, Xie et al.
    2023) with hashed unigram features: score every document by the
    log importance ratio between a target distribution (here the
    'en' slice) and the full-corpus source distribution, both
    modeled as add-1-smoothed bags of md5-hashed token buckets
    (feature space fixed at 4096 — the hashing trick that keeps the
    model broadcastable no matter the corpus vocabulary). keep=true
    marks docs more target-like than source-like.

    Determinism: each bucket's log-ratio is floored to integer
    1e-4 units ONCE (a deterministic scalar from global counts);
    per-doc scores are then pure BIGINT tf-weighted sums — order-
    independent, so both engines agree bit-for-bit. The quantum is
    1e4 (coarsened from 1e6 per the r4 advice, same as
    ext_lm_perplexity): a multi-ULP libm divergence sits far below
    the floor-boundary spacing, and only ≤4096 bucket values are ever
    floored. The per-token average divides as IEEE doubles
    identically in both engines before one floor.

    Scale shape: two bucket-count aggregations (<= 4096 groups, one
    shuffle each over map-side partials), totals off a broadcast
    2-value row, the ratio table joined BROADCAST into the per-doc
    bucket tf relation — per-doc scoring never shuffles the corpus
    on anything but the (doc, bucket) aggregate.
    """
    docs = _spread(_t(spark, sf_dir, "documents"), "doc_id")
    tok = docs.select(
        "doc_id", "lang", F.explode(F.split("text", " ")).alias("token")
    )
    tb = tok.select(
        "doc_id",
        "lang",
        (
            F.conv(
                F.substring(
                    F.md5(F.concat(F.lit("dsir:"), F.col("token"))), 1, 8
                ),
                16,
                10,
            ).cast("long")
            % _DSIR_B
        ).alias("b"),
    )
    src = tb.groupBy("b").agg(F.count(F.lit(1)).alias("c_s"))
    tgt = (
        tb.filter(F.col("lang") == "en")
        .groupBy("b")
        .agg(F.count(F.lit(1)).alias("c_t"))
    )
    tot = tb.agg(
        F.count(F.lit(1)).alias("n_s"),
        F.sum(F.when(F.col("lang") == "en", 1).otherwise(0)).alias("n_t"),
    )
    ratio = (
        src.join(tgt, ["b"], "left")
        .crossJoin(F.broadcast(tot))
        .select(
            "b",
            F.floor(
                (
                    F.log(F.coalesce(F.col("c_t"), F.lit(0)) + 1)
                    - F.log(F.col("c_s") + 1)
                    - F.log(F.col("n_t") + F.lit(float(_DSIR_B)))
                    + F.log(F.col("n_s") + F.lit(float(_DSIR_B)))
                )
                * 10_000
            ).cast("long").alias("term_e4"),
        )
    )
    dtf = tb.groupBy("doc_id", "b").agg(
        F.any_value(F.col("lang")).alias("lang"),
        F.count(F.lit(1)).alias("tf"),
    )
    return (
        dtf.join(F.broadcast(ratio), ["b"])
        .groupBy("doc_id")
        .agg(
            F.any_value(F.col("lang")).alias("lang"),
            F.sum("tf").cast("long").alias("n_tokens"),
            F.sum(F.col("tf") * F.col("term_e4")).cast("long").alias(
                "score_e4"
            ),
        )
        .select(
            "doc_id",
            "lang",
            "n_tokens",
            "score_e4",
            F.floor(
                F.lit(1.0) * F.col("score_e4") / F.col("n_tokens")
            ).cast("long").alias("per_token_e4"),
            (F.col("score_e4") >= 0).alias("keep"),
        )
    )


# ---------------------------------------------------------------------------
# Global tie-aware ranking (distributed RANK / DENSE_RANK / PERCENT_RANK)
# ---------------------------------------------------------------------------


@query(
    "ext_global_score_rank",
    oracle="""
    SELECT doc_id, CAST(n_chars AS BIGINT) AS n_chars,
      CAST(RANK() OVER (ORDER BY n_chars DESC) AS BIGINT) AS rnk,
      CAST(DENSE_RANK() OVER (ORDER BY n_chars DESC) AS BIGINT) AS drnk,
      PERCENT_RANK() OVER (ORDER BY n_chars DESC) AS pct
    FROM documents
    """,
)
def ext_global_score_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide quality leaderboard: every document's global RANK,
    DENSE_RANK, and PERCENT_RANK by size score (n_chars, ties real) —
    the primitive behind "keep the top X% of the corpus" selection
    when the score must be position-exact, not an approximate
    quantile.

    The oracle uses native global window functions; the Spark side
    CANNOT (a bare Window.orderBy funnels the corpus through one
    task), so it goes through operators/ranking.py: two-pass
    range-partitioned row_number, tie-group min for RANK, the
    |distinct scores|-sized group relation re-ranked for DENSE_RANK,
    and PERCENT_RANK as (rank-1)/(n-1) — every stage partitioned,
    bit-identical output. PERCENT_RANK's division is the same IEEE
    double op both engines, exact inputs, so even the double column
    hash-matches.
    """
    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", F.col("n_chars").cast("long").alias("n_chars")
    )
    ranked = global_rank_with_ties(
        docs,
        [F.col("n_chars").desc(), F.col("doc_id")],
        ["n_chars"],
        rank_col="rnk",
        dense_col="drnk",
    )
    n = docs.agg(F.count(F.lit(1)).alias("n"))
    return (
        ranked.crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "n_chars",
            "rnk",
            "drnk",
            percent_rank_from_rank(F.col("rnk"), F.col("n")).alias("pct"),
        )
    )


# ---------------------------------------------------------------------------
# Language-ID confusion matrix (classifier evaluation)
# ---------------------------------------------------------------------------


def _langid_confusion_oracle() -> str:
    pred = f"""
      CASE
        WHEN r_en > 0 AND r_en = GREATEST(r_en, r_es, r_fr, r_de) THEN 'en'
        WHEN r_es > 0 AND r_es = GREATEST(r_en, r_es, r_fr, r_de) THEN 'es'
        WHEN r_fr > 0 AND r_fr = GREATEST(r_en, r_es, r_fr, r_de) THEN 'fr'
        WHEN r_de > 0 AND r_de = GREATEST(r_en, r_es, r_fr, r_de) THEN 'de'
        ELSE 'und' END"""
    return f"""
    WITH t AS (SELECT doc_id, lang, string_split(text, ' ') AS toks
               FROM documents),
    r AS (
      SELECT doc_id, lang,
        {_RATIOS["en"]} AS r_en, {_RATIOS["es"]} AS r_es,
        {_RATIOS["fr"]} AS r_fr, {_RATIOS["de"]} AS r_de
      FROM t
    ),
    p AS (SELECT lang AS actual, {pred} AS predicted FROM r),
    cm AS (
      SELECT actual, predicted, CAST(COUNT(*) AS BIGINT) AS n
      FROM p GROUP BY 1, 2
    ),
    tot AS (SELECT actual, SUM(n) AS actual_total FROM cm GROUP BY 1)
    SELECT cm.actual, cm.predicted, cm.n,
      CAST(tot.actual_total AS BIGINT) AS actual_total,
      CAST(cm.n * 1000000 // tot.actual_total AS BIGINT) AS share_micros,
      cm.actual = cm.predicted AS is_correct
    FROM cm JOIN tot ON cm.actual = tot.actual
    """


@query("ext_langid_confusion", oracle=_langid_confusion_oracle())
def ext_langid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classifier evaluation as a first-class pipeline op: the
    confusion matrix of the stopword-overlap language detector
    (functions/text.langid) against the labeled lang column, with
    per-actual-language share in integer micro-units — the
    recall-per-class report you gate a heuristic classifier on
    before letting it route corpus slices. ('zh' has no stopword
    list, so its row shows exactly where the detector says 'und' —
    the matrix surfaces the model's blind spot honestly.)

    Scale shape: the scoring is map-side (array built-ins per row);
    the matrix is a |langs|^2-key aggregation with map-side partials,
    and the per-class totals re-aggregate from the matrix itself
    (25 rows), broadcast back. Nothing touches the corpus twice.
    """
    from ..functions import text as T

    docs = _spread(_t(spark, sf_dir, "documents"), "doc_id")
    p = docs.select(
        F.col("lang").alias("actual"),
        T.langid(F.col("text")).alias("predicted"),
    )
    cm = p.groupBy("actual", "predicted").agg(F.count(F.lit(1)).alias("n"))
    tot = cm.groupBy("actual").agg(F.sum("n").alias("actual_total"))
    return (
        cm.join(F.broadcast(tot), "actual")
        .select(
            "actual",
            "predicted",
            "n",
            "actual_total",
            F.expr("n * 1000000L DIV actual_total").alias("share_micros"),
            (F.col("actual") == F.col("predicted")).alias("is_correct"),
        )
    )


# ---------------------------------------------------------------------------
# BPE merge application (the tokenizer-training iteration step)
# ---------------------------------------------------------------------------


@query(
    "ext_bpe_apply_merge",
    oracle="""
    WITH w AS (
      SELECT unnest(string_split(text, ' ')) AS word FROM documents
    ),
    wf AS (
      SELECT word, CAST(COUNT(*) AS BIGINT) AS freq
      FROM w WHERE length(word) >= 2 GROUP BY 1
    ),
    p AS (
      SELECT substr(word, CAST(i AS INTEGER), 1) AS pa,
             substr(word, CAST(i AS INTEGER) + 1, 1) AS pb,
             SUM(freq) AS cnt
      FROM wf, unnest(range(1, length(word))) AS u(i)
      GROUP BY 1, 2
    ),
    best AS (
      SELECT pa, pb FROM p ORDER BY cnt DESC, pa, pb LIMIT 1
    ),
    m AS (
      SELECT wf.word, wf.freq,
        replace(array_to_string(regexp_extract_all(wf.word, '.'), ' '),
                pa || ' ' || pb, pa || pb) AS merged_tokens,
        pa || pb AS merged_pair
      FROM wf CROSS JOIN best
    )
    SELECT word, freq, merged_tokens, merged_pair,
      CAST(length(word) AS BIGINT) AS n_tokens_before,
      CAST(len(string_split(merged_tokens, ' ')) AS BIGINT) AS n_tokens_after
    FROM m
    """,
)
def ext_bpe_apply_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One full BPE training iteration, end to end: count weighted
    adjacent character pairs over the word-frequency vocabulary
    (ext_bpe_pair_counts' shape), pick the single best merge
    (count-desc with lexicographic tiebreak), and APPLY it to every
    vocabulary word — left-to-right non-overlapping, the exact greedy
    semantics of BPE ('aaa' + merge(a,a) -> [aa, a]), which both
    engines' plain ``replace`` implements identically. Output per
    word: the post-merge token sequence and the before/after token
    counts (their delta, freq-weighted, is the compression the merge
    bought). Iterating this to a full merge table is a driver loop of
    the same step.

    Scale shape: everything downstream of the word-frequency
    aggregate is vocabulary-sized, not corpus-sized (the
    aggregate-below-the-generator move the pair-count plan pins);
    the chosen merge is a broadcast 1-row relation; merge application
    is map-side string rewriting. Single-char tokens make the spaced
    representation collision-free for this round; later rounds
    delimit with a sentinel before matching multi-char tokens.
    """
    docs = _spread(_t(spark, sf_dir, "documents"), "doc_id")
    wf = (
        docs.select(F.explode(F.split("text", " ")).alias("word"))
        .filter(F.length("word") >= 2)
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    p = (
        wf.select(
            "word",
            "freq",
            F.explode(
                F.sequence(F.lit(1), F.length("word") - 1)
            ).alias("i"),
        )
        .select(
            F.expr("substr(word, i, 1)").alias("pa"),
            F.expr("substr(word, i + 1, 1)").alias("pb"),
            "freq",
        )
        .groupBy("pa", "pb")
        .agg(F.sum("freq").alias("cnt"))
    )
    best = p.orderBy(F.col("cnt").desc(), "pa", "pb").limit(1).select("pa", "pb")
    spaced = F.array_join(
        F.regexp_extract_all(F.col("word"), F.lit("."), 0), " "
    )
    m = wf.crossJoin(F.broadcast(best)).select(
        "word",
        "freq",
        F.replace(
            spaced,
            F.concat_ws(" ", F.col("pa"), F.col("pb")),
            F.concat(F.col("pa"), F.col("pb")),
        ).alias("merged_tokens"),
        F.concat(F.col("pa"), F.col("pb")).alias("merged_pair"),
    )
    return m.select(
        "word",
        "freq",
        "merged_tokens",
        "merged_pair",
        F.length("word").cast("long").alias("n_tokens_before"),
        F.size(F.split("merged_tokens", " ")).cast("long").alias(
            "n_tokens_after"
        ),
    )

"""Scale-pattern registry: operators whose point is the 100 TB
execution shape — bounded-memory frequency sketching, corpus-level
token statistics for tokenizer training, iterative graph ranking, and
exactly-once streaming dedup.

Same determinism rules as registry.py: integer / DECIMAL-routed
arithmetic everywhere a float sum would be order-dependent, explicit
tiebreaks on every LIMIT, and a DuckDB oracle per query.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .functions import text as T
from .operators import classifier, kmeans, pca
from .operators.frequency import heavy_hitters
from .operators.neardup import _spread
from .operators.neardup import ORACLE_SH_CAPPED as _SH_CAPPED
from .operators.neardup import oracle_cosine_sql as _oracle_cos
from .operators.pagerank import pagerank_int
from .registry import _t, query


@query(
    "ext_heavy_hitters",
    oracle="""
    WITH items AS (SELECT CAST(l_partkey AS VARCHAR) AS item FROM lineitem),
    tot AS (SELECT COUNT(*) AS n FROM items)
    SELECT item, CAST(COUNT(*) AS BIGINT) AS item_count
    FROM items CROSS JOIN tot
    GROUP BY item, n
    HAVING COUNT(*) >= ceil(0.0005 * n)
    """,
)
def ext_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact heavy hitters (frequency ≥ ⌈0.0005·N⌉) over the lineitem
    part key via the two-pass plan (operators/frequency.py): a fully
    JVM per-partition local-threshold candidate pass (superset by
    pigeonhole; ≤ P/φ candidates), then exact verification of
    candidates only. The output is bit-identical to plain GROUP BY +
    HAVING — which is exactly what the oracle runs — while the verify
    shuffle only moves candidate rows. The Misra-Gries Arrow pass
    remains as the bounded_memory=True alternative."""
    li = _t(spark, sf_dir, "lineitem")
    return heavy_hitters(li, "l_partkey", phi=0.0005)


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


def _pagerank_oracle(iterations: int = 3) -> str:
    """Unrolled DuckDB mirror of operators/pagerank.py: same integer
    micro-unit arithmetic (floor division splits, damping multiply),
    one CTE pair per iteration."""
    sql = """
    WITH nodes AS (SELECT DISTINCT l_partkey AS node FROM lineitem),
    edges AS (
      SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
      FROM lineitem a JOIN lineitem b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey != b.l_partkey
    ),
    outdeg AS (SELECT src, COUNT(*) AS deg FROM edges GROUP BY src),
    r0 AS (SELECT node, CAST(1000000 AS BIGINT) AS rank_micros FROM nodes)"""
    prev = "r0"
    for i in range(1, iterations + 1):
        sql += f""",
    c{i} AS (
      SELECT e.dst AS node, SUM(r.rank_micros // o.deg) AS incoming
      FROM edges e
      JOIN {prev} r ON e.src = r.node
      JOIN outdeg o ON e.src = o.src
      GROUP BY e.dst
    ),
    r{i} AS (
      SELECT n.node,
             CAST(150000 + (85 * COALESCE(c.incoming, 0)) // 100 AS BIGINT)
               AS rank_micros
      FROM nodes n LEFT JOIN c{i} c ON n.node = c.node
    )"""
        prev = f"r{i}"
    return sql + f"\n    SELECT node AS part_key, rank_micros FROM {prev}"


def _copurchase_graph(spark: SparkSession, sf_dir: str):
    """(nodes, edges) of the product co-purchase graph: parts are
    vertices, distinct same-order part pairs are directed edges both
    ways. Shared by the registered query and the instrumented
    per-iteration bench profile.

    Edge build (r13): per-order part sets via one map-combined
    ``collect_set`` aggregation, then a map-side double explode into
    ordered pairs — the fact table crosses the wire ONCE (grouped,
    partially aggregated) instead of feeding both sides of a
    self-join; within-order duplicate parts collapse in the agg
    buffer instead of surviving into the pair stream. Identical edge
    SET to the self-join formulation (the trailing distinct is the
    same), which is what the unrolled-CTE oracles state. Per-group
    state is bounded by basket size (parts per order — naturally
    small, the standard market-basket bound), NOT by node degree, so
    the shape holds at 100 TB where a hot product's degree would blow
    a per-node buffer."""
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    nodes = li.select(F.col("l_partkey").alias("node")).distinct()
    baskets = (
        li.filter(F.col("l_orderkey").isNotNull())
        .groupBy("l_orderkey")
        .agg(F.collect_set("l_partkey").alias("_parts"))
        .filter(F.size("_parts") >= 2)
    )
    # spread-before-explode (same rationale as neardup._spread): the
    # basket aggregate is compact enough for AQE to coalesce to ~1
    # partition at bench scale, which would serialize the explode AND
    # leave the cached edge relation single-partitioned for every
    # downstream iteration. Hash-repartitioning the COMPACT rows on
    # the order key is a deterministic, sort-free exchange whose cost
    # is tiny next to the pair stream it fans out.
    target = baskets.sparkSession.sparkContext.defaultParallelism
    baskets = baskets.repartition(target, F.col("l_orderkey"))
    edges = (
        baskets.select(F.explode("_parts").alias("src"), "_parts")
        .select("src", F.explode("_parts").alias("dst"))
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )
    return nodes, edges


@query("ext_pagerank_copurchase", oracle=_pagerank_oracle(3))
def ext_pagerank_copurchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank (3 iterations, d=0.85) over the product co-purchase
    graph (see _copurchase_graph). Integer micro-unit arithmetic makes
    the iterative result bit-exact and order-independent, so the
    oracle replays the same iterations as unrolled CTEs. Per iteration
    the plan is one equi-join + one sum shuffle on the node key — the
    scalable shape for iterative graph ranking."""
    nodes, edges = _copurchase_graph(spark, sf_dir)
    # parts are a bounded dimension → broadcast the rank table
    ranks = pagerank_int(nodes, edges, iterations=3, broadcast_ranks=True)
    return ranks.select(F.col("node").alias("part_key"), "rank_micros")


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
    from .operators import neardup

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
    from .functions.text import token_count

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
    "ext_hard_negative_mining",
    # cosine: the canonical cross-engine fold (operators/neardup.py)
    oracle=f"""
    WITH e AS (SELECT vec_id, embedding, label FROM embeddings),
    q AS (SELECT vec_id AS query_id, embedding AS qvec, label AS qlabel
          FROM e WHERE vec_id < 10),
    scored AS (
      SELECT q.query_id, q.qlabel, c.vec_id AS neighbor_id,
             c.label AS neighbor_label,
        {_oracle_cos("q.qvec", "c.embedding")} AS cosine_sim
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
    from .operators.similarity import hard_triplets

    emb = _t(spark, sf_dir, "embeddings")
    queries_df = emb.filter(F.col("vec_id") < 10)
    return hard_triplets(emb, queries_df, k_neg=3)


@query(
    "ext_groupwise_stats",
    oracle="""
    WITH base AS (
      SELECT c_mktsegment AS segment,
        COUNT(*) AS n_customers,
        array_to_string(
          list_transform(list_sort(list(c_custkey))[1:10],
                         x -> CAST(x AS VARCHAR)), ',') AS ids_sample,
        quantile_cont(c_acctbal, 0.5) AS median_acctbal
      FROM customer GROUP BY 1
    ),
    nation_counts AS (
      SELECT c_mktsegment AS segment, c_nationkey,
             COUNT(*) AS cnt,
             ROW_NUMBER() OVER (
               PARTITION BY c_mktsegment
               ORDER BY COUNT(*) DESC, c_nationkey
             ) AS rn
      FROM customer GROUP BY 1, 2
    )
    SELECT b.segment, b.n_customers, b.ids_sample, b.median_acctbal,
           CAST(n.c_nationkey AS INT) AS mode_nation
    FROM base b JOIN nation_counts n
      ON b.segment = n.segment AND n.rn = 1
    """,
)
def ext_groupwise_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Group-wise SQL-parity staples a switcher reaches for on day
    one: ordered string aggregation (capped sample), exact
    interpolated median (Spark ``percentile`` == DuckDB
    ``quantile_cont``, proven bit-exact), and a DETERMINISTIC mode —
    both engines leave bare mode()'s ties unspecified, so it is
    computed as count + row_number with a (freq DESC, key ASC)
    tiebreak. One partial+final agg pass plus a tiny per-(segment,
    nation) count for the mode: scales as plain hash aggregation."""
    from pyspark.sql import Window

    cust = _t(spark, sf_dir, "customer")
    base = cust.groupBy(F.col("c_mktsegment").alias("segment")).agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.array_join(
            F.transform(
                F.slice(F.array_sort(F.collect_list("c_custkey")), 1, 10),
                lambda x: x.cast("string"),
            ),
            ",",
        ).alias("ids_sample"),
        F.expr("percentile(c_acctbal, 0.5)").alias("median_acctbal"),
    )
    w = Window.partitionBy("segment").orderBy(
        F.col("cnt").desc(), F.col("c_nationkey")
    )
    mode = (
        cust.groupBy(
            F.col("c_mktsegment").alias("segment"), "c_nationkey"
        )
        .agg(F.count(F.lit(1)).alias("cnt"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("segment", F.col("c_nationkey").cast("int").alias("mode_nation"))
    )
    return base.join(mode, ["segment"])


@query(
    "ext_url_canonicalize",
    oracle="""
    WITH raw AS (
      SELECT event_id,
        CASE WHEN event_id % 2 = 0
          THEN 'HTTPS://Shop.Example.COM:443/item/' || CAST(event_id % 500 AS VARCHAR)
               || '?utm_source=mail&ref=' || CAST(user_id AS VARCHAR) || '&b=2&a=1#frag'
          ELSE 'http://Shop.Example.COM:8080/item/' || CAST(event_id % 500 AS VARCHAR) || '?a=1'
        END AS url
      FROM events
    ),
    parts AS (
      SELECT event_id, url,
        regexp_extract(url, '^([^#]*)', 1) AS base
      FROM raw
    ),
    split_parts AS (
      SELECT event_id, url,
        lower(regexp_extract(base, '^([A-Za-z]+)://', 1)) AS scheme,
        lower(regexp_extract(regexp_extract(base, '^[A-Za-z]+://([^/?]+)', 1), '^([^:]+)', 1)) AS host,
        regexp_extract(regexp_extract(base, '^[A-Za-z]+://([^/?]+)', 1), ':([0-9]+)$', 1) AS port,
        regexp_extract(base, '^[A-Za-z]+://[^/?]+(/[^?]*)', 1) AS path,
        array_to_string(list_sort(list_filter(
          string_split(regexp_extract(base, '\\?(.*)$', 1), '&'),
          p -> p != '' AND NOT starts_with(p, 'utm_') AND NOT starts_with(p, 'ref=')
               AND NOT starts_with(p, 'gclid=') AND NOT starts_with(p, 'fbclid='))), '&') AS q
      FROM parts
    )
    SELECT event_id, host, path,
      scheme || '://' || host ||
      CASE WHEN port = '' OR (scheme = 'https' AND port = '443')
                OR (scheme = 'http' AND port = '80')
           THEN '' ELSE ':' || port END ||
      path ||
      CASE WHEN q = '' THEN '' ELSE '?' || q END AS canonical_url
    FROM split_parts
    """,
)
def ext_url_canonicalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL canonicalization (functions/web.py) over synthesized dirty
    URLs — mixed-case scheme/host, default and non-default ports,
    tracking params, unsorted query, fragments — the identity-collapse
    step before content hashing in a crawled-corpus dedup ladder.
    Input URLs are synthesized deterministically from event columns
    (same precedent as op_clean_id's dirty ids: the op under test is
    the cleansing, not the fixture)."""
    from .functions import web

    ev = _t(spark, sf_dir, "events")
    item = (F.col("event_id") % 500).cast("string")
    url = F.when(
        F.col("event_id") % 2 == 0,
        F.concat(
            F.lit("HTTPS://Shop.Example.COM:443/item/"),
            item,
            F.lit("?utm_source=mail&ref="),
            F.col("user_id").cast("string"),
            F.lit("&b=2&a=1#frag"),
        ),
    ).otherwise(
        F.concat(
            F.lit("http://Shop.Example.COM:8080/item/"), item, F.lit("?a=1")
        )
    )
    with_url = ev.select("event_id", url.alias("url"))
    return with_url.select(
        "event_id",
        web.url_host(F.col("url")).alias("host"),
        web.url_path(F.col("url")).alias("path"),
        web.canonical_url(F.col("url")).alias("canonical_url"),
    )


@query(
    "stream_dedup_index_maintenance",
    # Same exact-Jaccard ground truth as ext_dedup_minhash_lsh: the
    # epoch-sharded streaming run must discover exactly the one-shot
    # pair set (each pair once, when its later member lands).
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
def stream_dedup_index_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming corpus dedup end-to-end: the fixture documents land
    as three shards through a real foreachBatch stream that maintains
    a persistent MinHash band-bucket index (streaming/dedup_index.py);
    the union of per-epoch pair discoveries must equal the one-shot
    batch pair set. History is never re-paired with itself — each
    epoch joins only the new shard's buckets against the stored
    index."""
    import shutil
    import tempfile

    from .streaming.dedup_index import maintain_dedup_index, read_pairs

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    src = tempfile.mkdtemp(prefix="dedup_idx_src_")
    index = tempfile.mkdtemp(prefix="dedup_idx_state_")
    ckpt = tempfile.mkdtemp(prefix="dedup_idx_ckpt_")
    prev_shuffle = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "8")
        for i, bound in enumerate([(0, 170), (170, 340), (340, 1 << 62)]):
            docs.filter(
                (F.col("doc_id") >= bound[0]) & (F.col("doc_id") < bound[1])
            ).coalesce(1).write.mode("overwrite").parquet(f"{src}/shard={i}")
        stream = (
            spark.readStream.schema("doc_id long, text string")
            .option("maxFilesPerTrigger", "1")
            .parquet(f"{src}/shard=*")
        )
        q = maintain_dedup_index(
            stream, index, ckpt, threshold=0.5, available_now=True
        )
        q.awaitTermination(300)
        # materialize off the temp dirs before they are deleted
        out = read_pairs(spark, index).localCheckpoint(eager=True)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_shuffle)
        for d in (src, index, ckpt):
            shutil.rmtree(d, ignore_errors=True)
    return out


@query(
    "stream_dedup_exactly_once",
    oracle="SELECT DISTINCT event_id FROM events",
)
def stream_dedup_exactly_once(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-once event ids from an at-least-once source: the
    fixture events are delivered TWICE (union) through a real
    Structured Streaming job with state-store dedup on the delivery
    key (streaming/dedup.py). The reference handles duplicates by
    rerunning batch overwrites (/root/reference/README.md:26-33);
    this is the streaming-native equivalent. The watermark-bounded
    variant (state pruned to the delay horizon) is exercised in
    tests/test_streaming_dedup.py."""
    from .streaming.dedup import run_stream_dedup_bounded

    ev = _t(spark, sf_dir, "events").select("event_id")
    doubled = ev.unionAll(ev)
    return run_stream_dedup_bounded(spark, doubled, ["event_id"])


@query(
    "ext_ann_recall",
    # Both ANN paths are deterministic, so even the QUALITY METRIC is
    # oracle-checkable: the oracle nests the exact-top-k and IVF
    # oracle chains as CTEs and recomputes recall@5 from scratch.
    # The nesting is a DEFERRED token (resolved in registry.py after
    # every sub-registry has registered): indexing ORACLES here at
    # import time broke when a test imported a sub-registry module
    # before registry_ext had populated those keys.
    oracle="""
    WITH exact_topk AS (__ORACLE_EXT_SIMILARITY_TOPK__),
    approx_topk AS (__ORACLE_EXT_SIMILARITY_IVF__)
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
    from .operators import similarity

    emb = _t(spark, sf_dir, "embeddings")
    queries_df = emb.filter(F.col("vec_id") < 10)
    exact = similarity.cosine_topk(emb, queries_df, k=5).select(
        "query_id", "neighbor_id"
    )
    # the approx path under evaluation is the REGISTERED one — the
    # trained-k-means IVF (ext_similarity_ivf), whose oracle chain the
    # token above nests verbatim
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
    "ext_triangle_count",
    # Row-value comparisons mirror the (degree, id) orientation /
    # wedge ordering; every intermediate is a pure function of the
    # edge set, so the per-node counts match exactly.
    oracle="""
    WITH li AS (SELECT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
    und AS (
      SELECT a.pk AS u, b.pk AS v
      FROM li a JOIN li b USING (ok) WHERE a.pk < b.pk
      GROUP BY 1, 2
      HAVING COUNT(DISTINCT ok) >= 2
    ),
    deg AS (
      SELECT node, COUNT(*) AS d FROM (
        SELECT u AS node FROM und UNION ALL SELECT v AS node FROM und
      ) GROUP BY 1
    ),
    o AS (
      SELECT CASE WHEN (du.d, e.u) < (dv.d, e.v) THEN e.u ELSE e.v END AS src,
             CASE WHEN (du.d, e.u) < (dv.d, e.v) THEN e.v ELSE e.u END AS dst,
             CASE WHEN (du.d, e.u) < (dv.d, e.v) THEN dv.d ELSE du.d END AS dd
      FROM und e
      JOIN deg du ON e.u = du.node
      JOIN deg dv ON e.v = dv.node
    ),
    w AS (
      SELECT o1.src AS a, o1.dst AS lo, o2.dst AS hi
      FROM o o1 JOIN o o2 ON o1.src = o2.src
      WHERE (o1.dd, o1.dst) < (o2.dd, o2.dst)
    ),
    tri AS (
      SELECT a, lo, hi FROM w
      JOIN (SELECT src, dst FROM o) c ON w.lo = c.src AND w.hi = c.dst
    )
    SELECT node AS part_key, CAST(COUNT(*) AS BIGINT) AS n_triangles
    FROM (
      SELECT a AS node FROM tri
      UNION ALL SELECT lo FROM tri
      UNION ALL SELECT hi FROM tri
    )
    GROUP BY 1
    ORDER BY n_triangles DESC, part_key
    LIMIT 30
    """,
)
def ext_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-30 parts by triangle participation in the co-purchase
    graph (operators/graph.py): triangles are triples of products
    pairwise bought together — the densest-community signal a
    recommender mines from the same edge list PageRank ranks.

    Edges are support-filtered first (pairs co-purchased in ≥2
    distinct orders): co-purchase graphs densify superlinearly with
    order volume, and support thresholding is the standard
    market-basket sparsification — it prunes the one-off coincidence
    pairs that carry no signal AND bounds the graph the triangle pass
    sees (at sf0.1 it cuts the edge list ~20×). On the thinned graph,
    degree-based edge orientation bounds wedge generation at
    O(E^{3/2}) no matter how skewed the popular-product degrees are;
    the deterministic (degree, id) tiebreak makes the whole pipeline —
    and the oracle's CTE replay — exact."""
    from .operators.graph import triangle_counts

    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    a = li.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("u"))
    b = li.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("v"))
    edges = (
        a.join(b, ["ok"])
        .filter(F.col("u") < F.col("v"))
        .groupBy("u", "v")
        .agg(F.countDistinct("ok").alias("_support"))
        .filter(F.col("_support") >= 2)
        .select("u", "v")
    )
    return (
        triangle_counts(edges)
        .select(F.col("node").alias("part_key"), "n_triangles")
        .orderBy(F.col("n_triangles").desc(), "part_key")
        .limit(30)
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
    WITH {_SH_CAPPED},
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
    ``materialize=True`` = self-cleaning cache mode: the pair list is
    checkpointed and the shingle cache released inside the call, so
    repeated invocations (bench loops, services) pin nothing."""
    from .operators.neardup import shingle_containment_pairs

    docs = _t(spark, sf_dir, "documents")
    return shingle_containment_pairs(docs, n=3, threshold=0.6, materialize=True)


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


@query(
    "ext_cohort_retention",
    # ISO week truncation (Monday) agrees between Spark date_trunc and
    # DuckDB date_trunc; offsets are integer floor-divided day gaps.
    oracle="""
    WITH firsts AS (
      SELECT user_id,
             CAST(date_trunc('week', MIN(CAST(ts AS DATE))) AS DATE) AS cohort_week
      FROM events GROUP BY 1
    ),
    activity AS (
      SELECT DISTINCT e.user_id, f.cohort_week,
        CAST((CAST(e.ts AS DATE) - f.cohort_week) // 7 AS BIGINT) AS week_offset
      FROM events e JOIN firsts f USING (user_id)
    )
    SELECT cohort_week, week_offset,
           CAST(COUNT(*) AS BIGINT) AS active_users
    FROM activity
    WHERE week_offset <= 8
    GROUP BY 1, 2
    """,
)
def ext_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention over the clickstream: users are
    cohorted by the ISO week of their first event; each later active
    week increments the (cohort, offset) cell — the standard retention
    triangle behind every growth dashboard, extending the reference's
    BI family (SURVEY §2.6) with a two-level self-referencing
    aggregate. Plan: one min-aggregation on user, one join back on the
    same key (co-partitioned — the first shuffle's partitioning is
    reused), one distinct + count. Offsets are capped at 8 weeks to
    bound the output, not the work."""
    from .plans.silver import silver_events

    ev = silver_events(_t(spark, sf_dir, "events"))
    ed = ev.select(
        F.col("user_id").cast("long").alias("user_id"),
        F.col("event_ts").cast("date").alias("event_date"),
    )
    firsts = ed.groupBy("user_id").agg(
        F.date_trunc("week", F.min("event_date")).cast("date").alias("cohort_week")
    )
    activity = (
        ed.join(firsts, ["user_id"])
        .select(
            "user_id",
            "cohort_week",
            F.floor(
                F.datediff(F.col("event_date"), F.col("cohort_week")) / 7
            ).alias("week_offset"),
        )
        .distinct()
    )
    return (
        activity.filter(F.col("week_offset") <= 8)
        .groupBy("cohort_week", "week_offset")
        .agg(F.count(F.lit(1)).alias("active_users"))
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
    from .operators import quantize

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
    from .operators.classifier import (
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


# The stratified keep-rates live with ext_sample_stratified; the
# sampled-train composition below must use the SAME sample (that is
# the point of the composition). registry.py imports registry_ext
# before this module, so the import is cycle-free.
from .registry_ext import _STRATA_RATES, _STRATA_SQL  # noqa: E402

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


# Deferred oracle-nesting tokens (see registry.resolve_deferred_oracles):
# this module may be the first-imported, hence the last to finish — run
# the idempotent resolver so every token is spliced regardless of order.
from .registry import resolve_deferred_oracles as _rdo  # noqa: E402
_rdo()
del _rdo

"""Graph queries over the product co-purchase graph: PageRank, label
propagation, k-hop BFS, triangle counts and negative-edge sampling.

The iterative queries (PageRank, label propagation, k-hop BFS) run a
fixed number of driver-loop iterations, and each oracle unrolls the
same iterations in DuckDB as chained CTEs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.pagerank import pagerank_int
from ._core import _t, query


# ---------------------------------------------------------------------------
# PageRank and triangle counts over the co-purchase graph
# ---------------------------------------------------------------------------

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
    from ..operators.graph import triangle_counts

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


# ---------------------------------------------------------------------------
# Community detection: synchronous min-label propagation
# ---------------------------------------------------------------------------


def _copurchase_edges(li: DataFrame, dedupe: bool = False) -> DataFrame:
    """Directed co-purchase edge list (src, dst), both directions,
    cached — three queries read it (label propagation and k-hop BFS
    iterate over it; negative-edge sampling anti-joins against it).
    Equi-join on the order key, so pair generation is per-basket,
    never a global cartesian.

    ``dedupe`` is OFF by default: the iterating consumers fold
    neighbors through MIN, which is duplicate-insensitive, and the
    measured dup rate of basket pairs is <1% — a full ``distinct``
    shuffle of the edge relation buys nothing (removing it was ~1.6x
    on the sf0.1 bench). Pass ``dedupe=True`` for any consumer whose
    aggregate is multiplicity-sensitive (counts, sums, degree
    weights).

    Cache discipline: each call pins ONE CacheManager entry (the edge
    relation) that this helper cannot release — its consumers return
    lazy frames that still read it. Loopy callers must
    ``spark.catalog.clearCache()`` between invocations (bench.py
    does, between every timed run); one-shot callers (the driver's
    correctness pass) leak at most one edge-relation per query, which
    dies with the session. Same contract as
    operators/neardup.ngram_jaccard_pairs."""
    # r13 probe (decision record, OPTIMIZATION_r13.md): rebuilding
    # this as a per-basket collect_set + double explode (the shape
    # _copurchase_graph adopted for PageRank) measured ~1.45x SLOWER
    # here at sf0.1, even with a spread-before-explode repartition —
    # these consumers never distinct the pairs, so the self-join
    # formulation generates them with ZERO exchanges locally (the ok
    # side broadcasts) while the basket build pays its groupBy
    # exchange with nothing downstream to amortize it. PageRank's
    # build keeps the basket shape because its mandatory distinct
    # re-exchanges either way.
    a = li.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("src"))
    b = li.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("dst"))
    edges = (
        a.join(b, ["ok"])
        .filter(F.col("src") != F.col("dst"))
        .select("src", "dst")
    )
    if dedupe:
        edges = edges.distinct()
    return edges.cache()


def _label_prop_oracle(iterations: int = 3) -> str:
    """Unrolled DuckDB mirror of the Spark loop: one (join+group,
    realign) CTE pair per iteration, LEAST/COALESCE identical."""
    sql = """
    WITH nodes AS (SELECT DISTINCT l_partkey AS node FROM lineitem),
    edges AS (
      SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
      FROM lineitem a JOIN lineitem b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey != b.l_partkey
    ),
    l0 AS (SELECT node, node AS lbl FROM nodes)"""
    prev = "l0"
    for i in range(1, iterations + 1):
        sql += f""",
    c{i} AS (
      SELECT e.dst AS node, MIN(l.lbl) AS nmin
      FROM edges e JOIN {prev} l ON e.src = l.node GROUP BY 1
    ),
    l{i} AS (
      SELECT l.node, LEAST(l.lbl, COALESCE(c.nmin, l.lbl)) AS lbl
      FROM {prev} l LEFT JOIN c{i} c ON l.node = c.node
    )"""
        prev = f"l{i}"
    sql += f"""
    SELECT node AS part_key, CAST(lbl AS BIGINT) AS community
    FROM {prev}"""
    return sql


@query("ext_label_propagation", oracle=_label_prop_oracle(3))
def ext_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community detection on the product co-purchase graph via
    synchronous min-label propagation, 3 fixed iterations: every
    vertex starts labeled with its own id and repeatedly takes the
    minimum of its own and its neighbors' labels. Complements
    ext_pagerank_copurchase (importance) and ext_dedup_clusters
    (exact components via pointer jumping): fixed-round label
    propagation is the bounded-cost approximation used when a full
    convergence loop is too expensive per batch.

    Integer labels make every step exact BIGINT MIN/LEAST, so the
    oracle replays the identical iterations as unrolled CTEs (the
    oracle's edge CTE keeps DISTINCT; MIN is duplicate-insensitive,
    so the non-deduped Spark edges give the identical result). Per
    iteration: one join of the cached edges against the BROADCAST
    label relation (node-dimension-sized — |parts| here; for graphs
    whose vertex set outgrows the broadcast threshold, drop the hint
    and Catalyst falls back to a shuffle join) + one MIN shuffle on
    the destination + one dimension-sized left join — no driver-side
    iteration state. Skipping the edge distinct + broadcasting labels
    measured 2.3x on the sf0.1 bench vs the naive shape.
    """
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    nodes = li.select(F.col("l_partkey").alias("node")).distinct()
    edges = _copurchase_edges(li)
    lbl = nodes.select("node", F.col("node").alias("lbl"))
    for _ in range(3):
        inc = (
            edges.join(F.broadcast(lbl), edges["src"] == lbl["node"])
            .groupBy(F.col("dst").alias("node"))
            .agg(F.min("lbl").alias("nmin"))
        )
        lbl = lbl.join(inc, ["node"], "left").select(
            "node",
            F.least(
                F.col("lbl"), F.coalesce(F.col("nmin"), F.col("lbl"))
            ).alias("lbl"),
        )
        # truncate the label lineage each round (r14; the CC loop's
        # shape): un-checkpointed, iteration t's broadcast build
        # re-executed iterations 1..t−1 — the event-log profile
        # showed 30 stages and the lineitem scan repeated ~10× for 3
        # iterations (quadratic re-execution). The checkpoint bounds
        # plan depth at any iteration count; A/B at sf0.1: 4.10 →
        # 3.80 s median, identical output.
        lbl = lbl.localCheckpoint(eager=True)
    return lbl.select(
        F.col("node").alias("part_key"), F.col("lbl").cast("long").alias("community")
    )


# ---------------------------------------------------------------------------
# k-hop BFS distances from a seed set
# ---------------------------------------------------------------------------


def _khop_oracle(hops: int = 2) -> str:
    """Unrolled DuckDB mirror of the Spark BFS loop: one
    (propagate+min, full-join merge) CTE pair per hop, explicit CASE
    instead of LEAST so NULL handling is identical in both engines."""
    sql = """
    WITH edges AS (
      SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
      FROM lineitem a JOIN lineitem b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey != b.l_partkey
    ),
    d0 AS (
      SELECT DISTINCT l_partkey AS node, CAST(0 AS BIGINT) AS dist
      FROM lineitem WHERE l_partkey % 97 = 0
    )"""
    prev = "d0"
    for i in range(1, hops + 1):
        sql += f""",
    c{i} AS (
      SELECT e.dst AS node, MIN(d.dist) + 1 AS nd
      FROM edges e JOIN {prev} d ON e.src = d.node GROUP BY 1
    ),
    d{i} AS (
      SELECT COALESCE(d.node, c.node) AS node,
        CASE WHEN d.dist IS NULL THEN c.nd
             WHEN c.nd IS NULL THEN d.dist
             WHEN c.nd < d.dist THEN c.nd ELSE d.dist END AS dist
      FROM {prev} d FULL JOIN c{i} c ON d.node = c.node
    )"""
        prev = f"d{i}"
    sql += f"""
    SELECT node AS part_key, CAST(dist AS BIGINT) AS dist
    FROM {prev}"""
    return sql


@query("ext_graph_khop", oracle=_khop_oracle(2))
def ext_graph_khop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-hop BFS (k=2) on the co-purchase graph from a deterministic
    seed set (part keys divisible by 97): every part reachable within
    2 hops gets its exact hop distance — the "products adjacent to a
    recalled SKU" / feature-neighborhood expansion primitive. Differs
    from ext_label_propagation in state semantics: the reached set
    GROWS per round (full-outer merge of the frontier) instead of
    relabeling a fixed vertex set.

    Scale shape per hop: one join of the cached edge relation against
    the BROADCAST distance relation (it starts seed-sized and stays
    bounded by the reachable vertex set — the classic frontier-is-
    small BFS regime; for frontiers past the broadcast threshold drop
    the hint), one MIN shuffle on the destination, one full-outer
    merge keyed on the node. MIN is duplicate-insensitive, so the
    non-deduped edge relation (see _copurchase_edges) gives results
    identical to the oracle's DISTINCT edge CTE. Distances stay exact
    BIGINTs so the unrolled-CTE oracle replays bit-identically.
    """
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    edges = _copurchase_edges(li)
    dist = (
        li.filter(F.col("l_partkey") % 97 == 0)
        .select(F.col("l_partkey").alias("node"))
        .distinct()
        .withColumn("dist", F.lit(0).cast("long"))
    )
    for _ in range(2):
        inc = (
            edges.join(F.broadcast(dist), edges["src"] == dist["node"])
            .groupBy(F.col("dst").alias("n"))
            .agg((F.min("dist") + 1).alias("nd"))
        )
        dist = (
            dist.join(inc, dist["node"] == inc["n"], "full_outer")
            .select(
                F.coalesce(F.col("node"), F.col("n")).alias("node"),
                F.when(F.col("dist").isNull(), F.col("nd"))
                .when(F.col("nd").isNull(), F.col("dist"))
                .when(F.col("nd") < F.col("dist"), F.col("nd"))
                .otherwise(F.col("dist"))
                .alias("dist"),
            )
        )
    return dist.select(
        F.col("node").alias("part_key"), F.col("dist").cast("long").alias("dist")
    )


# ---------------------------------------------------------------------------
# Deterministic negative-edge sampling (link-prediction training data)
# ---------------------------------------------------------------------------

_NEG_K = 3


@query(
    "ext_negative_edges",
    oracle=f"""
    WITH li AS (SELECT l_orderkey, l_partkey FROM lineitem),
    nodes AS (SELECT DISTINCT l_partkey AS node FROM li),
    mx AS (SELECT MAX(p_partkey) AS max_pk FROM part),
    cand AS (
      SELECT node, CAST(j AS BIGINT) AS j,
        1 + CAST(('0x' || substring(
              md5('neg:' || CAST(node AS VARCHAR) || ':' || CAST(j AS VARCHAR)),
              1, 8)) AS BIGINT) % max_pk AS partner
      FROM nodes CROSS JOIN mx,
           unnest(range(1, {_NEG_K} + 1)) AS u(j)
    ),
    edges AS (
      SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
      FROM li a JOIN li b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey != b.l_partkey
    )
    SELECT c.node, c.partner, c.j
    FROM cand c
    WHERE c.partner != c.node
      AND NOT EXISTS (
        SELECT 1 FROM edges e WHERE e.src = c.node AND e.dst = c.partner
      )
    """,
)
def ext_negative_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Negative sampling for link prediction on the co-purchase
    graph: each node proposes 3 pseudo-random partners (salted-md5
    of (node, slot) modulo the part-key domain — deterministic, no
    RNG, stable under retries), then self-pairs and REAL co-purchase
    edges are removed by anti-join. What survives is the (node,
    non-neighbor) training negatives a ranking loss needs.

    Scale shape: candidate generation is map-side (3 rows per node
    off a broadcast max-key scalar); the reality check is one
    LEFT ANTI equi-join against the edge relation, partitioned on
    the pair key — the canonical "subtract known positives" shape.
    Collisions (a proposed partner that IS a neighbor) are dropped,
    not resampled: at graph sparsity the loss is a few percent and
    resampling would need data-dependent iteration.
    """
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    nodes = li.select(F.col("l_partkey").alias("node")).distinct()
    mx = _t(spark, sf_dir, "part").agg(F.max("p_partkey").alias("max_pk"))
    cand = (
        nodes.crossJoin(F.broadcast(mx))
        .select(
            "node",
            F.explode(
                F.sequence(F.lit(1).cast("long"), F.lit(_NEG_K).cast("long"))
            ).alias("j"),
            "max_pk",
        )
        .select(
            "node",
            "j",
            (
                1
                + F.conv(
                    F.substring(
                        F.md5(
                            F.concat_ws(
                                "",
                                F.lit("neg:"),
                                F.col("node").cast("string"),
                                F.lit(":"),
                                F.col("j").cast("string"),
                            )
                        ),
                        1,
                        8,
                    ),
                    16,
                    10,
                ).cast("long")
                % F.col("max_pk")
            ).alias("partner"),
        )
        .filter(F.col("partner") != F.col("node"))
    )
    edges = _copurchase_edges(li)
    return cand.join(
        edges,
        (cand["node"] == edges["src"]) & (cand["partner"] == edges["dst"]),
        "left_anti",
    ).select("node", "partner", "j")

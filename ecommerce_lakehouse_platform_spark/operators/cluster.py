"""Connected components over an edge list — the clustering step that
turns near-duplicate *pairs* (MinHash/SimHash/Jaccard output) into
dedup *groups* with one canonical representative per group.

Reference scope note: the reference pipeline has no graph operator at
all (its dedup is keep-latest-by-key,
/root/reference/02_silver/02_silver_transform.py:66-69); this is a
north-star extension for training-data curation, where transitive
closure matters (A≈B, B≈C ⇒ {A,B,C} is one group even when A and C
are not directly similar).

Algorithm: iterative min-label propagation with a path-compression
(pointer-jumping) step each round, entirely in DataFrame ops:

  labels(node) ← node
  repeat:
    labels(node) ← min(labels(node), min over neighbors' labels)   # 1 hop
    labels(node) ← labels(labels(node))                            # jump
  until no label changed

Plain propagation needs O(diameter) rounds; the pointer-jumping step
cuts that to O(log diameter) (the classic Shiloach–Vishkin shortcut,
same idea as the large-star/small-star MapReduce formulation of
Kiveris et al., "Connected Components in MapReduce and Beyond").
Near-dup graphs additionally have tiny diameters in practice, so the
loop converges in a handful of rounds.

Scale design (100 TB):
- each round is two shuffle joins + one partial+final min-agg, all on
  the node key — no collect, no per-node driver state;
- ``localCheckpoint`` after every round truncates the lineage so the
  plan does not grow with iterations (an unbounded iterative lineage
  re-executes the whole history each action and eventually overflows
  the planner);
- the convergence probe exploits monotonicity: every node's label is
  non-increasing under min-propagation, so Σlabels strictly decreases
  until the fixed point — comparing one exact DECIMAL sum per round
  (a map-side partial agg over the checkpointed labels) replaces the
  changed-row shuffle join a naive new-vs-old diff would need;
- edges are symmetrized + distinct'd once up front, so skewy duplicate
  pairs collapse before the loop.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

__all__ = ["connected_components", "dedup_clusters"]


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    node_col: str = "node",
    comp_col: str = "component",
    max_iter: int = 25,
    small_graph_limit: int = 1 << 20,
) -> DataFrame:
    """Return ``(node_col, comp_col)`` where ``comp_col`` is the
    minimum node id reachable from ``node_col`` (undirected).

    Only nodes that appear in ``edges`` are returned; callers attach
    singletons with a left join + ``coalesce`` (see
    :func:`dedup_clusters`).

    SMALL-GRAPH FAST PATH: when the deduped symmetric edge list holds
    at most ``small_graph_limit`` rows (known for free after its
    checkpoint), the components come from one driver-side union-find
    over the collected edges instead of the iterative loop — a
    near-dup pair graph is usually MUCH smaller than the corpus that
    produced it (sf0.1 fixture: 5,000 docs → 256 pairs), and four
    distributed rounds over a few hundred rows is pure scheduling
    overhead. The collect is bounded by the limit (~16 MB of id pairs
    at the 2^20 default — the same driver-traffic class as any
    broadcast), the result is the identical min-reachable-id
    relation (property-tested against the loop), and graphs past the
    limit take the distributed loop exactly as before. Set
    ``small_graph_limit=0`` to force the loop.
    """
    e = edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
    # materialize BEFORE symmetrizing: both union branches reference
    # the edge relation, so an un-checkpointed pair generator (a
    # bucketed cosine join, a capped shingle chain) would evaluate
    # twice — exchange reuse shares the shuffles but not the map-side
    # scoring. One eager checkpoint makes single evaluation a
    # property of the CC kernel instead of a per-caller discipline
    # (r12)
    e = e.localCheckpoint(eager=True)
    und = e.unionByName(e.select(F.col("b").alias("a"), F.col("a").alias("b"))).distinct()
    if small_graph_limit:
        # ONE bounded job decides the path AND, in the small case,
        # already holds the whole edge list: collecting limit+1 rows
        # of the distinct relation either returns every edge (≤ limit
        # ⇒ union-find on the rows in hand) or proves the graph is
        # big (limit+1 rows ⇒ fall through to the loop). This fuses
        # the former checkpoint + count + collect three-job probe
        # into a single CollectLimit — the driver-traffic bound is
        # unchanged (≤ limit+1 id pairs, the same class as any
        # broadcast), and the r13 profile showed the probe jobs were
        # pure scheduling overhead on every CC-backed dedup query.
        rows = und.limit(small_graph_limit + 1).collect()
        if len(rows) <= small_graph_limit:
            return _driver_union_find_rows(
                rows, und.schema["a"].dataType, und.sparkSession,
                node_col, comp_col,
            )
    und = und.localCheckpoint(eager=True)

    labels = (
        und.select(F.col("a").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
        .localCheckpoint(eager=True)
    )

    prev_sum = None
    for _ in range(max_iter):
        # 1-hop: every node offers its label to each neighbor
        msgs = und.join(labels, und["a"] == labels["node"]).select(
            F.col("b").alias("node"), "label"
        )
        new = (
            labels.unionByName(msgs)
            .groupBy("node")
            .agg(F.min("label").alias("label"))
        )
        # pointer jump: follow the label's own label (labels ⊆ nodes)
        parent = new.select(
            F.col("node").alias("p_node"), F.col("label").alias("p_label")
        )
        new = (
            new.join(parent, new["label"] == parent["p_node"], "left")
            .select(
                "node",
                F.least(F.col("label"), F.coalesce("p_label", "label")).alias(
                    "label"
                ),
            )
            .localCheckpoint(eager=True)
        )
        labels = new
        # monotone-sum convergence probe: labels only decrease, so an
        # unchanged exact Σlabels means a fixed point (DECIMAL keeps
        # the sum exact at any node-id magnitude / corpus size)
        cur_sum = new.agg(
            F.sum(F.col("label").cast("decimal(38,0)")).alias("s")
        ).collect()[0]["s"]
        if prev_sum is not None and cur_sum == prev_sum:
            break
        prev_sum = cur_sum

    return labels.select(
        F.col("node").alias(node_col), F.col("label").alias(comp_col)
    )


def _driver_union_find_rows(
    edge_rows, node_type, spark, node_col: str, comp_col: str
) -> DataFrame:
    """Exact min-id components of a BOUNDED, already-collected edge
    list (the rows the small-graph path's single CollectLimit probe
    fetched; the caller enforces the size gate) via classic
    union-find with path compression. Returns the same (node,
    component) relation as the distributed loop, typed ``node_type``
    (the node column's original Spark type)."""
    parent: dict = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edge_rows:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    # component id = MIN node id of the component: with unions always
    # parenting the larger root under the smaller, every root IS its
    # component's minimum
    rows = [(x, find(x)) for x in parent]
    schema = T.StructType(
        [
            T.StructField(node_col, node_type),
            T.StructField(comp_col, node_type),
        ]
    )
    return spark.createDataFrame(rows, schema)


def dedup_clusters(
    items: DataFrame,
    pairs: DataFrame,
    id_col: str,
    pair_a: str = "doc_a",
    pair_b: str = "doc_b",
) -> DataFrame:
    """Full-corpus cluster assignment from a near-dup pair list.

    Every row of ``items`` gets: ``cluster_id`` (min id of its
    connected component — its own id for singletons) and
    ``is_canonical`` (the single keeper row per cluster). Downstream
    dedup is then ``filter(is_canonical)``.
    """
    comp = connected_components(pairs, src=pair_a, dst=pair_b, node_col="__node")
    out = items.join(
        comp, items[id_col] == comp["__node"], "left"
    ).drop("__node")
    cluster = F.coalesce(F.col("component"), F.col(id_col))
    return out.select(
        *[c for c in items.columns],
        cluster.alias("cluster_id"),
        (cluster == F.col(id_col)).alias("is_canonical"),
    )

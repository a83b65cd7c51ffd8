"""Fixed-point PageRank over a DataFrame edge list.

Iterative graph algorithms are the classic "Spark can, notebooks
can't" workload: each iteration is one equi-join (edges × ranks) plus
one aggregation (sum of contributions per destination) — both
shuffle-partitioned on the node key, so a 100 TB edge list runs as W
well-spread stages rather than a single-machine adjacency walk.

Arithmetic is **integer micro-units** (rank 1.0 ≡ 1_000_000), with
floor division for the per-edge split and the damping multiply:

    contribution = rank DIV outdeg
    new_rank     = (1-d)·scale + (d_pct · Σ contributions) DIV 100

Every operation is exact BIGINT math, so the result is deterministic,
order-independent (integer sums commute), and bit-reproducible in any
engine — the DuckDB oracle unrolls the same iterations as chained
CTEs. Float PageRank would make the sum order-dependent and the
cross-engine comparison approximate; fixed-point makes convergence
checks and differential tests exact. (Same trick as the bit-exact
embedding centroids in registry/vectors.py.)

Dangling nodes (no out-edges) simply contribute nothing; their mass
is not redistributed — acceptable for ranking use and stated in the
contract.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def pagerank_int(
    nodes: DataFrame,
    edges: DataFrame,
    iterations: int = 3,
    damping_pct: int = 85,
    scale: int = 1_000_000,
    node_col: str = "node",
    src_col: str = "src",
    dst_col: str = "dst",
    broadcast_ranks: bool = False,
) -> DataFrame:
    """PageRank in integer micro-units. Returns (node, rank_micros).

    ``nodes`` must contain every vertex (isolated vertices keep the
    base (1-d) mass); ``edges`` is a directed, deduplicated edge list.
    The edge×outdegree join is checkpointed once and reused by every
    iteration, so the per-iteration work is join + partial/final sum
    on the destination key.

    ``broadcast_ranks=True`` hints each iteration's rank table into a
    broadcast join — each iteration becomes a map-side pass over the
    cached edges plus one sum shuffle. Correct ONLY when the vertex
    set is dimension-bounded (products, hosts); at web scale the rank
    table is the big side and must stay a shuffle join.

    The result is the full declarative plan over the cached edge and
    vertex relations, which stay pinned (loopy callers clearCache
    between runs).
    """
    base = (100 - damping_pct) * scale // 100
    outdeg = edges.groupBy(src_col).agg(F.count(F.lit(1)).alias("_deg"))
    # outdeg is node-dimension-sized — exactly the bound that
    # justifies broadcast_ranks — so under that flag the degree
    # attach is a broadcast too: the edge relation is never sorted or
    # re-exchanged for a sort-merge join when building the cache (r13;
    # the SMJ's two sorts + exchange were the top stage of the cache
    # fill). Without the flag both stay shuffle joins, as at web scale.
    deg_side = F.broadcast(outdeg) if broadcast_ranks else outdeg
    # cache (not localCheckpoint): the InMemoryRelation keeps the
    # Catalyst plan for the per-iteration joins; lineage depth is fine
    # at small fixed iteration counts (contrast operators/cluster.py,
    # whose unbounded loop does need checkpoint truncation)
    ed = edges.join(deg_side, [src_col]).cache()
    # nodes is read once per iteration for the left-join realignment;
    # cache the projected vertex set so each iteration scans the
    # in-memory relation instead of rebuilding the distinct
    nd = nodes.select(F.col(node_col).alias("node")).cache()
    ranks = nd.select(
        "node", F.lit(scale).cast("long").alias("rank_micros")
    )
    for _ in range(iterations):
        rank_side = F.broadcast(ranks) if broadcast_ranks else ranks
        contrib = (
            ed.join(rank_side, ed[src_col] == rank_side["node"])
            .select(
                F.col(dst_col).alias("node"),
                F.expr("rank_micros DIV _deg").alias("_c"),
            )
            .groupBy("node")
            .agg(F.sum("_c").alias("_incoming"))
        )
        ranks = (
            nd.join(contrib, ["node"], "left")
            .select(
                "node",
                (
                    F.lit(base).cast("long")
                    + F.expr(
                        f"({damping_pct} * coalesce(_incoming, 0L)) DIV 100"
                    )
                ).alias("rank_micros"),
            )
        )
    return ranks

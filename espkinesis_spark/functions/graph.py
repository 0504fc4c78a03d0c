"""Graph algorithms over relational edge tables.

Connected components (local-contraction rounds) lives in functions/dedup.py
where its consumer (near-dup clustering) is; this module holds the
general-purpose iterative fixpoint ops, starting with PageRank.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from espkinesis_spark.functions import common as C


def pagerank(
    edges: DataFrame,
    damping: float = C.PAGERANK_DAMPING,
    iters: int = C.PAGERANK_ITERS,
) -> DataFrame:
    """PageRank over a directed (src, dst) edge table with a fixed
    iteration budget and an engine-portable trajectory: ranks start at
    1/N, each round computes round((1-d)/N + d·Σ_{u→v} r(u)/outdeg(u), 9)
    (the 9-dp round keeps Spark's and a SQL oracle's float summation
    orders aligned, the kmeans-trajectory trick), and the result is
    (node, rank) rounded to 6 dp. Multi-edges weight naturally (outdeg
    counts them); dangling-node mass is NOT redistributed (the simplified
    teleport-only variant — deterministic, and a no-op for bipartite
    src→sink graphs where sinks never emit).

    Scale shape: per round, ONE shuffle — contributions aggregate on dst
    with map-side partials; the rank and out-degree tables are node-sized
    and join the edge table on src (co-partitioned equi-joins; AQE
    broadcasts them while they fit). The iteration budget is fixed — no
    convergence collect, no driver-side data beyond the scalar node
    count, so the loop costs exactly iters × (join + narrow shuffle) at
    any graph size.
    """
    # the edge table feeds every iteration plus the degree build — truncate
    # its lineage once so an expensive upstream edge construction (a join,
    # typically) is not re-executed iters+1 times
    edges = edges.localCheckpoint(eager=True)
    src_nodes = edges.select(F.col("src").alias("node"))
    dst_nodes = edges.select(F.col("dst").alias("node"))
    nodes = src_nodes.union(dst_nodes).distinct().localCheckpoint(eager=True)
    n = float(nodes.count())
    # node-sized and consumed once per round: materialize once instead of
    # re-aggregating the edge table every iteration (30x ladder r7)
    outdeg = (
        edges.groupBy("src")
        .agg(F.count("*").cast("double").alias("od"))
        .localCheckpoint(eager=True)
    )
    ranks = nodes.select("node", F.round(F.lit(1.0) / F.lit(n), 9).alias("r"))
    teleport = F.lit(1.0 - damping) / F.lit(n)
    for _ in range(iters):
        contrib = (
            edges.join(ranks, edges["src"] == ranks["node"])
            .join(outdeg, "src")
            .groupBy("dst")
            .agg(F.sum(F.col("r") / F.col("od")).alias("c"))
        )
        ranks = (
            nodes.join(contrib, nodes["node"] == contrib["dst"], "left")
            .select(
                "node",
                F.round(
                    teleport + F.lit(damping) * F.coalesce(F.col("c"), F.lit(0.0)), 9
                ).alias("r"),
            )
        )
    return ranks.select("node", F.round(F.col("r"), 6).alias("rank"))


def label_propagation(edges: DataFrame, iters: int = C.LPA_ITERS) -> DataFrame:
    """Synchronous label-propagation community detection over a directed
    (src, dst) edge table, treated as undirected (each edge votes both
    ways; multi-edges weight the vote naturally). Labels start as the node
    id; each round every node adopts the most frequent label among its
    neighbors, ties to the lexicographically-smallest label — a fully
    deterministic trajectory the SQL oracle replays round-by-round (the
    pagerank/kmeans trick). Symmetrization makes every node a ``dst`` of
    at least one edge, so the per-round vote argmax covers EVERY node and
    no keep-old-label fallback join is needed (the oracle carries the
    coalesce form; it never fires). Returns (node, community, n_members).

    Scale shape: per round, the node-sized label table joins the edge
    table on src (co-partitioned equi-join; AQE broadcasts while it fits)
    and the vote aggregates in two map-side-partial steps — (node, label)
    count, then a per-node ``min(struct(-count, label))`` argmax, so the
    only full shuffles are keyed by node. Fixed budget, no driver-side
    data, no windows over the edge table.
    """
    # checkpoint the DIRECTED edge table once, THEN symmetrize (r16): the
    # union's two branches each re-ran the upstream edge construction (a
    # join, typically), so materializing after the union paid that join
    # twice; symmetrizing from the checkpointed blocks is a cheap local
    # re-read and halves the construction cost (guide §5 localCheckpoint)
    edges = edges.select("src", "dst").localCheckpoint(eager=True)
    both = edges.union(edges.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    labels = both.select(F.col("src").alias("node")).distinct().select(
        "node", F.col("node").alias("lab")
    )
    for _ in range(iters):
        votes = (
            both.join(labels, both["src"] == labels["node"])
            .groupBy(F.col("dst").alias("vnode"), "lab")
            .agg(F.count("*").alias("c"))
        )
        labels = (
            votes.groupBy("vnode")
            .agg(F.min(F.struct((-F.col("c")).alias("nc"), F.col("lab"))).alias("b"))
            .select(F.col("vnode").alias("node"), F.col("b.lab").alias("lab"))
        )
    # the converged label table feeds TWO branches (community sizes + the
    # final join) — materialize it once or the whole fixed-round vote
    # iteration re-executes per branch (the multi-branch hazard; node-
    # sized checkpoint, measured ~2x on the sf0.1 wall)
    labels = labels.localCheckpoint(eager=True)
    sizes = labels.groupBy("lab").agg(F.count("*").cast("long").alias("n_members"))
    return labels.join(sizes, "lab").select(
        "node", F.col("lab").alias("community"), "n_members"
    )

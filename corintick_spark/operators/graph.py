"""Distributed triangle enumeration over an undirected edge list.

The classic MPC/MapReduce formulation (Suri & Vassilvitskii, "Counting
Triangles and the Curse of the Last Reducer", WWW 2011 — public
knowledge): orient every undirected edge from its lower to its higher
endpoint in the TOTAL ORDER (degree, node), build wedges by self-joining
oriented edges on their source, and close each wedge with one more
equi-join. Degree orientation is the part that scales: every node's
out-degree is bounded by O(sqrt(m)) on real (power-law) graphs, so the
wedge join produces O(m^1.5) rows worst-case instead of sum(deg^2) —
the hub node that would explode an id-ordered orientation becomes a
wedge *target*, never a wedge *source*.

Output is orientation-independent: each triangle appears exactly once and
is emitted as its id-sorted triple, so an id-ordered SQL oracle matches
even though the physical join order here is degree-ordered.

Everything is equi-joins + one aggregation — no cross join, no driver
round-trips; the plan is three shuffles on node keys.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
import pyspark.sql.functions as F

from corintick_spark.operators.ckpt import (
    materialize,
    release_local_checkpoint,
    runs_locally,
)


def triangles(edges: DataFrame, src: str = "src", dst: str = "dst") -> DataFrame:
    """Enumerate triangles of the undirected graph given as an edge list
    (duplicates / self-loops / reversed duplicates tolerated). Returns one
    row per triangle with columns (n1, n2, n3), id-sorted ascending."""
    # canonical undirected edge set
    e = (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("u"),
            F.greatest(F.col(src), F.col(dst)).alias("v"),
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )

    # total order key (degree, node): ties broken by id so the order is total
    deg = (
        e.select(F.col("u").alias("node"))
        .unionAll(e.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("deg"))
    )
    du = deg.select(F.col("node").alias("u"), F.struct("deg", F.col("node").alias("n")).alias("ku"))
    dv = deg.select(F.col("node").alias("v"), F.struct("deg", F.col("node").alias("n")).alias("kv"))
    oriented = (
        e.join(du, "u")
        .join(dv, "v")
        .select(
            F.when(F.col("ku") < F.col("kv"), F.col("u")).otherwise(F.col("v")).alias("x"),
            F.when(F.col("ku") < F.col("kv"), F.col("v")).otherwise(F.col("u")).alias("y"),
            F.when(F.col("ku") < F.col("kv"), F.col("kv")).otherwise(F.col("ku")).alias("ky"),
        )
    )

    # wedges from each low-order source; keep one ordering (b < c in the
    # total order) so each wedge — and hence each triangle — appears once
    a = oriented.select(F.col("x").alias("a"), F.col("y").alias("b"), F.col("ky").alias("kb"))
    b = oriented.select(F.col("x").alias("a"), F.col("y").alias("c"), F.col("ky").alias("kc"))
    wedges = a.join(b, "a").filter(F.col("kb") < F.col("kc")).select("a", "b", "c")

    closing = oriented.select(F.col("x").alias("b"), F.col("y").alias("c"))
    tri = wedges.join(closing, ["b", "c"])

    srt = F.array_sort(F.array("a", "b", "c"))
    return tri.select(
        srt.getItem(0).alias("n1"),
        srt.getItem(1).alias("n2"),
        srt.getItem(2).alias("n3"),
    )


def bfs_hops(
    edges: DataFrame,
    seeds: DataFrame,
    src: str = "src",
    dst: str = "dst",
    node: str = "node",
    max_iter: int = 30,
) -> DataFrame:
    """Multi-source shortest-hop BFS: (node, hops) for every node reachable
    from `seeds` following edge direction, hops = length of the SHORTEST
    path (level-synchronous, so first discovery IS the minimum). Edges with
    a NULL endpoint are dropped; a NULL seed is reported at hop 0 and
    reaches nothing.

    Scale shape: each level is frontier ⋈ edges (equi-join on src) → new
    nodes anti-joined against the visited set. Every level's frontier is a
    checkpoint that carries its measured size, so AQE broadcasts it while
    it is small (the common case — frontiers are ≪ |V|: one pass over the
    edge partitions with NO edge shuffle) and shuffles it when it is not.
    The visited set grows monotonically and is
    localCheckpoint-ed per level to cut lineage (same segmenting discipline
    as pagerank/connected_components; at 100 TB the checkpoint would be a
    durable table swap). The frontier-size scalar that drives loop
    termination is counted by each level's checkpoint job, so a level runs
    no separate action. ``max_iter`` is a depth limit: nodes further than
    ``max_iter`` hops are absent from the result, not an error.

    Local route: the edge list is materialized once, and its checkpoint job
    counts it. At most ``ckpt._LOCAL_EDGES`` (2^20) edges are read with one
    ``toArrow()`` and searched in numpy on the driver
    (operators/local_graph.py), with the same ``max_iter`` depth limit, and
    the result is a local relation; only larger edge lists run the
    per-level loop above.
    """
    # materialize the edge list ONCE before the loop: every level joins
    # against e, and without the checkpoint each level re-executed the
    # caller's entire edge DERIVATION (for the registered graph_bfs that
    # is a 3-table fact join + distinct, re-run per hop — the same disease
    # sql_recursive had). Same discipline as pagerank's edge list.
    e, st = materialize(
        edges.select(
            F.col(src).cast("long").alias("src"),
            F.col(dst).cast("long").alias("dst"),
        )
        .filter(F.col("src").isNotNull() & F.col("dst").isNotNull())
        .distinct()
    )
    seeds = seeds.select(F.col(node).cast("long").alias(node))
    if runs_locally(e, st["rows"], "src", "dst"):
        from corintick_spark.operators import local_graph

        return local_graph.bfs(e, seeds, node, max_iter)
    frontier, st = materialize(seeds.distinct().select(node, F.lit(0).alias("hops")))
    visited, nxt = frontier, None
    for level in range(1, max_iter + 1):
        nxt, st = materialize(
            e.join(frontier.select(F.col(node).alias("src")), "src")
            .select(F.col("dst").alias(node))
            .distinct()
            .join(visited.select(node), node, "left_anti")
            .select(node, F.lit(level).alias("hops"))
        )
        if st["rows"] == 0:
            break
        # the old visited set and the previous frontier (at level 1 the
        # same frame) are done once the new visited set materialized
        visited, _ = materialize(visited.unionByName(nxt), visited, frontier)
        frontier = nxt
    # the result is its own checkpoint: the edge list, the last frontier
    # and an empty last level are done
    for done in (e, frontier, nxt):
        if done is not None and done is not visited:
            release_local_checkpoint(done)
    return visited

"""Weighted PageRank: power iteration over a distributed edge list.

The iterative-algorithms tier beyond connected components
(operators/dup_clusters.py): importance propagation over a graph too large
for one machine — link graphs for crawl prioritization, citation graphs for
document weighting in a training-data pipeline. corintick had no graph tier
(SURVEY.md §2.1 — client-side pandas †); this is the standard Pregel-shaped
formulation as plain DataFrame ops.

Scale discipline (the same rules as the connected-components driver loop):

- the normalized edge list is materialized ONCE (``ckpt.materialize``), and
  its checkpoint job also counts it. An edge list of at most
  ``ckpt._LOCAL_EDGES`` (2^20) rows with no NULL endpoint and integral or
  string ids takes the LOCAL route: one ``toArrow()`` of the checkpoint and
  a numpy power iteration on the driver (operators/local_graph.py) with
  the same segment schedule and ``tol`` reads, returned as a local
  relation — no loop round is a Spark job. Everything below describes the
  distributed route, which every larger edge list takes (the 100 TB path);
- the normalized edge list is partitioned by ``src`` ONCE, cached, and
  reused every iteration — only the small (node, rank) table moves through
  a shuffle per round;
- INTRA-SEGMENT steps reference the previous rank frame exactly ONCE:
  contribution-less nodes are kept alive by rows of the STATIC cached node
  table, and the dangling mass rides the rank frame itself (below), so the
  logical plan grows LINEARLY with segment length instead of ~2^K — which
  is what lets a full default run execute as one Spark job
  (``checkpoint_every=8``) instead of paying a materialization barrier
  every few steps;
- each segment's rank frame is eagerly ``localCheckpoint``-ed and the
  previous one released, truncating the logical plan;
- dangling mass (rank on nodes with no out-edges) stays IN-PLAN and in
  the SAME per-round join and exchange as the contributions: the rank
  frame carries it as a sentinel row (node NULL), a pending offset that
  every node's rank still has to add, and sentinel edges in the
  normalized edge list move it (edges with a NULL endpoint are dropped up
  front, so NULL is no node). Each segment's last step adds the offset in,
  so every checkpoint holds true ranks — no ``.first()`` driver round-trip
  inside the update job;
- contribution-less nodes are kept alive by zero-rows UNIONED into the
  per-round aggregate, not by re-joining the aggregate against
  the node universe — the old shape paid a second broadcast build plus a
  join per round (broadcast path) or a full extra join shuffle (shuffle
  path); 0.0 is the additive identity for the all-positive IEEE partial
  sums, so ranks are unchanged;
- the loop body runs no action besides the eager checkpoint: the
  CONVERGENCE READ (sum of |Δrank|, which terminates the loop when the L1
  delta drops below ``tol``) is computed by the segment's checkpoint job
  itself (``ckpt.materialize``). ``_diff`` is computed only on the LAST
  step of each segment (the only one the convergence read consumes), so
  intermediate steps stay single-reference.

Float caveat: per-destination contribution sums are float and therefore
order-dependent in the last ulps; ranks are deterministic to ~1e-12 but not
bit-stable, so the registry entry is rows-only (the differential unit test
checks against a dense numpy power iteration at 1e-9 with tol=0).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
import pyspark.sql.functions as F

from corintick_spark.operators.ckpt import (
    broadcastable,
    materialize,
    release_local_checkpoint,
    runs_locally,
)


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    weight: str | None = None,
    damping: float = 0.85,
    iterations: int = 10,
    tol: float = 0.0,
    checkpoint_every: int = 8,
    merge_parallel: bool = True,
) -> DataFrame:
    """Return (node, rank) after at most ``iterations`` rounds of weighted
    PageRank, stopping early once the L1 rank delta falls below ``tol``
    (``tol=0`` disables early exit — exact fixed-iteration semantics).
    ``iterations`` is a budget: running out of it returns the ranks so far,
    converged or not.

    edges: directed (src, dst[, weight]) list; parallel edges are merged by
    summing weights, and edges with a NULL endpoint are dropped. Unweighted
    edges get weight 1. Ranks sum to 1 (dangling mass redistributed
    uniformly each round).

    ``checkpoint_every``: iterations per materialization segment. K update
    rounds run as ONE Spark job; intra-segment steps reference their
    predecessor exactly once (contributions join against
    the static node table), so the plan grows linearly in K and the old
    ~2^K blowup that forced K<=4 is gone, on graphs with dangling nodes
    too. The convergence check happens at segment boundaries.

    ``merge_parallel``: the parallel-edge merge
    (``groupBy(src, dst).sum(w)``) is one full shuffle of the edge list
    before the loop even starts. Callers whose edge construction already
    guarantees one row per (src, dst) pass ``False`` to skip it; the rows
    are identical by the caller's own construction. Leave ``True`` for raw
    edge lists.
    """
    w = F.col(weight) if weight else F.lit(1.0)
    # materialized once: the node table and norm both derive from e —
    # without this the (possibly expensive) upstream edge construction
    # re-executes once per derived frame before the loop even starts. The
    # same job counts the edges for the route and the partition count.
    e = edges.select(
        F.col(src).alias("src"), F.col(dst).alias("dst"), w.alias("w")
    ).filter(
        (F.col("w") > 0) & F.col("src").isNotNull() & F.col("dst").isNotNull()
    )
    if merge_parallel:
        e = e.groupBy("src", "dst").agg(F.sum("w").alias("w"))
    e, st = materialize(e)
    if runs_locally(e, st["rows"], "src", "dst"):
        from corintick_spark.operators import local_graph

        return local_graph.pagerank(e, damping, iterations, tol, checkpoint_every)
    # The partition COUNT is sized to the edge list (~250k edges per
    # partition, capped at 16x the cluster's core count), not inherited
    # from spark.sql.shuffle.partitions: the loop body touches norm 8-10
    # times, so per-task scheduling overhead on an over-partitioned edge
    # list multiplies across iterations (measured 2x on a 1.2M-edge graph
    # at 32 partitions vs 4-8).
    n_edges = st["rows"]
    nparts = max(1, min(
        -(-n_edges // 250_000),
        16 * e.sparkSession.sparkContext.defaultParallelism,
    ))
    # node table: ONE explode+groupBy pass over e yields the node set, the
    # static is_dangling flag (never appears as src) AND the per-source
    # out-weight (two aggregations keyed compatibly share one pass).
    nodes = (
        e.select(
            F.explode(
                F.array(
                    F.struct(
                        F.col("src").alias("node"),
                        F.lit(1).alias("_s"),
                        F.col("w").alias("_w"),
                    ),
                    F.struct(
                        F.col("dst").alias("node"),
                        F.lit(0).alias("_s"),
                        F.lit(0.0).alias("_w"),
                    ),
                )
            ).alias("ns")
        )
        .groupBy(F.col("ns.node").alias("node"))
        .agg(
            (F.max("ns._s") == 0).alias("is_dangling"),
            F.sum(F.when(F.col("ns._s") == 1, F.col("ns._w"))).alias("out_w"),
        )
        # the cache would otherwise pin the aggregation's full
        # spark.sql.shuffle.partitions layout (AQE cannot re-plan a cached
        # frame), and the per-round zero-rows branch then pays that many
        # near-empty tasks EVERY round (measured: 32 extra tasks per round
        # at sf0.1). The node table is O(|nodes|) rows of three
        # narrow columns — size its partitions like the edge list's.
        .coalesce(max(1, min(
            -(-n_edges // 1_000_000),
            e.sparkSession.sparkContext.defaultParallelism,
        )))
        .cache()
    )
    # one action feeds the node count AND the dangling probe
    head = nodes.agg(
        F.count(F.lit(1)).alias("n"),
        F.coalesce(F.max(F.col("is_dangling").cast("int")), F.lit(0)).alias("d"),
    ).first()
    n_nodes = int(head["n"])  # one scalar, fixed for the whole run
    if n_nodes == 0:  # empty graph: empty result, not a ZeroDivisionError
        # norm is built below, after this guard; e stays, as empty reads it
        nodes.unpersist()
        return nodes.select("node", F.lit(0.0).alias("rank"))
    has_dangling = bool(head["d"])
    ranks, _ = materialize(nodes.select("node", F.lit(1.0 / n_nodes).alias("rank")))
    # Every rank frame holds one row per node, but inside a segment it is a
    # lazy aggregate whose estimate is the product of a join's inputs, so
    # Catalyst plans a shuffle of norm each step (AQE converts the join to
    # a broadcast only after both sides ran; measured +27% on graph_pagerank
    # at sf0.1). The initial rank checkpoint's size is measured: broadcast
    # the rank frames when it fits the session's broadcast threshold.
    bcast = broadcastable(ranks)
    # norm's layout: when the rank table is broadcast, norm's partitioning
    # is irrelevant to the join, and a coalesce to the target count keeps
    # the few-large-tasks shape the loop wants WITHOUT a full payload
    # shuffle up front (measured: norm materialization 2.4s -> ~0.6s at
    # 1.17M edges). Otherwise a hash repartition on src lets the per-round
    # rank exchange co-locate against it.
    out_w = nodes.filter(~F.col("is_dangling")).select(
        F.col("node").alias("src"), "out_w"
    )
    norm = e.join(out_w, "src").select(
        "src", "dst", (F.col("w") / F.col("out_w")).alias("frac")
    )
    if has_dangling:
        # The dangling mass rides the rank frame as a pending uniform
        # offset: a sentinel row (node NULL, rank s) means "add s to every
        # node's rank". Sentinel edges carry it through the SAME join and
        # exchange as the contributions: each dangling node sends its whole
        # rank to the sentinel (frac 1), the sentinel sends every node v
        # s * in_frac(v) (the sum of v's in-edge fractions) and itself
        # s * (dangling node count). The sentinel's group then sums the
        # true dangling mass D, and the update sets s' = d * D / n. When
        # the rank table is not broadcast, the sentinel's edges share one
        # join key: that partition's skew is left to AQE's skew-join split.
        null = F.lit(None).cast(dict(norm.dtypes)["dst"])
        dangling = nodes.filter(F.col("is_dangling"))
        to_sentinel = dangling.select(
            F.col("node").alias("src"), null.alias("dst"), F.lit(1.0).alias("frac")
        )
        in_frac = norm.groupBy("dst").agg(F.sum("frac").alias("frac"))
        self_frac = dangling.agg(
            F.count(F.lit(1)).cast("double").alias("frac")
        ).select(null.alias("dst"), "frac")
        from_sentinel = in_frac.unionByName(self_frac).select(
            null.alias("src"), "dst", "frac"
        )
        norm = norm.unionByName(to_sentinel).unionByName(from_sentinel)
    norm = (
        norm.coalesce(nparts) if bcast else norm.repartition(nparts, "src")
    ).cache()
    zero_rows = nodes.select(F.col("node").alias("dst"), F.lit(0.0).alias("_part"))
    # the sentinel's NULL key has to meet its edges; without a sentinel a
    # plain equi-join keeps norm's src partitioning usable by the join
    on = (
        F.col("src").eqNullSafe(F.col("_src")) if has_dangling
        else F.col("src") == F.col("_src")
    )

    def step(prev: DataFrame) -> DataFrame:
        # Each step references the previous rank frame exactly ONCE (the
        # sentinel rides it), so a segment's plan grows linearly in its
        # length. One union row (dst=node, part=0.0) per node folded into
        # the contribution aggregate makes every node's group exist, so no
        # join re-attaches contribution-less nodes — per round: ONE rank
        # join + ONE exchange, nothing else. Exact: 0.0 is the additive
        # identity for the all-positive IEEE partial sums.
        rank_src = prev.select(F.col("node").alias("_src"), "rank")
        if bcast:
            rank_src = F.broadcast(rank_src)
        agg = (
            norm.join(rank_src, on)
            .select("dst", (F.col("rank") * F.col("frac")).alias("_part"))
            .unionByName(zero_rows)
            .groupBy("dst")
            .agg(F.sum("_part").alias("_sum"))
        )
        share = F.lit(damping / n_nodes) * F.col("_sum")
        rank = F.lit((1.0 - damping) / n_nodes) + F.lit(damping) * F.col("_sum")
        new_rank = F.when(F.col("dst").isNull(), share).otherwise(rank)
        return agg.select(F.col("dst").alias("node"), new_rank.alias("rank"))

    def settled(frame: DataFrame) -> DataFrame:
        # the node ranks of ``frame`` with its pending offset added
        if not has_dangling:
            return frame
        offset = frame.filter(F.col("node").isNull()).agg(
            F.coalesce(F.sum("rank"), F.lit(0.0)).alias("_s")
        )
        return frame.filter(F.col("node").isNotNull()).crossJoin(
            F.broadcast(offset)
        ).select("node", (F.col("rank") + F.col("_s")).alias("rank"))

    k = max(1, checkpoint_every)
    done = 0
    while done < iterations:
        seg = min(k, iterations - done)
        prev = ranks
        for _ in range(seg - 1):
            prev = step(prev)
        # one job per segment, which settles the offset (every checkpoint
        # holds true ranks) and sums the convergence read: the last step's
        # L1 delta, the only one that read consumes
        prev_r = settled(prev).select("node", F.col("rank").alias("_prev"))
        if bcast:
            prev_r = F.broadcast(prev_r)
        plan = settled(step(prev)).join(prev_r, "node").select(
            "node", "rank", F.abs(F.col("rank") - F.col("_prev")).alias("_diff")
        )
        ranks, st = materialize(plan, ranks, l1=F.sum("_diff"))
        done += seg
        if tol > 0.0 and st["l1"] < tol:
            break
    result = ranks.select("node", "rank")
    for frame in (norm, nodes):
        frame.unpersist()
    release_local_checkpoint(e)
    return result

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
  the join that re-attaches per-destination contributions to
  the node universe targets the STATIC cached node table, not the previous
  lazy rank frame, so the logical plan grows LINEARLY with segment length
  instead of ~2^K — which is what lets a full default run execute as one
  Spark job (``checkpoint_every=8``) instead of paying a materialization
  barrier every few steps;
- each segment's rank frame is eagerly ``localCheckpoint``-ed and the
  previous one released, truncating the logical plan;
- dangling mass (rank on nodes with no out-edges) stays IN-PLAN: it is
  summed in a sentinel group of the SAME per-round exchange that carries
  the contributions (one shuffle carries both) and broadcast
  cross-joined into the update — no ``.first()`` driver round-trip inside
  the update job;
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
    edge_stats,
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
    broadcast_nodes_max: int = 1_000_000,
    merge_parallel: bool = True,
) -> DataFrame:
    """Return (node, rank) after at most ``iterations`` rounds of weighted
    PageRank, stopping early once the L1 rank delta falls below ``tol``
    (``tol=0`` disables early exit — exact fixed-iteration semantics).
    ``iterations`` is a budget: running out of it returns the ranks so far,
    converged or not.

    edges: directed (src, dst[, weight]) list; parallel edges are merged by
    summing weights. Unweighted edges get weight 1. Ranks sum to 1 (dangling
    mass redistributed uniformly each round).

    ``checkpoint_every``: iterations per materialization segment. K update
    rounds run as ONE Spark job; intra-segment steps reference their
    predecessor exactly once (contributions join against
    the static node table), so the plan grows linearly in K and the old
    ~2^K blowup that forced K<=4 is gone. The convergence check happens at
    segment boundaries. On graphs WITH dangling nodes each step carries a
    second reference (the 1-row dangling-mass aggregate); its subtree
    dedupes via exchange reuse, but keep K modest (<=8) there.

    ``merge_parallel``: the parallel-edge merge
    (``groupBy(src, dst).sum(w)``) is one full shuffle of the edge list
    before the loop even starts. Callers whose edge construction already
    guarantees one row per (src, dst) pass ``False`` to skip it; the rows
    are identical by the caller's own construction. Leave ``True`` for raw
    edge lists.

    ``broadcast_nodes_max``: when the node count is at or below this, the
    rank table is BROADCAST into both per-iteration joins instead of
    shuffled — AQE cannot make that call itself because a localCheckpointed
    frame keeps the size statistics of the plan it came from, and a loop
    that joins each round to the last one's estimate squares it every
    round, so without the hint every round pays a rank-side exchange. Each iteration then costs ONE shuffle (the
    per-destination contribution aggregate) plus broadcasts of an
    O(n_nodes) frame. 1M nodes ≈ tens of MB — inside the configured 64 MB
    broadcast budget; above the threshold the shuffle path is the correct
    plan (rank table genuinely cluster-sized).
    """
    w = F.col(weight) if weight else F.lit(1.0)
    # materialized once: the node table and norm both derive from e —
    # without this the (possibly expensive) upstream edge construction
    # re-executes once per derived frame before the loop even starts. The
    # same job counts the edges for the route and the partition count.
    e = edges.select(
        F.col(src).alias("src"), F.col(dst).alias("dst"), w.alias("w")
    ).filter(F.col("w") > 0)
    if merge_parallel:
        e = e.groupBy("src", "dst").agg(F.sum("w").alias("w"))
    e, st = materialize(e, **edge_stats("src", "dst"))
    if runs_locally(e, st, "src", "dst"):
        from corintick_spark.operators import local_graph

        return local_graph.pagerank(e, damping, iterations, tol, checkpoint_every)
    # The partition COUNT is sized to the edge list (~250k edges per
    # partition, capped at 16x the cluster's core count), not inherited
    # from spark.sql.shuffle.partitions: the loop body touches norm 8-10
    # times, so per-task scheduling overhead on an over-partitioned edge
    # list multiplies across iterations (measured 2x on a 1.2M-edge graph
    # at 32 partitions vs 4-8).
    n_edges = st["n"]
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
    bcast = n_nodes <= broadcast_nodes_max
    # norm's layout: on the BROADCAST path the rank
    # table is shipped to every task each round, so norm's partitioning is
    # irrelevant to the join — a coalesce to the same target count keeps
    # the few-large-tasks shape the loop wants WITHOUT paying a full
    # payload shuffle up front (measured: norm materialization 2.4s ->
    # ~0.6s at 1.17M edges). The shuffle path keeps the hash repartition
    # on src: there the per-round rank exchange co-locates against it.
    out_w = nodes.filter(~F.col("is_dangling")).select(
        F.col("node").alias("src"), "out_w"
    )
    normed = e.join(F.broadcast(out_w) if bcast else out_w, "src").select(
        "src", "dst", (F.col("w") / F.col("out_w")).alias("frac")
    )
    norm = (
        normed.coalesce(nparts) if bcast else normed.repartition(nparts, "src")
    ).cache()
    # static node universe for the per-step left join — joining contribs
    # against THIS (cached) frame instead of the previous rank frame is
    # what keeps intermediate steps single-reference (module docstring)
    node_univ = nodes.select("node", "is_dangling")

    # node-id type for the dangling branch's NULL dst literal
    _dst_type = dict(norm.dtypes)["dst"]

    def step(prev: DataFrame, with_diff: bool) -> DataFrame:
        # One union row (dst=node, part=0.0) per node folded into the
        # contribution aggregate makes every node's group exist, so no
        # join re-attaches contribution-less nodes — per round: ONE rank
        # broadcast + ONE exchange, nothing else. Exact: 0.0 is the
        # additive identity for the all-positive IEEE partial sums. On
        # dangling graphs the dangling-mass total rides the SAME exchange
        # as a sentinel group (_dang=true, dst=NULL) instead of a separate
        # aggregate job — one shuffle carries both.
        rank_src = prev.select(F.col("node").alias("src"), "rank")
        contrib_rows = norm.join(
            F.broadcast(rank_src) if bcast else rank_src, "src"
        ).select(
            F.lit(False).alias("_dang"),
            F.col("dst"),
            (F.col("rank") * F.col("frac")).alias("_part"),
        )
        zero_rows = node_univ.select(
            F.lit(False).alias("_dang"),
            F.col("node").alias("dst"),
            F.lit(0.0).alias("_part"),
        )
        unioned = contrib_rows.unionByName(zero_rows)
        if has_dangling:
            # rank mass sitting on dangling nodes, summed in the sentinel
            # group of the same exchange. This is the second prev
            # reference on dangling graphs (docstring: keep K modest
            # there).
            dang_rows = prev.join(
                F.broadcast(node_univ.filter(F.col("is_dangling"))),
                "node",
                "left_semi",
            ).select(
                F.lit(True).alias("_dang"),
                F.lit(None).cast(_dst_type).alias("dst"),
                F.col("rank").alias("_part"),
            )
            unioned = unioned.unionByName(dang_rows)
        agg = unioned.groupBy("_dang", "dst").agg(
            F.sum("_part").alias("_sum")
        )
        if has_dangling:
            dang_share = agg.filter(F.col("_dang")).select(
                (F.coalesce(F.sum("_sum"), F.lit(0.0)) / n_nodes).alias(
                    "_dang_share"
                )
            )
            upd = agg.filter(~F.col("_dang")).crossJoin(
                F.broadcast(dang_share)
            )
            dshare = F.col("_dang_share")
        else:
            upd = agg
            dshare = F.lit(0.0)
        new_rank = F.lit((1.0 - damping) / n_nodes) + F.lit(damping) * (
            F.col("_sum") + dshare
        )
        out = upd.select(F.col("dst").alias("node"), new_rank.alias("rank"))
        if not with_diff:
            return out
        prev_r = prev.select("node", F.col("rank").alias("_prev"))
        if bcast:
            prev_r = F.broadcast(prev_r)
        return out.join(prev_r, "node").select(
            "node",
            "rank",
            F.abs(F.col("rank") - F.col("_prev")).alias("_diff"),
        )

    k = max(1, checkpoint_every)
    if has_dangling:
        # two prev references per step (contribs + dangling aggregate) →
        # the plan still grows ~2^K per segment on this path; cap it
        k = min(k, 4)
    ranks = nodes.select("node", F.lit(1.0 / n_nodes).alias("rank"))
    ranks = ranks.localCheckpoint(eager=True)
    done = 0
    while done < iterations:
        seg = min(k, iterations - done)
        plan = ranks
        for i in range(seg):
            plan = step(plan, with_diff=(i == seg - 1))
        # one job per segment, which also sums the convergence read (_diff
        # is the last intra-segment iteration's L1 delta contribution per
        # node); the previous segment's blocks are freed
        ranks, st = materialize(plan, ranks, l1=F.sum("_diff"))
        done += seg
        if tol > 0.0 and st["l1"] < tol:
            break
    result = ranks.select("node", "rank")
    for frame in (norm, nodes):
        frame.unpersist()
    release_local_checkpoint(e)
    return result

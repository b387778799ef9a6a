"""Duplicate clustering: connected components over near-dup pair edges.

Pairwise near-dup detection (MinHash/SimHash/embedding) yields EDGES; a
training-data pipeline needs CLUSTERS (keep one doc per transitive group).
This is connected components via the alternating large-star/small-star
edge-rewriting algorithm (Kiveris et al., "Connected Components in
MapReduce and Beyond", SoCC'14): each round is two groupBy shuffles on
well-distributed node ids and converges in O(log n) rounds even on
high-diameter graphs (a path graph collapses exponentially fast, unlike
plain min-label propagation which needs O(diameter) rounds — verified by
the path-graph unit test in tests/test_operators.py).

Scale discipline for the driver loop:
- the canonical edge list is materialized once, and its checkpoint job
  counts it. At most ``ckpt._LOCAL_EDGES`` (2^20) edges with integral or
  string ids take the LOCAL route: one ``toArrow()`` and min-label pointer
  jumping in numpy on the driver (operators/local_graph.py), returned as a
  local relation — no star round runs. Larger edge lists take the
  distributed loop below (the 100 TB path);
- every iteration's edge frame is eagerly ``localCheckpoint``-ed and the
  previous one released: the next round reads the materialized blocks,
  and the logical plan is truncated each round (it otherwise doubles per
  round — by round ~10 Catalyst spends longer stringifying the plan than
  executing it);
- convergence is detected from the edge count + an order-independent
  xxhash64 fold, computed by the round's checkpoint job itself
  (``ckpt.materialize``), not by a join against the previous labels.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
import pyspark.sql.functions as F

from corintick_spark.operators.ckpt import materialize, runs_locally


def _large_star(sym: DataFrame) -> DataFrame:
    """One large-star round over a symmetric directed edge list (u, v):
    connect every neighbor larger than the center to the neighborhood
    minimum m = min(Γ(u) ∪ {u}). Output edges are (larger, smaller)."""
    m = sym.groupBy("u").agg(F.min("v").alias("_mn"))
    m = m.select("u", F.least(F.col("u"), F.col("_mn")).alias("m"))
    return (
        sym.filter(F.col("v") > F.col("u"))
        .join(m, "u")
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .distinct()
    )


def _small_star(directed: DataFrame) -> DataFrame:
    """One small-star round over edges already directed (larger, smaller):
    for each center u, connect u and all its smaller neighbors to the
    minimum of that set. Output stays directed (larger, smaller)."""
    m = directed.groupBy("u").agg(F.min("v").alias("m"))
    nbrs = directed.join(m, "u").select(F.col("v").alias("u"), F.col("m").alias("v"))
    centers = m.select(F.col("u"), F.col("m").alias("v"))
    return nbrs.unionByName(centers).filter(F.col("u") != F.col("v")).distinct()


def connected_components(
    edges: DataFrame,
    a: str = "a_id",
    b: str = "b_id",
    max_iter: int = 25,
) -> DataFrame:
    """Return (node, comp) where comp = min node id of the component.

    edges: undirected pair list (each edge once, any orientation); self
    loops and edges with a NULL endpoint are dropped. Node ids must be
    totally ordered (numeric or string). Converges in O(log n)
    alternating-star rounds; ``max_iter`` is a fixpoint guard far above
    that, not a budget: exhausting it without reaching the fixpoint raises
    RuntimeError. The local route (module docstring) runs to its fixpoint
    with no rounds for ``max_iter`` to cap.
    """
    raw = edges.select(F.col(a).alias("u"), F.col(b).alias("v")).filter(
        F.col("u") != F.col("v")
    )

    # canonical directed (larger, smaller) start state; the checkpoint job
    # counts the edges for the route and the first round's sizing. No node
    # table is built: the fixpoint star forest contains exactly the
    # original node set (every non-root as a child `u`, every root as a
    # `v`), so labels are read straight off the final tiny forest.
    e, st = materialize(
        raw.select(
            F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
        ).distinct()
    )
    if runs_locally(e, st["rows"], "u", "v"):
        from corintick_spark.operators import local_graph

        return local_graph.components(e)

    def _nparts(n_rows: int) -> int:
        # tail rounds shrink the edge list by orders of magnitude; sizing
        # each round's checkpoint to its INPUT row count (conservative
        # upper bound on the output) keeps the per-round fixed cost from
        # being paid across spark.sql.shuffle.partitions near-empty
        # blocks/tasks (same discipline as pagerank's node cache; measured:
        # the post-contraction rounds at sf0.1 run over ~5k edges but paid
        # 32-partition stages for every star op)
        return max(1, min(
            -(-n_rows // 250_000),
            edges.sparkSession.sparkContext.defaultParallelism,
        ))

    prev_stat = None
    n_in = st["rows"]
    for _ in range(max_iter):
        sym = e.unionByName(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
        # materialize AND truncate lineage each round; the checkpoint job
        # also yields the count + order-free hash (bit_xor, not sum: ANSI
        # mode throws on int64 sum overflow, and the edge list is distinct
        # so xor has no self-cancellation pairs) and then the previous
        # round's blocks are freed
        e, st = materialize(
            _small_star(_large_star(sym)).coalesce(_nparts(n_in)),
            e,
            h=F.expr("bit_xor(xxhash64(u, v))"),
        )
        stat = (st["rows"], st["h"])
        n_in = int(stat[0])
        if stat == prev_stat:
            break
        prev_stat = stat
    else:
        # labels read off a non-fixpoint forest would give a node several
        # components (duplicate rows downstream) — fail instead
        raise RuntimeError(
            f"connected_components: no fixpoint after max_iter={max_iter} "
            "rounds"
        )

    # fixpoint is a disjoint star forest: (child, root) edges covering the
    # original node set — children are the non-root nodes, roots the
    # component minima
    labels = e.select(
        F.col("u").alias("node"), F.col("v").alias("comp")
    ).unionByName(
        e.select(F.col("v").alias("node"), F.col("v").alias("comp")).distinct()
    )
    return labels


def dup_clusters(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    a: str = "a_id",
    b: str = "b_id",
) -> DataFrame:
    """Cluster docs by transitive near-duplicate pairs; returns one row per
    document: (doc_id, cluster_id, is_keeper). Docs in no pair form
    singleton clusters. keeper = min doc_id of the cluster (the dedup
    survivor)."""
    comps = connected_components(pairs, a, b)
    clustered = docs.select(F.col(id_col)).join(
        comps.withColumnRenamed("node", id_col), id_col, "left"
    )
    out = clustered.withColumn(
        "cluster_id", F.coalesce(F.col("comp"), F.col(id_col))
    ).drop("comp")
    return out.withColumn(
        "is_keeper", (F.col("cluster_id") == F.col(id_col)).cast("boolean")
    )

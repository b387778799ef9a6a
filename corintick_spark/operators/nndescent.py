"""Graph-based ANN: distributed k-NN-graph construction (NN-Descent) and
batched greedy search over the built graph — the HNSW-family tier,
expressed Spark-first.

HNSW itself is a sequential pointer-chasing in-memory build and cannot be
a DataFrame plan; the published batch-pipeline equivalent is **NN-Descent**
(Dong, Charikar, Li — "Efficient k-nearest neighbor graph construction for
generic similarity measures", WWW 2011): start from a random k-NN guess and
iterate "my neighbors' neighbors are probably my neighbors", which is
exactly a self-join of the adjacency list — a shape Spark executes as two
shuffle-bounded equi-joins per round. The search half is the standard
graph-ANN best-first walk, batched: every probe advances one hop per
round, so a batch of Q probes costs ``hops`` joins total, not Q walks.

Scale discipline (same rules as operators/pagerank.py):

- corpus vectors are projected to (id, vec, n2) ONCE, localCheckpoint-ed,
  and reused by every iteration — norms are never recomputed;
- per-node candidate volume is bounded by construction: the adjacency list
  is capped at k forward + k reverse edges before the neighbor-of-neighbor
  join, so one round scores at most ``4k²`` candidates per node — linear
  in n with a k²-constant, never quadratic in n (reverse-edge capping is
  also what kills hub-node skew: a node appearing in everyone's list would
  otherwise explode the join);
- each round's graph is eagerly localCheckpoint-ed and the previous one
  released, truncating the logical plan (it otherwise doubles per round);
- the loop body runs no action beyond the eager checkpoint: the
  changed-edge count (early exit when a round converges — NN-Descent
  usually needs 3-5) is summed by the round's checkpoint job
  (``ckpt.materialize``) over a tag on the newly scored rows;
- searching never touches the build: it reads the persisted (id, nbr)
  graph plus corpus vectors by equi-join — store both bucketed by id and
  the per-hop candidate lookup is shuffle-free on a cluster.

Floats: cosine scores are rounded to 6dp before ranking so ranking is
reproducible, but the construction is seed-dependent (init buckets and
reverse-edge sampling key on xxhash64(id, seed)) — approximate by design,
so the registry entries are rows-only with structural invariants plus an
in-plan pooled recall floor vs the exact scan (queries/llm.py pattern).

corintick† has no ANN tier at all (pandas client-side math, SURVEY.md
§2.1); this file extends the LLM-pipeline surface the same way the
IVF/PQ/LSH tiers do, covering the graph-index family those tiers lack.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
import pyspark.sql.functions as F

from corintick_spark.operators.ckpt import materialize
from corintick_spark.operators.similarity import _cosine, _dot, _norm2
from corintick_spark.operators.spread import spread_input


def _prep(corpus: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    """(id, vec, n2) projection — norms computed once for the whole run."""
    return corpus.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("vec"),
        _norm2(vec_col).alias("n2"),
    )


def _score_pairs(cand: DataFrame, vecs: DataFrame, round_to: int = 6) -> DataFrame:
    """Attach the cosine of (id, nbr) candidate pairs via two equi-joins
    against the checkpointed vector table. NULL for zero-norm vectors
    (ANSI-safe, sorts last in desc rankings — operators/similarity.py)."""
    a = vecs.select(
        F.col("id"), F.col("vec").alias("_av"), F.col("n2").alias("_an")
    )
    b = vecs.select(
        F.col("id").alias("nbr"), F.col("vec").alias("_bv"), F.col("n2").alias("_bn")
    )
    score = F.round(
        _cosine(_dot("_av", "_bv"), F.col("_an"), F.col("_bn")), round_to
    )
    return (
        cand.join(a, "id").join(b, "nbr")
        .select("id", "nbr", score.alias("score"))
    )


def _top_k(edges: DataFrame, k: int) -> DataFrame:
    """Keep the k best-scoring distinct neighbors per node (desc score,
    NULLs last, id tiebreak — deterministic given the candidate set)."""
    w = Window.partitionBy("id").orderBy(F.desc("score"), F.asc("nbr"))
    return (
        edges.withColumn("_r", F.row_number().over(w))
        .filter(F.col("_r") <= k)
        .drop("_r")
    )


def knn_graph(
    corpus: DataFrame,
    k: int = 10,
    iters: int = 4,
    seed: int = 42,
    bucket_factor: int = 3,
    init_rounds: int = 3,
    build_k: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Build an approximate k-NN graph (cosine) by NN-Descent. Returns
    (id, nbr, score, rank) with ≤ k rows per id (fewer only when the
    corpus has < k scorable peers — zero-norm vectors never pair).

    Init: ``init_rounds`` INDEPENDENT hash-bucketings (xxhash64(id,
    seed+round), buckets of ~``bucket_factor·k`` members) each self-join
    for first-guess pairs, and the union feeds the first top-k. One
    bucketing alone is a fatal init — its graph is a disjoint union of
    bucket cliques, so neighbor-of-neighbor never leaves the bucket and
    descent cannot improve anything (measured: recall frozen at the init
    level for 10 rounds). The union of ≥2 independent bucketings is an
    expander — like the union of random regular graphs — which is exactly
    the global-random-neighbor init of the paper, at linear total cost
    (n·init_rounds·bucket_factor·k pairs). The corpus count that sizes
    buckets is read off the vector table's checkpoint job.

    ``iters`` is a budget: the descent stops early when a round changes no
    edge, and running out of rounds returns the graph so far.
    """
    bk = build_k or k
    vecs = spread_input(_prep(corpus, id_col, vec_col))
    vecs, st = materialize(vecs)
    n = st["rows"]
    if n == 0:
        return vecs.sparkSession.createDataFrame(
            [], "id long, nbr long, score double, rank int"
        )

    n_buckets = max(1, n // max(1, bucket_factor * bk))
    init = None
    for r in range(max(1, init_rounds)):
        ids = vecs.select(
            "id",
            F.pmod(F.xxhash64("id", F.lit(seed + 101 * r)), F.lit(n_buckets)).alias("_b"),
        )
        a = ids.select(F.col("id"), F.col("_b"))
        b = ids.select(F.col("id").alias("nbr"), F.col("_b"))
        pairs = (
            a.join(b, "_b")
            .filter(F.col("id") != F.col("nbr"))
            .select("id", "nbr")
        )
        init = pairs if init is None else init.unionByName(pairs)
    init = init.distinct()
    graph, _ = materialize(
        _top_k(_score_pairs(init, vecs).filter(F.col("score").isNotNull()), bk)
    )

    for it in range(iters):
        fwd = graph.select("id", "nbr")
        # Reverse edges, capped at k per node: hubs otherwise blow up the
        # n-of-n join quadratically. The cap samples deterministically by
        # per-round hash (NN-Descent's ρK reverse sampling).
        wr = Window.partitionBy("id").orderBy(
            F.xxhash64("nbr", F.lit(seed + 1 + it)), F.asc("nbr")
        )
        rev = (
            graph.select(F.col("nbr").alias("id"), F.col("id").alias("nbr"))
            .withColumn("_r", F.row_number().over(wr))
            .filter(F.col("_r") <= bk)
            .drop("_r")
        )
        adj = fwd.unionByName(rev).distinct()
        two_hop = (
            adj.join(adj.select(F.col("id").alias("nbr"), F.col("nbr").alias("_n2")), "nbr")
            .select("id", F.col("_n2").alias("nbr"))
            .filter(F.col("id") != F.col("nbr"))
            .distinct()
            # Never re-score a pair that is already an edge: the old score
            # rides along in the union below.
            .join(fwd, ["id", "nbr"], "left_anti")
        )
        # _new tags the scored rows: they are anti-joined against the old
        # edges, so the tagged survivors are exactly the changed edges
        scored = _score_pairs(two_hop, vecs).filter(F.col("score").isNotNull())
        graph, st = materialize(
            _top_k(
                graph.select("id", "nbr", "score", F.lit(0).alias("_new"))
                .unionByName(scored.withColumn("_new", F.lit(1))),
                bk,
            ),
            graph,
            changed=F.sum("_new"),
        )
        if not st["changed"]:
            break

    w = Window.partitionBy("id").orderBy(F.desc("score"), F.asc("nbr"))
    return (
        graph.select("id", "nbr", "score")
        .withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= k)
    )


def graph_search(
    probes: DataFrame,
    graph: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    beam: int = 10,
    hops: int = 3,
    entries: int = 8,
    sample_size: int = 128,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Batched greedy (beam) search over a k-NN graph. Returns
    (q_id, c_id, score, rank ≤ k) per probe.

    All probes advance together: one hop = one join of the current
    per-probe beam against the graph's adjacency, one anti-join against
    the visited set, one vector lookup, one top-beam window — so a batch
    of Q probes costs ``hops`` shuffle-bounded jobs regardless of corpus
    size. Per-probe state is ≤ beam·k rows per hop; the visited set is
    what bounds re-scoring, and it is checkpointed with the beam each hop
    to keep the plan flat. ``hops`` is a budget: the walk stops early when
    a hop adds nothing to any beam, and running out of hops returns the
    beams so far.

    Entry points are PER-PROBE: every probe scores a shared deterministic
    ``sample_size``-node sample (smallest xxhash64(id, seed) — TakeOrdered,
    no full sort) and descends from its ``entries`` best. This is the HNSW
    upper-layer idea collapsed to one sampled level, and it is mandatory,
    not an optimization: a k-NN graph over clustered data is a disjoint
    union of cluster cliques, so a walk seeded outside the probe's cluster
    can NEVER reach it (measured: recall == the probability that a shared
    random entry point lands in the right cluster). Seeding cost is
    Q·sample_size scores — with sample_size ~ √n this stays ~1% of the
    brute-force scan at a million vectors and the descent does the rest.

    ``corpus`` may be a pre-prepped (id, vec, n2) table (GraphIndex's
    persisted vectors) — detected by exact column set, skips the
    projection + norm recompute.
    """
    if set(corpus.columns) != {"id", "vec", "n2"}:
        corpus = spread_input(_prep(corpus, id_col, vec_col))
    vecs, _ = materialize(corpus)
    adj = graph.select("id", "nbr")

    entry = (
        vecs.select("id")
        .orderBy(F.xxhash64("id", F.lit(seed)), F.asc("id"))
        .limit(max(sample_size, entries))
        .select(F.col("id").alias("c_id"))
    )
    q = probes.select(
        F.col(id_col).alias("q_id"),
        F.col(vec_col).alias("_qv"),
        _norm2(vec_col).alias("_qn"),
    )
    c = vecs.select(
        F.col("id").alias("c_id"), F.col("vec").alias("_cv"), F.col("n2").alias("_cn")
    )
    score = F.round(_cosine(_dot("_qv", "_cv"), F.col("_qn"), F.col("_cn")), 6)

    def scored(cand: DataFrame) -> DataFrame:
        return (
            cand.join(c, "c_id").join(F.broadcast(q), "q_id")
            .filter(F.col("q_id") != F.col("c_id"))
            .select("q_id", "c_id", score.alias("score"))
            .filter(F.col("score").isNotNull())
        )

    wb = Window.partitionBy("q_id").orderBy(F.desc("score"), F.asc("c_id"))
    first = q.select("q_id").crossJoin(F.broadcast(entry))
    seeded = scored(first)
    best, _ = materialize(
        seeded.withColumn("_r", F.row_number().over(wb))
        .filter(F.col("_r") <= max(entries, beam))
        .drop("_r")
    )
    visited, _ = materialize(
        first.unionByName(best.select("q_id", "c_id")).distinct()
    )

    for _ in range(hops):
        frontier = (
            best.withColumn("_r", F.row_number().over(wb))
            .filter(F.col("_r") <= beam)
            .select("q_id", F.col("c_id"))
        )
        expand = (
            frontier.join(adj.select(F.col("id").alias("c_id"), "nbr"), "c_id")
            .select("q_id", F.col("nbr").alias("c_id"))
            .distinct()
            .join(visited, ["q_id", "c_id"], "left_anti")
        )
        gained = scored(expand)
        # _new tags the gained rows: the visited anti-join keeps them off
        # the old beam, so the tagged survivors are exactly the beam's growth
        new_best, st = materialize(
            best.select("q_id", "c_id", "score", F.lit(0).alias("_new"))
            .unionByName(gained.withColumn("_new", F.lit(1)))
            .withColumn("_r", F.row_number().over(wb))
            .filter(F.col("_r") <= beam)
            .drop("_r"),
            grew=F.sum("_new"),
        )
        visited, _ = materialize(
            visited.unionByName(gained.select("q_id", "c_id")).distinct(),
            best,
            visited,
        )
        best = new_best
        if not st["grew"]:
            break

    return (
        best.withColumn("rank", F.row_number().over(wb).cast("bigint"))
        .filter(F.col("rank") <= k)
        .select("q_id", "c_id", "score", "rank")
    )

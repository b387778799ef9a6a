"""Iterative clustering over embedding columns: k-means + IVF search.

The "iterative algorithm" tier of the engine (driver contract: non-SQL-
expressible ops get rows-only checks). ``kmeans_fit`` is ``pq.pq_fit``'s
Lloyd loop with one subspace: a fixed number of rounds over a hash-capped
fit sample, each an assign (nearest cell per vector) and an update
(per-cell component means). A sample of at most ``pq._LOCAL_FIT_DOUBLES``
doubles is read to the driver once and fit in numpy; a larger one runs each
round as one Spark job (MLlib's shape), and then only the k×dim centroid
matrix reaches the driver.

IVF (inverted-file) search then uses the trained cells as a coarse
quantizer: corpus vectors are bucketed by nearest centroid once; a query
probes only its `nprobe` nearest cells — the candidate join is an equi-join
on cell id, the classic billion-scale ANN layout (FAISS IVF-Flat shape).

Determinism: centroid init picks the k vectors with smallest
(xxhash64(id), id) — no RNG; float averaging is the only order-dependent
step, so unit checks assert structure (coverage, counts, recall), not exact
assignments.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
import pyspark.sql.functions as F
from pyspark.sql.types import ArrayType, DoubleType, IntegerType, StructField, StructType

from corintick_spark.operators.similarity import _cosine, _dot, _norm2
from corintick_spark.session import local_relation

_CELLS = StructType([
    StructField("cell", IntegerType()),
    StructField("centroid", ArrayType(DoubleType())),
])


def _sq_dist(a: str, b: str):
    return F.expr(
        f"aggregate(zip_with({a}, {b}, (x, y) -> (CAST(x AS DOUBLE) - CAST(y AS DOUBLE)) * (CAST(x AS DOUBLE) - CAST(y AS DOUBLE))), 0D, (s, v) -> s + v)"
    )


def kmeans_fit(
    df: DataFrame,
    k: int = 16,
    iters: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    fit_sample_max: int = 100_000,
) -> DataFrame:
    """Train k cell centroids; returns a local relation (cell int, centroid
    array<double>) small enough to broadcast, whose reads run no Spark job.
    Fewer than k vectors give that many cells; no vectors, none.

    This is ``pq.pq_fit``'s Lloyd loop with one subspace (operators/pq.py::
    _fit): a fit sample of at most ``pq._LOCAL_FIT_DOUBLES`` doubles runs in
    numpy on the driver, a larger one one Spark job per round. ``iters``
    is the exact number of Lloyd rounds run, not a budget: the loop never
    stops early on converged centroids. NULL vectors are left out.

    ``fit_sample_max``: centroids are fit on a deterministic hash-capped
    sample of at most ~this many vectors (operators/sampling.py) — the
    FAISS train()/add() split: assignment (kmeans_assign) still covers
    every row, but the fit reads a bounded sample regardless of corpus
    size. Corpora at or below the cap fit on every row (bit-identical to
    the unsampled fit). 0/None disables."""
    from corintick_spark.operators.pq import _fit

    cb = _fit(df, 1, k, iters, id_col, vec_col, fit_sample_max)[0]
    return local_relation(
        df.sparkSession, _CELLS, [list(range(len(cb))), cb.tolist()]
    )


def kmeans_assign(
    df: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Nearest-cell assignment (one broadcast pass). Returns (id, cell, dist)."""
    vecs = df.select(
        F.col(id_col),
        F.expr(f"transform({vec_col}, x -> CAST(x AS DOUBLE))").alias("_v"),
    )
    return (
        vecs.crossJoin(F.broadcast(centroids))
        .withColumn("_d", _sq_dist("_v", "centroid"))
        .groupBy(id_col)
        .agg(
            F.min_by("cell", F.struct(F.col("_d"), F.col("cell"))).alias("cell"),
            F.min("_d").alias("dist"),
        )
    )


def ivf_topk(
    queries: DataFrame,
    corpus: DataFrame,
    centroids: DataFrame,
    k: int = 5,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF-Flat cosine top-k: probe the nprobe nearest cells per query,
    exact re-rank within candidates. Equi-join on cell id — at corpus scale
    the inverted lists are the partitions, never a crossJoin."""
    from pyspark.sql import Window

    c_cells = kmeans_assign(corpus, centroids, id_col, vec_col).select(
        F.col(id_col).alias("c_id"), "cell"
    )
    corp = corpus.select(
        F.col(id_col).alias("c_id"),
        F.col(vec_col).alias("c_vec"),
        _norm2(vec_col).alias("c_n2"),
    ).join(c_cells, "c_id")

    q_vecs = queries.select(
        F.col(id_col).alias("q_id"),
        F.col(vec_col).alias("q_vec"),
        _norm2(vec_col).alias("q_n2"),
    )
    q_probe = (
        q_vecs.crossJoin(F.broadcast(centroids))
        .withColumn(
            "_d",
            F.expr(
                "aggregate(zip_with(q_vec, centroid, (x, y) -> (CAST(x AS DOUBLE) - y) * (CAST(x AS DOUBLE) - y)), 0D, (s, v) -> s + v)"
            ),
        )
        .withColumn(
            "_rk",
            F.row_number().over(
                Window.partitionBy("q_id").orderBy(F.col("_d"), F.col("cell"))
            ),
        )
        .filter(F.col("_rk") <= nprobe)
        .select("q_id", "q_vec", "q_n2", "cell")
    )

    score = F.round(
        _cosine(_dot("q_vec", "c_vec"), F.col("q_n2"), F.col("c_n2")), 6
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("score"), F.asc("c_id"))
    return (
        q_probe.join(corp, "cell")
        .filter(F.col("q_id") != F.col("c_id"))
        .withColumn("score", score)
        .select(
            "q_id", "c_id", "score", F.row_number().over(w).cast("bigint").alias("rank")
        )
        .filter(F.col("rank") <= k)
        .dropDuplicates(["q_id", "c_id"])
    )

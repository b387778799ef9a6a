"""Product quantization (PQ) for billion-scale ANN: fit / encode / ADC scan.

The memory-compression half of the FAISS-style ANN stack (Jégou, Douze,
Schmid, "Product Quantization for Nearest Neighbor Search", TPAMI 2011 —
public knowledge). IVF (operators/clustering.py) bounds *which* vectors a
query touches; PQ bounds *how many bytes per vector* it touches: a d-dim
float vector (d*4 bytes) becomes m sub-codes of log2(k) bits each — with
the defaults (d=64, m=8, k=16) that is 256 bytes -> 8 bytes, 32x. At
100 TB of raw embeddings the codes table is ~3 TB and each scan partition
streams codes + a broadcast distance table instead of raw floats.

Spark shape:
- ``pq_fit``   — ONE k-means over all m subspaces at once, on a hash-capped
  fit sample (operators/sampling.py), so the loop is `iters` rounds total,
  not `m * iters`. A sample of at most ``_LOCAL_FIT_DOUBLES`` doubles (the
  default 100k-vector cap of 64-dim vectors is well under it) is read to the
  driver with one ``toArrow()`` and its rounds run in numpy, as FAISS trains
  on an in-memory sample; a larger one runs one Spark job per round (subspace
  id `j` is a grouping column), and then only the m*k*(d/m) codebook floats
  reach the driver. ``clustering.kmeans_fit`` is the same loop with m = 1.
  The codebooks come back as a local relation built from Arrow, so the
  ``collect()`` that encode and search take them with runs no Spark job.
- ``pq_encode`` — one broadcast join + min_by per (vector, subspace);
  output is (id, codes array<int>) — the compact table a real deployment
  persists (durable parquet at scale; the raw floats are never re-read).
- ``pq_topk``  — asymmetric distance computation (ADC): each query
  precomputes a m x k distance table against the codebooks (m*k rows per
  query, built distributedly and collapsed to one nested-array column),
  then scores codes with a pure JVM fold: sum_j dtab[j][code_j]. The
  corpus side touches only the codes column; the query side is broadcast
  (probe sets are small by contract — same guard philosophy as
  brute_force_topk).

Determinism: init picks per-subspace seeds by smallest (xxhash64(id), id)
— no RNG. Float averaging in the centroid update is the only
order-dependent step (the two fit routes agree to ~1e-16 relative), so
correctness checks are structural (code ranges, compression ratio, recall
vs exact scan), i.e. the rows-only driver tier.
"""

from __future__ import annotations

import pandas as pd  # noqa: F401 — resolves the stringified pd.Series hints
from pyspark.sql import DataFrame, Window
import pyspark.sql.functions as F
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    IntegerType,
    IntegralType,
    StringType,
    StructField,
    StructType,
)

from corintick_spark.operators.spread import spread_input
from corintick_spark.session import local_relation

# Fit samples of at most this many doubles (rows x dim, 128 MiB) run their
# Lloyd rounds in numpy on the driver; larger ones run one Spark job per
# round. In a sweep of 2^10-2^17 rows at dim 64 and 256 on 4 cores
# (CHANGES.md) the local route won every size, but its lead fell from ~6x
# to ~1.5-1.9x from 2^24 doubles up, while the sample it holds on the
# driver keeps growing: the bound sits there. It covers the default
# 100k-vector cap up to dim 167. More executor cores move the crossover
# down; re-measure on them.
_LOCAL_FIT_DOUBLES = 1 << 24

_BOOKS = StructType([
    StructField("j", IntegerType()),
    StructField("cell", IntegerType()),
    StructField("centroid", ArrayType(DoubleType())),
])


def _sq(a: str, b: str):
    return F.expr(
        f"aggregate(zip_with({a}, {b}, (x, y) -> (x - y) * (x - y)),"
        " 0D, (s, v) -> s + v)"
    )


def _dists_batch(vals, cb):
    """(n, m, k) squared distances of every row's m subvectors against the
    (m, k, sub) codebook — vectorized across rows/subspaces/cells, but
    accumulated POSITION-SEQUENTIALLY (p ascending, +=) so every double
    add happens in the exact order of the old aggregate/zip_with left fold
    and distances are bit-identical to the JVM expression path (verified
    by the old-vs-new differential at sf0.01)."""
    import numpy as np

    n = len(vals)
    m, k, sub = cb.shape
    if n == 0:
        return np.zeros((0, m, k))
    # cast to double FIRST (the old expressions CAST each element before
    # any arithmetic), then subtract — same float64 ops in the same order
    x = np.stack(vals).astype(np.float64, copy=False).reshape(n, m, sub)
    acc = np.zeros((n, m, k))
    d = np.empty((n, m, k))
    for p in range(sub):
        np.subtract(x[:, :, None, p], cb[None, :, :, p], out=d)
        np.multiply(d, d, out=d)
        acc += d
    return acc


def _nearest(vals, cb):
    """(n, m) nearest cell of each row's m subvectors: the argmin of
    :func:`_dists_batch`, whose FIRST minimal index is the smallest cell on
    ties (the (d, cell) order of the old min_by(struct(_d, cell))). Rows go
    in chunks whose (rows, m, k) temporaries stay cache-sized; each row's
    distances are the same in any chunk."""
    import numpy as np

    m, k, _ = cb.shape
    step = max(1, (1 << 15) // (m * k))
    return np.concatenate(
        [_dists_batch(vals[i:i + step], cb).argmin(axis=2)
         for i in range(0, len(vals), step)]
        or [np.zeros((0, m), dtype=np.int64)]
    )


def _codes_udf(cb):
    """Vectorized quantizer over the (m, k, sub) codebook ``cb`` (round 11,
    guide §4.2): a pandas UDF hands whole Arrow batches to numpy
    (:func:`_nearest`) — replaces the interpreted nested-HOF /
    fan-out-join assignment, which paid per-element lambda interpretation
    on every (row, subspace, cell) triple."""
    import pandas as pd

    @F.pandas_udf("array<int>")
    def codes(v: pd.Series) -> pd.Series:
        return pd.Series(list(_nearest(v.to_numpy(), cb).astype("int32")))

    return codes


def _dtab_udf(cb):
    """Vectorized ADC distance-table builder: dtab[j][cell] per query row,
    same layout and bit-identical doubles as the old two-stage
    collect_list aggregation (see _dists_batch)."""
    import pandas as pd

    @F.pandas_udf("array<array<double>>")
    def dtab(v: pd.Series) -> pd.Series:
        d = _dists_batch(v.to_numpy(), cb)
        # row-wise tolist: Arrow nested-list conversion wants python lists,
        # not 2-D ndarrays; dtab inputs are probe sets (small by contract)
        return pd.Series([r.tolist() for r in d])

    return dtab


def _books(codebooks: DataFrame):
    """The (j, cell, centroid) ``codebooks`` frame as its (m, k, sub)
    float64 array, from one ``collect()``; None when it is empty. A fit's
    codebooks are a local relation, so the collect runs no Spark job."""
    import numpy as np

    rows = sorted(codebooks.collect(), key=lambda r: (r["j"], r["cell"]))
    if not rows:
        return None
    m, k = rows[-1]["j"] + 1, max(r["cell"] for r in rows) + 1
    return np.array([r["centroid"] for r in rows], dtype=np.float64).reshape(m, k, -1)


def _lloyd_local(fit_df: DataFrame, m: int, k: int, dim: int, iters: int):
    """The Lloyd loop of :func:`_fit` in numpy on the driver: the fit frame
    (``_id``, ``_v``) is read with one ``toArrow()``. Returns the (m, k',
    sub) codebooks, k' = min(k, rows), or None when a vector holds a NULL
    element or is not ``dim`` long (the distributed loop gives those its
    own semantics).

    Same steps as the distributed loop: init from the k rows smallest by
    (xxhash64(_id), _id) (Arrow sorts NULL ids first and strings by bytes,
    as Spark does), assignment by :func:`_nearest`, per-cell means, and an
    empty cell keeps its centroid."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    t = fit_df.select("_id", F.xxhash64("_id").alias("_h"), "_v").toArrow()
    v = t.column("_v").combine_chunks()
    n = len(v)
    ragged = pc.any(pc.not_equal(pc.list_value_length(v), dim)).as_py()
    if v.flatten().null_count or ragged:
        return None
    sub = dim // m
    x = v.flatten().to_numpy().reshape(n, m, sub)
    first = pc.sort_indices(
        pa.table({"h": t.column("_h"), "id": t.column("_id")}),
        sort_keys=[("h", "ascending"), ("id", "ascending")],
        null_placement="at_start",
    ).to_numpy()[:k]
    kk = len(first)
    cb = x[first].transpose(1, 0, 2).copy()  # (m, kk, sub)
    offset = np.arange(m) * kk
    for _ in range(iters):
        idx = (_nearest(x, cb) + offset).ravel()  # (row, j) -> j * kk + cell
        cnt = np.bincount(idx, minlength=m * kk)
        sums = np.stack(
            [np.bincount(idx, weights=x[:, :, p].ravel(), minlength=m * kk)
             for p in range(sub)],
            axis=1,
        )
        hit = cnt > 0
        flat = cb.reshape(m * kk, sub)
        flat[hit] = sums[hit] / cnt[hit, None]
        cb = flat.reshape(m, kk, sub)
    return cb


def _lloyd_distributed(fit_df: DataFrame, m: int, k: int, sub: int, iters: int):
    """The Lloyd loop of :func:`_fit` as Spark jobs: ONE job per round, one
    map-side-combined shuffle of <= m*k*(d/m) partial rows. Returns the
    (m, k', sub) codebooks, k' = min(k, rows)."""
    import numpy as np

    fit_df = spread_input(fit_df).persist()
    # Deterministic init — the k vectors with smallest id hash. xxhash64(id)
    # does not depend on the subspace, so the per-j rank order is the SAME
    # id order for every j: one TakeOrdered over the fit frame.
    init = fit_df.orderBy(F.xxhash64("_id"), "_id").limit(k).collect()
    cb = np.array(
        [r["_v"] for r in init], dtype=np.float64
    ).reshape(len(init), m, sub).transpose(1, 0, 2).copy()
    for _ in range(iters):
        # the vectorized UDF (guide §4.2) assigns every subspace's cell in
        # one Arrow batch pass, and the centroid update explodes straight
        # to (j, cell, pos, x) for a tiny partial+final average.
        assigned = fit_df.select("_v", _codes_udf(cb)("_v").alias("_cells"))
        comp = (
            assigned.select(
                F.explode(
                    F.expr(
                        f"""transform(sequence(0, {m - 1}), j -> struct(
                            j AS j, _cells[j] AS cell,
                            slice(_v, j * {sub} + 1, {sub}) AS sv))"""
                    )
                ).alias("a")
            )
            .select("a.j", "a.cell", F.posexplode("a.sv").alias("pos", "x"))
            .groupBy("j", "cell", "pos")
            .agg(F.avg("x").alias("mu"))
            .groupBy("j", "cell")
            .agg(F.array_sort(F.collect_list(F.struct("pos", "mu"))).alias("pm"))
            .select("j", "cell", F.expr("transform(pm, e -> e.mu)").alias("centroid"))
            .collect()
        )
        cb = cb.copy()  # the round's UDF closed over the old array
        for r in comp:  # a cell no row chose keeps its centroid
            cb[r["j"], r["cell"]] = r["centroid"]
    fit_df.unpersist()
    return cb


def _fit(df, m, k, iters, id_col, vec_col, fit_sample_max):
    """The one Lloyd mechanism behind :func:`pq_fit` (m subspaces) and
    ``clustering.kmeans_fit`` (m = 1): ``iters`` rounds of k-means over each
    of the m subspaces of the hash-capped fit sample (operators/sampling.py)
    of ``df``'s non-NULL vectors. Returns the (m, k', sub) float64
    codebooks, k' = min(k, rows), or an (m, 0, 0) array for no vectors.

    The sample is counted once. One that holds at most
    ``_LOCAL_FIT_DOUBLES`` doubles (rows x dim) runs the whole loop in numpy
    on the driver (:func:`_lloyd_local`); a larger one, one with a NULL
    element or ragged vectors, or one whose ids are neither integers nor
    strings (the types whose order Arrow shares with Spark) runs the
    distributed loop (one Spark job per round). Both start from the same
    rows and assign with the same distances, so they find the same cells."""
    from corintick_spark.operators.sampling import hash_sample_cap

    sample, rows = hash_sample_cap(df, id_col, fit_sample_max)
    fit_df = sample.select(
        F.col(id_col).alias("_id"),
        F.expr(f"transform({vec_col}, x -> CAST(x AS DOUBLE))").alias("_v"),
    ).filter(F.col("_v").isNotNull())
    head = fit_df.select("_v").first()  # one-row action at fit time only
    if head is None:  # no vectors -> empty codebooks, never throw
        import numpy as np

        return np.empty((m, 0, 0))
    dim = len(head[0])
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    if rows * dim <= _LOCAL_FIT_DOUBLES and isinstance(
        fit_df.schema["_id"].dataType, (IntegralType, StringType)
    ):
        cb = _lloyd_local(fit_df, m, k, dim, iters)
        if cb is not None:
            return cb
    return _lloyd_distributed(fit_df, m, k, dim // m, iters)


def pq_fit(
    df: DataFrame,
    m: int = 8,
    k: int = 16,
    iters: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    fit_sample_max: int = 100_000,
) -> DataFrame:
    """Train m per-subspace codebooks of k centroids each. Returns a local
    relation (j int, cell int, centroid array<double>) of m*k rows —
    always broadcastable (m*k*(d/m) = d*k doubles total); reading it runs
    no Spark job. Fewer than k vectors give that many cells; no vectors
    give empty codebooks.

    ``iters`` is the exact number of Lloyd rounds run, not a budget: the
    loop never stops early on converged codebooks. NULL vectors are left
    out of the fit.

    ``fit_sample_max``: codebooks are fit on a deterministic hash-capped
    sample of at most ~this many vectors (operators/sampling.py) — the
    FAISS train()/add() split: pq_encode still quantizes every row, but
    the fit reads a bounded sample regardless of corpus size. A sample of
    at most ``_LOCAL_FIT_DOUBLES`` doubles is read to the driver once and
    fit there in numpy; a larger one runs one Spark job per round (see
    :func:`_fit`). Corpora at or below the cap fit on every row
    (bit-identical to the unsampled fit). 0/None disables."""
    import numpy as np

    cb = _fit(df, m, k, iters, id_col, vec_col, fit_sample_max)
    mm, kk, sub = cb.shape
    j, cell = np.indices((mm, kk)).reshape(2, -1)
    return local_relation(
        df.sparkSession, _BOOKS,
        [j.tolist(), cell.tolist(), cb.reshape(mm * kk, sub).tolist()],
    )


def pq_encode(
    df: DataFrame,
    codebooks: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Quantize each vector to its m nearest-cell codes. Returns
    (id_col, codes array<int>) — the compact table that gets persisted at
    scale; one Arrow-batched projection, zero shuffles."""
    cb = _books(codebooks)
    if cb is None:  # empty codebooks (empty fit input) -> empty codes
        return df.limit(0).select(
            F.col(id_col), F.expr("CAST(array() AS array<int>)").alias("codes")
        )
    # Vectorized quantization (round 11, guide §4.2): one Arrow-batched
    # projection — no m-way explode, no fan-out join, no (_id, j) + (_id)
    # double aggregation; ZERO shuffles. spread_input parallelizes the
    # single-file local scan the projection would otherwise inherit.
    return spread_input(df).select(
        F.col(id_col), _codes_udf(cb)(vec_col).alias("codes")
    )


def _dtab_frame(queries: DataFrame, cb, id_col: str, vec_col: str) -> DataFrame:
    """Per-query ADC distance table (q_id, dtab[j][cell]) against the
    (m, k, sub) codebook ``cb``, as ONE projection (round 11) — replaces the
    m-way explode + fan-out join + double collect_list aggregation. Same
    [j][cell] layout and the same zip_with/aggregate float expression, so
    tables are identical."""
    return queries.select(
        F.col(id_col).alias("q_id"), _dtab_udf(cb)(vec_col).alias("dtab")
    )


def _no_candidates(queries: DataFrame, id_col: str) -> DataFrame:
    """The empty (q_id, c_id, adc_dist, rank) result of a top-k over empty
    codebooks."""
    return queries.limit(0).select(
        F.col(id_col).alias("q_id"),
        F.col(id_col).alias("c_id"),
        F.lit(0.0).alias("adc_dist"),
        F.lit(0).cast("bigint").alias("rank"),
    )


def pq_topk(
    queries: DataFrame,
    corpus_codes: DataFrame,
    codebooks: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """ADC top-k: per-query distance tables against the codebooks, then a
    JVM-side fold over the corpus codes. The corpus side reads ONLY the
    8-byte codes column; queries (with their m x k tables) are broadcast —
    probe sets are small by contract, the corpus is the big side."""
    cb = _books(codebooks)
    if cb is None:  # empty codebooks -> no candidates
        return _no_candidates(queries, id_col)
    dtab = _dtab_frame(queries, cb, id_col, vec_col)

    adc = F.expr(
        "aggregate(zip_with(codes, dtab, (c, row) -> element_at(row, c + 1)),"
        " 0D, (s, v) -> s + v)"
    )
    w = Window.partitionBy("q_id").orderBy(F.asc("adc_dist"), F.asc("c_id"))
    return (
        corpus_codes.select(F.col(id_col).alias("c_id"), "codes")
        .join(F.broadcast(dtab), F.col("q_id") != F.col("c_id"))
        .withColumn("adc_dist", F.round(adc, 6))
        .select(
            "q_id",
            "c_id",
            "adc_dist",
            F.row_number().over(w).cast("bigint").alias("rank"),
        )
        .filter(F.col("rank") <= k)
    )


def ivfpq_topk(
    queries: DataFrame,
    corpus: DataFrame,
    cell_centroids: DataFrame,
    codebooks: DataFrame,
    corpus_codes: DataFrame,
    k: int = 5,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF + PQ composed — the full FAISS IVFADC layout: the coarse
    quantizer (operators/clustering.py k-means cells) bounds WHICH corpus
    rows a query touches (equi-join on cell id, inverted lists are the
    partitions), and PQ bounds HOW MANY BYTES each touched row costs (the
    candidate join carries only the 8-byte codes). Simplification vs the
    paper: codes quantize raw vectors, not cell residuals — documented
    trade-off (slightly worse recall, one less join) that keeps every stage
    a plain equi-join.

    At 100 TB: corpus_codes is the durable signature table (re-used across
    query batches), candidates per query ≈ nprobe/|cells| of the corpus,
    and the scan per candidate is 8 bytes + a broadcast distance table."""
    from pyspark.sql import Window as W

    from corintick_spark.operators.clustering import kmeans_assign

    cb = _books(codebooks)
    if cb is None:
        return _no_candidates(queries, id_col)

    c_cells = kmeans_assign(corpus, cell_centroids, id_col, vec_col).select(
        F.col(id_col).alias("c_id"), "cell"
    )

    q_vecs = queries.select(
        F.col(id_col).alias("q_id"),
        F.expr(f"transform({vec_col}, x -> CAST(x AS DOUBLE))").alias("q_v"),
    )
    q_probe = (
        q_vecs.crossJoin(F.broadcast(cell_centroids))
        .withColumn("_d", _sq("q_v", "centroid"))
        .withColumn(
            "_rk",
            F.row_number().over(W.partitionBy("q_id").orderBy("_d", "cell")),
        )
        .filter(F.col("_rk") <= nprobe)
        .select("q_id", "cell")
    )

    dtab = _dtab_frame(queries, cb, id_col, vec_col)

    adc = F.expr(
        "aggregate(zip_with(codes, dtab, (c, row) -> element_at(row, c + 1)),"
        " 0D, (s, v) -> s + v)"
    )
    w = Window.partitionBy("q_id").orderBy(F.asc("adc_dist"), F.asc("c_id"))
    return (
        q_probe.join(c_cells, "cell")
        .filter(F.col("q_id") != F.col("c_id"))
        .join(corpus_codes.select(F.col(id_col).alias("c_id"), "codes"), "c_id")
        .join(F.broadcast(dtab), "q_id")
        .withColumn("adc_dist", F.round(adc, 6))
        .select(
            "q_id",
            "c_id",
            "adc_dist",
            F.row_number().over(w).cast("bigint").alias("rank"),
        )
        .filter(F.col("rank") <= k)
    )

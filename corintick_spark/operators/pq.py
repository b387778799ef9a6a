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
- ``pq_fit``   — ONE distributed k-means over all m subspaces at once
  (subspace id `j` is just another grouping column), so the driver loop is
  `iters` rounds total, not `m * iters`. Only the m*k*(d/m) codebook floats
  ever reach the driver.
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

Determinism: init picks per-subspace seeds by smallest xxhash64(id) — no
RNG. Float averaging in the centroid update is the only order-dependent
step, so correctness checks are structural (code ranges, compression
ratio, recall vs exact scan), i.e. the rows-only driver tier.
"""

from __future__ import annotations

import pandas as pd  # noqa: F401 — resolves the stringified pd.Series hints
from pyspark.sql import DataFrame, Window
import pyspark.sql.functions as F

from corintick_spark.operators.spread import spread_input


def _subvectors(df: DataFrame, m: int, sub: int, id_col: str, vec_col: str) -> DataFrame:
    """Explode each vector into (id, j, sv): m rows of `sub`-dim slices."""
    slices = F.expr(
        f"transform(sequence(0, {m - 1}), j ->"
        f" transform(slice({vec_col}, j * {sub} + 1, {sub}),"
        f" x -> CAST(x AS DOUBLE)))"
    )
    return df.select(
        F.col(id_col).alias("_id"), F.posexplode(slices).alias("j", "sv")
    )


def _sq(a: str, b: str):
    return F.expr(
        f"aggregate(zip_with({a}, {b}, (x, y) -> (x - y) * (x - y)),"
        " 0D, (s, v) -> s + v)"
    )


def _cb_array(books: dict, m: int, k: int):
    """Codebooks as an (m, k, sub) numpy array for the vectorized UDFs."""
    import numpy as np

    return np.array(
        [[list(books[(j, c)]) for c in range(k)] for j in range(m)],
        dtype=np.float64,
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
    for p in range(sub):
        d = x[:, :, None, p] - cb[None, :, :, p]
        acc += d * d
    return acc


def _codes_udf(books: dict, m: int, k: int):
    """Vectorized quantizer (round 11, guide §4.2): a pandas UDF hands
    whole Arrow batches to numpy — replaces the interpreted nested-HOF /
    fan-out-join assignment, which paid per-element lambda interpretation
    on every (row, subspace, cell) triple. np.argmin takes the FIRST
    minimal index = smallest cell on ties, the same (d, cell) order as the
    old min_by(struct(_d, cell))."""
    import numpy as np
    import pandas as pd

    cb = _cb_array(books, m, k)

    @F.pandas_udf("array<int>")
    def codes(v: pd.Series) -> pd.Series:
        d = _dists_batch(v.to_numpy(), cb)
        out = d.argmin(axis=2).astype("int32")
        return pd.Series(list(out))

    return codes


def _dtab_udf(books: dict, m: int, k: int):
    """Vectorized ADC distance-table builder: dtab[j][cell] per query row,
    same layout and bit-identical doubles as the old two-stage
    collect_list aggregation (see _dists_batch)."""
    import pandas as pd

    cb = _cb_array(books, m, k)

    @F.pandas_udf("array<array<double>>")
    def dtab(v: pd.Series) -> pd.Series:
        d = _dists_batch(v.to_numpy(), cb)
        # row-wise tolist: Arrow nested-list conversion wants python lists,
        # not 2-D ndarrays; dtab inputs are probe sets (small by contract)
        return pd.Series([r.tolist() for r in d])

    return dtab


def pq_fit(
    df: DataFrame,
    m: int = 8,
    k: int = 16,
    iters: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    fit_sample_max: int = 100_000,
) -> DataFrame:
    """Train m per-subspace codebooks of k centroids each, in one
    distributed loop (subspace id is a grouping column). Returns a
    DataFrame (j int, cell int, centroid array<double>) of m*k rows —
    always broadcastable (m*k*(d/m) = d*k doubles total).

    ``iters`` is the exact number of Lloyd rounds run, not a budget: the
    loop never stops early on converged codebooks.

    ``fit_sample_max``: codebooks are fit on a deterministic hash-capped
    sample of at most ~this many vectors (operators/sampling.py) — the
    FAISS train()/add() split: pq_encode still quantizes every row, but
    the fit loop's per-round shuffles are bounded regardless of corpus
    size. Corpora at or below the cap fit on every row (bit-identical
    to the unsampled fit). 0/None disables."""
    from corintick_spark.operators.sampling import hash_sample_cap

    spark = df.sparkSession
    head = df.select(vec_col).first()  # one-row action at fit time only
    if head is None:  # empty input -> empty codebooks, never throw
        return spark.createDataFrame([], "j int, cell int, centroid array<double>")
    dim = len(head[0])
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    sub = dim // m

    fit_df = (
        hash_sample_cap(spread_input(df), id_col, fit_sample_max)
        .select(
            F.col(id_col).alias("_id"),
            F.expr(f"transform({vec_col}, x -> CAST(x AS DOUBLE))").alias("_v"),
        )
        .persist()
    )

    # Deterministic init — the k vectors with smallest id hash. xxhash64(id)
    # does not depend on the subspace, so the per-j rank order is the SAME
    # id order for every j: one TakeOrdered over the fit frame replaces the
    # round-1 window over the m-way exploded subvectors (identical cells).
    init = (
        fit_df.orderBy(F.xxhash64("_id"), "_id").limit(k).collect()
    )
    books = {
        (j, c): list(r["_v"][j * sub:(j + 1) * sub])
        for c, r in enumerate(init)
        for j in range(m)
    }

    for _ in range(iters):
        # ONE job per round, one map-side-combined shuffle of <= m*k*(d/m)
        # partial rows: the vectorized UDF (guide §4.2) assigns every
        # subspace's cell in one Arrow batch pass (no fan-out join on j,
        # no (_id, j) aggregation), and the centroid update explodes
        # straight to (j, cell, pos, x) for a tiny partial+final average.
        assigned = fit_df.select("_v", _codes_udf(books, m, k)("_v").alias("_cells"))
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
        new = {(r["j"], r["cell"]): list(r["centroid"]) for r in comp}
        books = {jc: new.get(jc, v) for jc, v in books.items()}

    fit_df.unpersist()
    return spark.createDataFrame(
        [(j, c, v) for (j, c), v in sorted(books.items())],
        "j int, cell int, centroid array<double>",
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
    mj = codebooks.select(F.max("j")).first()[0]
    if mj is None:  # empty codebooks (empty fit input) -> empty codes
        return df.limit(0).select(
            F.col(id_col), F.expr("CAST(array() AS array<int>)").alias("codes")
        )
    m = mj + 1
    rows = codebooks.collect()  # m*k rows — the always-broadcastable table
    k = max(r["cell"] for r in rows) + 1
    books = {(r["j"], r["cell"]): list(r["centroid"]) for r in rows}
    # Vectorized quantization (round 11, guide §4.2): one Arrow-batched
    # projection — no m-way explode, no fan-out join, no (_id, j) + (_id)
    # double aggregation; ZERO shuffles. spread_input parallelizes the
    # single-file local scan the projection would otherwise inherit.
    return spread_input(df).select(
        F.col(id_col), _codes_udf(books, m, k)(vec_col).alias("codes")
    )


def _dtab_frame(
    queries: DataFrame,
    codebooks: DataFrame,
    m: int,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """Per-query ADC distance table (q_id, dtab[j][cell]) as ONE projection
    over the crossJoined 1-row codebook (round 11) — replaces the m-way
    explode + fan-out join + double collect_list aggregation. Same [j][cell]
    layout and the same zip_with/aggregate float expression, so tables are
    identical."""
    rows = codebooks.collect()
    k = max(r["cell"] for r in rows) + 1
    books = {(r["j"], r["cell"]): list(r["centroid"]) for r in rows}
    return queries.select(
        F.col(id_col).alias("q_id"),
        _dtab_udf(books, m, k)(vec_col).alias("dtab"),
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
    mj = codebooks.select(F.max("j")).first()[0]
    if mj is None:  # empty codebooks -> no candidates
        return queries.limit(0).select(
            F.col(id_col).alias("q_id"),
            F.col(id_col).alias("c_id"),
            F.lit(0.0).alias("adc_dist"),
            F.lit(0).cast("bigint").alias("rank"),
        )
    m = mj + 1
    dtab = _dtab_frame(queries, codebooks, m, id_col, vec_col)

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

    mj = codebooks.select(F.max("j")).first()[0]
    if mj is None:
        return queries.limit(0).select(
            F.col(id_col).alias("q_id"),
            F.col(id_col).alias("c_id"),
            F.lit(0.0).alias("adc_dist"),
            F.lit(0).cast("bigint").alias("rank"),
        )
    m = mj + 1

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

    dtab = _dtab_frame(queries, codebooks, m, id_col, vec_col)

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

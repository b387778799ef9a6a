"""Unit tests for the degree-oriented triangle operator (operators/graph.py)
and the product-quantization ANN stack (operators/pq.py).

Triangle correctness is checked on hand-built graphs with known answers
(including the hub graph that punishes a bad orientation) and cross-checked
against a numpy adjacency-matrix trace count on a pseudo-random graph. PQ
is checked structurally (code ranges, compression), by an EXACT numpy
differential of the ADC distances (the fold over the codes column must
reproduce sum_j ||q_j - centroid[code_j]||^2 bit-for-bit at round-6), and
by an honest recall floor — the synthetic embeddings are near-uniform in
64-dim (quantization error ~0.56 vs neighbor-distance spread ~1.3-2.0), so
recall@5 is structurally low; the floor asserts >= 5x the random baseline,
and the oracle-grade correctness lives in the numpy differential."""

from __future__ import annotations

import numpy as np
import pyspark.sql.functions as F
import pytest

from corintick_spark.operators.graph import triangles
from corintick_spark.operators.pq import pq_encode, pq_fit, pq_topk
from tests.spy import fit_route


def test_triangles_known_graph(spark):
    # two triangles sharing node 3; duplicate, reversed, and self-loop edges
    # must be tolerated
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1), (3, 4), (4, 5), (5, 3), (5, 5), (2, 1), (1, 2)],
        "src int, dst int",
    )
    got = sorted(tuple(r) for r in triangles(edges).collect())
    assert got == [(1, 2, 3), (3, 4, 5)]


def test_triangles_hub_graph(spark):
    # star around node 0 plus one closing edge: exactly one triangle. With
    # id-orientation the hub would source 9 wedges; degree orientation makes
    # the hub a wedge target — either way the answer must be (0, 1, 2).
    star = [(0, i) for i in range(1, 10)] + [(1, 2)]
    got = sorted(
        tuple(r)
        for r in triangles(spark.createDataFrame(star, "src int, dst int")).collect()
    )
    assert got == [(0, 1, 2)]


def test_triangles_empty_and_triangle_free(spark):
    assert triangles(spark.createDataFrame([], "src int, dst int")).count() == 0
    # a path graph has no triangles
    path = spark.createDataFrame([(i, i + 1) for i in range(20)], "src int, dst int")
    assert triangles(path).count() == 0


def test_triangles_numpy_differential(spark):
    # pseudo-random graph via a fixed congruential sequence (no RNG):
    # edge (a, b) iff (a * 37 + b * 17) % 7 == 0, over 30 nodes
    n = 30
    edges = [
        (a, b)
        for a in range(n)
        for b in range(a + 1, n)
        if (a * 37 + b * 17) % 7 == 0
    ]
    adj = np.zeros((n, n), dtype=np.int64)
    for a, b in edges:
        adj[a, b] = adj[b, a] = 1
    expected = int(np.trace(np.linalg.matrix_power(adj, 3))) // 6
    got = triangles(spark.createDataFrame(edges, "src int, dst int")).count()
    assert got == expected
    assert got > 0  # the graph actually has triangles, or the test is vacuous


@pytest.fixture(scope="module")
def pq_stack(spark, sf_dir):
    """Codebooks fit on the distributed route, so the Spark Lloyd loop
    keeps its recall coverage (tests/test_fit_routes.py pins that the
    driver-local route finds the same codebooks)."""
    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    with pytest.MonkeyPatch.context() as mp, fit_route(mp, "distributed"):
        books = pq_fit(e, m=8, k=16, iters=3)
    codes = pq_encode(e, books)
    return e, books, codes


def test_pq_codes_structure(pq_stack):
    e, books, codes = pq_stack
    assert books.count() == 8 * 16
    stats = codes.select(
        F.min(F.array_min("codes")).alias("lo"),
        F.max(F.array_max("codes")).alias("hi"),
        F.min(F.size("codes")).alias("m_lo"),
        F.max(F.size("codes")).alias("m_hi"),
        F.count("*").alias("n"),
    ).first()
    assert stats["lo"] >= 0 and stats["hi"] <= 15
    assert stats["m_lo"] == stats["m_hi"] == 8  # 8 sub-codes = 8 bytes/vector
    assert stats["n"] == e.count()


def test_pq_adc_matches_numpy(pq_stack):
    """The ADC fold must reproduce the numpy distance table computation
    exactly (round-6) — this is the oracle-grade check for pq_topk."""
    e, books, codes = pq_stack
    B = {(r["j"], r["cell"]): np.asarray(r["centroid"]) for r in books.collect()}
    C = {r["vec_id"]: list(r["codes"]) for r in codes.collect()}
    X = {r["vec_id"]: np.asarray(r["embedding"], dtype=np.float64) for r in e.collect()}
    sub = 8

    def adc(qv, code):
        return sum(
            float(np.sum((qv[j * sub : (j + 1) * sub] - B[(j, c)]) ** 2))
            for j, c in enumerate(code)
        )

    got = pq_topk(e.filter(F.col("vec_id") < 5), codes, books, k=5).collect()
    assert len(got) == 25
    for r in got:
        assert r["adc_dist"] == pytest.approx(
            adc(X[r["q_id"]], C[r["c_id"]]), abs=1e-6
        )


def test_pq_recall_floor(spark, pq_stack):
    """recall@5 vs the exact L2 scan must beat 5x random (random = 5/n)."""
    e, books, codes = pq_stack
    probes = e.filter(F.col("vec_id") < 20)
    pq5 = pq_topk(probes, codes, books, k=5).collect()

    from pyspark.sql import Window

    ex = (
        probes.select(F.col("vec_id").alias("q_id"), F.col("embedding").alias("qv"))
        .crossJoin(
            e.select(F.col("vec_id").alias("c_id"), F.col("embedding").alias("cv"))
        )
        .filter("q_id != c_id")
        .withColumn(
            "d",
            F.expr(
                "aggregate(zip_with(qv, cv, (x, y) ->"
                " (CAST(x AS DOUBLE) - CAST(y AS DOUBLE))"
                " * (CAST(x AS DOUBLE) - CAST(y AS DOUBLE))),"
                " 0D, (s, v) -> s + v)"
            ),
        )
    )
    w = Window.partitionBy("q_id").orderBy("d", "c_id")
    ex5 = ex.withColumn("rk", F.row_number().over(w)).filter("rk <= 5").collect()

    truth: dict[int, set[int]] = {}
    for r in ex5:
        truth.setdefault(r["q_id"], set()).add(r["c_id"])
    pred: dict[int, set[int]] = {}
    for r in pq5:
        pred.setdefault(r["q_id"], set()).add(r["c_id"])
    hits = sum(len(truth[q] & pred.get(q, set())) for q in truth)
    total = sum(len(v) for v in truth.values())
    recall = hits / total
    assert recall >= 5.0 * 5.0 / e.count(), f"recall@5 {recall:.3f} below floor"


def test_pq_empty_inputs(spark):
    emp = spark.createDataFrame([], "vec_id long, embedding array<float>")
    books = pq_fit(emp)
    assert books.count() == 0
    codes = pq_encode(emp, books)
    assert codes.count() == 0
    assert pq_topk(emp, codes, books).count() == 0


def test_ann_index_lifecycle(spark, sf_dir, tmp_path):
    """build -> save -> load (fresh handle, no embeddings) -> search must
    equal searching the in-memory index, and the persisted codes table must
    be partitioned by cell (the inverted-list pruning layout)."""
    import os

    from corintick_spark.operators.ann_index import AnnIndex

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    idx = AnnIndex.build(e, cells=8, m=8, k=16, cell_iters=2, pq_iters=2)
    probes = e.filter(F.col("vec_id") < 5)
    direct = sorted(map(tuple, idx.search(probes, topk=5, nprobe=8).collect()))

    path = str(tmp_path / "annidx")
    idx.save(path)
    assert os.path.exists(os.path.join(path, "manifest.json"))
    # partitioned-by-cell layout => cell=N subdirectories
    cell_dirs = [d for d in os.listdir(os.path.join(path, "codes")) if d.startswith("cell=")]
    assert len(cell_dirs) > 1

    idx2 = AnnIndex.load(spark, path)
    loaded = sorted(map(tuple, idx2.search(probes, topk=5, nprobe=8).collect()))
    assert loaded == direct
    assert len(loaded) == 25

    # nprobe=all equals the plain PQ ADC scan over the same artifacts
    from corintick_spark.operators.pq import pq_topk

    plain = sorted(
        map(tuple, pq_topk(probes, idx2.codes, idx2.codebooks, k=5).collect())
    )
    assert loaded == plain

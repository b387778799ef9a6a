"""Sample-based ANN fit (operators/sampling.py::hash_sample_cap wired into
kmeans_fit / pq_fit — the FAISS train()/add() split).

Pins the three contract points: (1) corpora at or below the cap fit
BIT-IDENTICALLY to the unsampled fit (so the small-SF recall floors the
rows-only driver tier records are untouched by this change); (2) the
sample is deterministic and ~cap-sized; (3) an ACTIVE cap preserves
search quality — recall@5 of IVF/PQ search with a half-corpus fit stays
at the same floors the full fit clears (centroid fitting saturates well
below the corpus size; that is the whole premise of sampling the fit)."""

from __future__ import annotations

import pyspark.sql.functions as F

from corintick_spark.catalog import table
from corintick_spark.operators.clustering import ivf_topk, kmeans_fit
from corintick_spark.operators.pq import pq_encode, pq_fit, pq_topk
from corintick_spark.operators.sampling import hash_sample_cap
from tests.spy import fit_route


def test_hash_sample_noop_under_cap(spark, sf_dir):
    e = table(spark, sf_dir, "embeddings")
    n = e.count()
    # at or above the corpus size the frame must pass through untouched
    # (same plan object, not merely same rows — no filter gets added)
    for cap in (n, n + 1, 0):  # 0/None disables
        frame, rows = hash_sample_cap(e, "vec_id", cap)
        assert frame is e and rows == n


def test_hash_sample_deterministic_and_sized(spark, sf_dir):
    e = table(spark, sf_dir, "embeddings")
    n = e.count()
    cap = n // 2
    (f1, rows), (f2, _) = hash_sample_cap(e, "vec_id", cap), hash_sample_cap(e, "vec_id", cap)
    assert rows == cap
    s1 = sorted(r[0] for r in f1.select("vec_id").collect())
    s2 = sorted(r[0] for r in f2.select("vec_id").collect())
    assert s1 == s2, "hash sample must be deterministic across runs"
    # binomial around cap: allow a wide but meaningful band
    assert 0.6 * cap <= len(s1) <= 1.4 * cap
    assert len(s1) < n


def test_fit_identical_when_under_cap(spark, sf_dir):
    e = table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 100)
    full = kmeans_fit(e, k=4, iters=2, fit_sample_max=0).collect()
    capped = kmeans_fit(e, k=4, iters=2, fit_sample_max=100_000).collect()
    assert sorted((r["cell"], tuple(r["centroid"])) for r in full) == sorted(
        (r["cell"], tuple(r["centroid"])) for r in capped
    )


def _exact_l2_top5(e, probes):
    """Exact L2 top-5 per probe: {q_id: set(c_id)}."""
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
    truth: dict[int, set[int]] = {}
    for r in ex.withColumn("rk", F.row_number().over(w)).filter("rk <= 5").collect():
        truth.setdefault(r["q_id"], set()).add(r["c_id"])
    return truth


def _pooled_recall(truth, got_rows):
    pred: dict[int, set[int]] = {}
    for r in got_rows:
        pred.setdefault(r["q_id"], set()).add(r["c_id"])
    hits = sum(len(truth[q] & pred.get(q, set())) for q in truth)
    return hits / sum(len(v) for v in truth.values())


def test_ivf_recall_with_active_cap(spark, sf_dir, monkeypatch):
    e = table(spark, sf_dir, "embeddings")
    probes = e.filter(F.col("vec_id") < 10)
    n = e.count()
    # force the cap to bite: fit centroids on ~half the corpus, on the
    # distributed route so the Spark Lloyd loop keeps its recall coverage
    with fit_route(monkeypatch, "distributed"):
        cents = kmeans_fit(e, k=16, iters=5, fit_sample_max=n // 2)
    got = ivf_topk(probes, e, cents, k=5, nprobe=4).collect()
    # ivf_topk scores exact cosine inside probed cells; the sampled fit only
    # moves CELL BOUNDARIES, so recall stays well above similarity_ivf's 0.4
    # floor unless the sampled centroids are degenerate
    from corintick_spark.operators.similarity import brute_force_topk

    exact = brute_force_topk(probes, e, k=5).collect()
    truth: dict[int, set[int]] = {}
    for r in exact:
        truth.setdefault(r["q_id"], set()).add(r["c_id"])
    assert _pooled_recall(truth, got) >= 0.4


def test_pq_recall_with_active_cap(spark, sf_dir, monkeypatch):
    e = table(spark, sf_dir, "embeddings")
    probes = e.filter(F.col("vec_id") < 20)
    n = e.count()
    with fit_route(monkeypatch, "distributed"):
        books = pq_fit(e, m=8, k=16, iters=3, fit_sample_max=n // 2)
    codes = pq_encode(e, books)
    got = pq_topk(probes, codes, books, k=5).collect()
    truth = _exact_l2_top5(e, probes)
    # same floor test_pq_recall_floor pins for the full fit: 5x random
    assert _pooled_recall(truth, got) >= 5.0 * 5.0 / n


def test_threshold_never_zero_at_extreme_scale():
    # ADVICE r7: at n > cap * _DENOM the exact kept fraction floors to 0,
    # which would make the fit stage train on an EMPTY sample at exactly
    # the corpus scale sampling exists for. The guard keeps >= 1 hash slot.
    from corintick_spark.operators.sampling import _DENOM, _threshold

    assert _threshold(100_000, 100_000 * _DENOM * 10) == 1
    assert _threshold(100_000, 10**15) >= 1
    # ordinary regime unaffected: fraction is exact to 1/_DENOM
    assert _threshold(100_000, 200_000) == _DENOM // 2

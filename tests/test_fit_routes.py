"""The two routes of the k-means fits (operators/pq.py::_fit, behind
``pq_fit`` and ``clustering.kmeans_fit``): a fit sample of at most
``pq._LOCAL_FIT_DOUBLES`` doubles runs its Lloyd rounds in numpy on the
driver, a larger one runs one Spark job per round. Both must find the same
cells with the same centroids on every input shape, and the local route
must run no per-round job."""

from __future__ import annotations

import numpy as np
import pytest
import pyspark.sql.functions as F

from corintick_spark.operators import pq
from corintick_spark.operators.clustering import kmeans_fit
from corintick_spark.operators.pq import pq_encode, pq_fit, pq_topk
from tests.spy import ROUTES, count_jobs, fit_route


def _cells(frame):
    """(schema, the key columns of each row in key order, the centroids)."""
    keys = [c for c in frame.columns if c != "centroid"]
    rows = sorted(frame.collect(), key=lambda r: [r[c] for c in keys])
    return (
        frame.schema,
        [[r[c] for c in keys] for r in rows],
        np.array([r["centroid"] for r in rows], dtype=np.float64),
    )


def _both(monkeypatch, fit, local_runs=True):
    """``fit()`` on each route, which must agree: same schema, same cells,
    centroids equal to 1e-12 relative. The local run must run the numpy
    loop (unless ``local_runs`` is False) and the distributed one must
    not."""
    out = []
    for route in ROUTES:
        with fit_route(monkeypatch, route) as taken:
            out.append(_cells(fit()))
        want = ["local"] if route == "local" and local_runs else []
        assert taken == want, (route, taken)
    (s1, k1, c1), (s2, k2, c2) = out
    assert s1 == s2
    assert k1 == k2
    assert c1.shape == c2.shape
    np.testing.assert_allclose(c1, c2, rtol=1e-12, atol=0)
    return out[0]


def _vectors(spark, rows, ddl="vec_id long, embedding array<float>"):
    return spark.createDataFrame(rows, ddl)


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


def test_pq_fit_routes_agree(emb, monkeypatch):
    _, keys, cents = _both(monkeypatch, lambda: pq_fit(emb, m=8, k=16, iters=3))
    assert keys == [[j, c] for j in range(8) for c in range(16)]
    assert cents.shape == (128, 8)


def test_kmeans_fit_routes_agree(emb, monkeypatch):
    _, keys, cents = _both(monkeypatch, lambda: kmeans_fit(emb, k=16, iters=5))
    assert keys == [[c] for c in range(16)]
    assert cents.shape == (16, 64)


def test_routes_agree_under_an_active_cap(emb, monkeypatch):
    """A cap below the corpus size fits both routes on the same hash
    sample."""
    n = emb.count()
    _both(monkeypatch, lambda: pq_fit(emb, m=8, k=16, iters=2, fit_sample_max=n // 3))
    _both(monkeypatch, lambda: kmeans_fit(emb, k=8, iters=3, fit_sample_max=n // 3))


def test_fewer_vectors_than_cells(spark, monkeypatch):
    """n < k: each subspace has n cells, one per vector, on both routes."""
    rng = np.random.default_rng(3)
    rows = [(i, rng.standard_normal(8).astype(np.float32).tolist()) for i in range(5)]
    e = _vectors(spark, rows)
    _, keys, cents = _both(monkeypatch, lambda: pq_fit(e, m=2, k=16, iters=3))
    assert keys == [[j, c] for j in range(2) for c in range(5)]
    _, keys, _ = _both(monkeypatch, lambda: kmeans_fit(e, k=16, iters=3))
    assert keys == [[c] for c in range(5)]


def test_dim_not_divisible_by_m_raises(emb, monkeypatch):
    for route in ROUTES:
        with fit_route(monkeypatch, route), pytest.raises(ValueError, match="not divisible"):
            pq_fit(emb, m=7)


def test_empty_input(spark, monkeypatch):
    e = _vectors(spark, [])
    assert _both(monkeypatch, lambda: pq_fit(e), local_runs=False)[1] == []
    assert _both(monkeypatch, lambda: kmeans_fit(e), local_runs=False)[1] == []


def test_null_vectors_left_out_and_null_elements_go_distributed(spark, monkeypatch):
    """A NULL vector is left out of the fit and a NULL id is a row like any
    other, on both routes; a vector with a NULL element sends the fit to
    the distributed loop."""
    rng = np.random.default_rng(5)
    rows = [(i, rng.standard_normal(4).astype(np.float32).tolist()) for i in range(40)]
    e = _vectors(spark, rows + [(None, [1.0, 2.0, 3.0, 4.0]), (99, None)])
    _, keys, _ = _both(monkeypatch, lambda: pq_fit(e, m=2, k=4, iters=3))
    assert len(keys) == 8
    holed = _vectors(spark, rows + [(98, [1.0, None, 3.0, 4.0])])
    _both(monkeypatch, lambda: kmeans_fit(holed, k=4, iters=2), local_runs=False)


def test_local_fit_runs_no_udf_and_no_round_jobs(emb, monkeypatch):
    """The local fit's jobs (the sample count, two jobs under AQE; the
    first row; the toArrow() read) do not grow with its rounds, and it builds no pandas UDF. Its codebooks
    are a local relation: pq_encode and pq_topk read them and plan with no
    job at all."""
    built = []
    real = pq._codes_udf
    monkeypatch.setattr(pq, "_codes_udf", lambda cb: built.append(cb) or real(cb))
    with fit_route(monkeypatch, "local") as taken:
        _, one = count_jobs(emb.sparkSession, lambda: pq_fit(emb, iters=1).collect())
        books, five = count_jobs(emb.sparkSession, lambda: pq_fit(emb, iters=5))
        _, cells = count_jobs(emb.sparkSession, lambda: kmeans_fit(emb, iters=5).collect())
    assert taken == ["local"] * 3
    assert built == []
    assert one == five == cells <= 4
    plan = books._jdf.queryExecution().analyzed().getClass().getSimpleName()
    assert plan == "LocalRelation"
    probes = emb.filter(F.col("vec_id") < 10)
    out, jobs = count_jobs(
        emb.sparkSession, lambda: pq_topk(probes, pq_encode(emb, books), books, k=5)
    )
    assert jobs == 0
    assert out.count() == 50

"""Small frames the driver builds go through one helper,
corintick_spark/session.py::local_relation, and come out as Arrow-built
``LocalRelation`` plans: reading one runs no Spark job and starts no Python
worker (a ``createDataFrame`` of a list of rows is a ``LogicalRDD`` over a
Python RDD, and every read of it is a job)."""

from __future__ import annotations

import pytest

from corintick_spark import session, storage
from corintick_spark.operators import quantile
from corintick_spark.operators.clustering import kmeans_fit
from corintick_spark.operators.pq import pq_fit
from tests.spy import count_jobs


def _plan(frame) -> str:
    return frame._jdf.queryExecution().analyzed().getClass().getSimpleName()


@pytest.fixture
def built(monkeypatch):
    """The frames ``local_relation`` builds for quantile.py and storage.py
    while the test runs."""
    frames: list = []

    def spy(*a, **kw):
        frames.append(session.local_relation(*a, **kw))
        return frames[-1]

    monkeypatch.setattr(quantile, "local_relation", spy)
    monkeypatch.setattr(storage, "local_relation", spy)
    return frames


def _reads_without_jobs(spark, frame):
    assert _plan(frame) == "LocalRelation"
    rows, jobs = count_jobs(spark, frame.collect)
    assert jobs == 0
    return rows


def test_grouped_quantile_table_is_a_local_relation(spark, built):
    df = spark.createDataFrame([("a", 1), ("a", 5), ("b", 2)], "g string, x bigint")
    got = {r.g: r.value for r in quantile.grouped_quantile(df, "g", "x", 0.5).collect()}
    assert got == {"a": 1, "b": 2}
    assert len(built) == 1
    assert [tuple(r) for r in _reads_without_jobs(spark, built[0])] == [(0.5, 500_000)]


def test_bucket_probe_is_a_local_relation(spark, built, tmp_path):
    store = storage.TickStore(spark, str(tmp_path / "store"), bucket_uids=4)
    buckets = store._buckets_for(["a", "b", "c"])
    assert len(built) == 1
    assert sorted(r[0] for r in _reads_without_jobs(spark, built[0])) == ["a", "b", "c"]
    assert set(buckets) <= set(range(4))


def test_fit_results_are_local_relations(spark, sf_dir):
    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    assert len(_reads_without_jobs(spark, pq_fit(e, m=8, k=4, iters=1))) == 32
    assert len(_reads_without_jobs(spark, kmeans_fit(e, k=4, iters=1))) == 4
    empty = e.limit(0)
    assert _reads_without_jobs(spark, pq_fit(empty)) == []
    assert _reads_without_jobs(spark, kmeans_fit(empty)) == []

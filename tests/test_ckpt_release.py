"""The checkpoint-and-measure step (operators/ckpt.py::materialize),
checkpoint lifetime (operators/ckpt.py::scope) and the streaming
worker-spawn-flake retry matcher. Without these, a Spark upgrade that
changes py4j internals or the exception message would silently revert
both to no-ops.
"""

from __future__ import annotations

import os
from contextlib import contextmanager

import pyspark.sql.functions as F
from pyspark.sql.types import ArrayType

from corintick_spark.operators.ckpt import materialize, release_local_checkpoint, scope
from tests.spy import count_jobs

# the registered queries whose operators leave result-feeding checkpoints
# alive when they return (nndescent/ANN frames are held across operator
# calls by GraphIndex and are left to the ContextCleaner, see ann_index.py)
_CHECKPOINTING_QUERIES = [
    "dedup_minhash", "dedup_ngram", "dedup_survivors",
    "dedup_clusters", "dedup_image_phash", "graph_pagerank",
    "graph_bfs", "sql_recursive", "agg_group_median",
    "text_heavyhitters",
]


def _persistent_ids(spark) -> set:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())


def _edge_stats():
    return {"n": F.count(F.lit(1)), "s": F.expr("bit_xor(xxhash64(u, v))")}


def _edges(spark, n=1000):
    return spark.range(n).selectExpr("id AS u", "id * 7 % 113 AS v").repartition(3)


def test_materialize_stats_equal_a_separate_agg(spark):
    frame, st = materialize(_edges(spark), **_edge_stats())
    want = frame.agg(*[c.alias(k) for k, c in _edge_stats().items()]).first()
    assert st == {**want.asDict(), "rows": 1000} and st["n"] == 1000
    assert frame.count() == 1000


def test_materialize_runs_the_jobs_of_a_bare_checkpoint(spark):
    _, bare = count_jobs(spark, lambda: _edges(spark).localCheckpoint(eager=True))
    _, measured = count_jobs(
        spark, lambda: materialize(_edges(spark), **_edge_stats())
    )
    assert bare >= 1 and measured == bare


def test_materialize_empty_frame_counts_zero_sums_null(spark):
    frame, st = materialize(_edges(spark).filter("u < 0"), **_edge_stats())
    assert st == {"rows": 0, "n": 0, "s": None}
    assert frame.count() == 0
    assert _size(frame) <= 1


def _size(frame) -> int:
    """The sizeInBytes Catalyst estimates for ``frame``."""
    return frame._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()


def _row_width(frame) -> int:
    """Spark's estimated bytes per row of ``frame`` (getSizePerRow)."""
    return 8 + frame._jdf.schema().defaultSize()


@contextmanager
def _sized_checkpoints(monkeypatch, module):
    """Wrap ``module.materialize`` so every checkpoint it returns is checked:
    a frame without array columns must estimate at most its counted rows
    times its row width (a frame with one keeps its plan's estimate).
    Yields the list of (rows, estimate) pairs checked."""
    real = module.materialize
    checked = []

    def wrapper(*a, **kw):
        frame, st = real(*a, **kw)
        if not any(isinstance(f.dataType, ArrayType) for f in frame.schema):
            rows, size = frame.count(), _size(frame)
            assert size <= max(rows, 1) * _row_width(frame), (rows, size)
            checked.append((rows, size))
        return frame, st

    monkeypatch.setattr(module, "materialize", wrapper)
    yield checked


def test_materialize_sizes_the_checkpoint_by_its_rows(spark):
    """The checkpoint of a grouped frame estimates rows x row width, not the
    estimate of the plan it came from, and AQE broadcasts it in a join."""
    frame, st = materialize(_edges(spark).groupBy("v").agg(F.count("u").alias("n")))
    assert st["rows"] == 113
    assert _size(frame) == 113 * _row_width(frame)
    joined = _edges(spark).join(frame, "v")
    joined.collect()
    assert "BroadcastHashJoin" in joined._jdf.queryExecution().executedPlan().toString()


def test_pagerank_checkpoints_stay_sized_over_dangling_rounds(spark, monkeypatch):
    """The distributed PageRank loop over a graph with a dangling node, one
    checkpoint a round for 40 rounds: no checkpoint estimate grows past
    its rows x row width (each round used to multiply the last one's), and
    the ranks still sum to 1."""
    from corintick_spark.operators import pagerank as pr
    from tests.spy import loop_route

    edges = spark.createDataFrame(
        [("a", "b"), ("c", "a"), ("a", "c"), ("d", "a")], "src string, dst string"
    )
    with loop_route(monkeypatch, "distributed"), _sized_checkpoints(
        monkeypatch, pr
    ) as checked:
        ranks = pr.pagerank(edges, iterations=40, checkpoint_every=1)
        total = sum(r.rank for r in ranks.collect())
    assert len(checked) == 2 + 40
    assert abs(total - 1.0) < 1e-9


def test_nndescent_round_checkpoints_stay_sized(spark, monkeypatch):
    """One NN-Descent round (the ann_knn_graph shape on a tiny corpus): its
    graph checkpoints estimate at most rows x row width."""
    from corintick_spark.operators import nndescent

    rows = [(i, [float(i % 3), float(i % 5) + 1.0, 1.0]) for i in range(24)]
    corpus = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    with _sized_checkpoints(monkeypatch, nndescent) as checked:
        graph = nndescent.knn_graph(corpus, k=3, iters=1, build_k=4)
    assert len(checked) == 2  # the initial graph and the round's
    assert graph.count() == 24 * 3


def test_materialize_releases_only_after_materializing(spark):
    """The new frame reads the released one: releasing it first would
    leave the checkpoint job without its input blocks."""
    old = spark.range(100).localCheckpoint(eager=True)
    old_rdd = old._jdf.queryExecution().analyzed().rdd().id()
    assert old_rdd in _persistent_ids(spark)
    new, st = materialize(old.selectExpr("id * 2 AS x"), old)
    assert st == {"rows": 100}
    assert old_rdd not in _persistent_ids(spark)
    assert new.agg(F.sum("x")).first()[0] == 9900
    release_local_checkpoint(new)


def test_materialize_shares_one_listener(spark):
    """Each call's observation is unique, but the session keeps one
    query-execution listener for all of them."""
    manager = spark._jsparkSession.listenerManager()
    materialize(spark.range(3))
    before = len(manager.listListeners())
    for i in range(30):
        frame, st = materialize(spark.range(i))
        assert st == {"rows": i}
        release_local_checkpoint(frame)
    assert len(manager.listListeners()) == before


def test_scope_releases_rdds_persisted_inside(spark):
    before = _persistent_ids(spark)
    with scope(spark):
        ck = spark.range(1000).localCheckpoint(eager=True)
        cached = spark.range(500).persist()
        cached.count()
        inside = _persistent_ids(spark) - before
        assert len(inside) >= 2
    assert not inside & _persistent_ids(spark)
    del ck, cached


def test_scope_keeps_cache_persisted_before(spark):
    before = _persistent_ids(spark)
    user = spark.range(300).persist()
    user.count()
    user_ids = _persistent_ids(spark) - before
    assert user_ids
    with scope(spark):
        spark.range(10).localCheckpoint(eager=True).count()
    assert user_ids <= _persistent_ids(spark)
    assert user.count() == 300
    user.unpersist()


def test_nested_scopes_release_only_their_own(spark):
    base = _persistent_ids(spark)
    with scope(spark):
        outer = spark.range(10).localCheckpoint(eager=True)
        outer_ids = _persistent_ids(spark) - base
        with scope(spark):
            spark.range(20).localCheckpoint(eager=True)
            inner_ids = _persistent_ids(spark) - base - outer_ids
        now = _persistent_ids(spark)
        assert inner_ids and not inner_ids & now
        assert outer_ids and outer_ids <= now
        assert outer.count() == 10  # the outer frame is still readable
    assert not outer_ids & _persistent_ids(spark)


def test_scope_survives_bad_rdd(spark):
    """One RDD failing to unpersist must not stop the rest."""
    real_get = spark.sparkContext._jsc.getPersistentRDDs
    calls = []

    class _BadRDD:
        def unpersist(self, blocking):
            raise RuntimeError("boom")

    class _JSC:
        @staticmethod
        def getPersistentRDDs():
            calls.append(1)
            real = dict(real_get().items())
            # entry sees the real map; exit sees a failing RDD listed first
            return real if len(calls) == 1 else {-1: _BadRDD(), **real}

    class _SC:
        _jsc = _JSC()

    class _FakeSession:
        streams = spark.streams
        sparkContext = _SC()

    before = _persistent_ids(spark)
    with scope(_FakeSession()):
        good = spark.range(100).localCheckpoint(eager=True)
        inside = _persistent_ids(spark) - before
    assert inside and not inside & _persistent_ids(spark)
    del good


def test_scope_releases_nothing_while_stream_active(spark):
    """An active streaming query may hold state persisted inside the
    scope — the scope must leave everything in place."""

    class _Streams:
        active = [object()]  # pretend a query is running

    class _FakeSession:
        streams = _Streams()
        sparkContext = spark.sparkContext

    before = _persistent_ids(spark)
    with scope(_FakeSession()):
        kept = spark.range(10).localCheckpoint(eager=True)
        inside = _persistent_ids(spark) - before
    assert inside and inside <= _persistent_ids(spark)
    assert kept.count() == 10
    release_local_checkpoint(kept)


def test_worker_spawn_flake_matcher():
    from corintick_spark.streaming.events_stream import _worker_spawn_flake

    assert _worker_spawn_flake(
        RuntimeError(
            "org.apache.spark.SparkException: Python worker failed to "
            "connect back."
        )
    )
    assert not _worker_spawn_flake(ValueError("division by zero"))
    assert not _worker_spawn_flake(RuntimeError("FileNotFoundException"))


def _run_scoped_session(spark, sf_dir: str, passes: int) -> None:
    """Run every checkpointing query ``passes`` times in ONE session, each
    run in its own scope, with no session-wide release anywhere. After
    every scope the persistent RDDs this test created are exactly the ones
    before the scope: the cache the user materialized first."""
    from corintick_spark.registry import load_all

    registry = load_all()
    # RDD ids are sequential, so ids from `mark` on belong to this test;
    # RDDs earlier tests left to the ContextCleaner may vanish at any time
    mark = spark.sparkContext.emptyRDD()._jrdd.id()

    def ours() -> set:
        return {i for i in _persistent_ids(spark) if i >= mark}

    user = spark.range(1000).persist()
    user.count()
    user_ids = ours()
    assert user_ids
    for _pass in range(passes):
        for name in _CHECKPOINTING_QUERIES:
            with scope(spark):
                registry[name].spark(spark, sf_dir).write.format("noop").mode(
                    "overwrite"
                ).save()
            assert ours() == user_ids, (name, _pass)
    assert user.count() == 1000
    user.unpersist()


def test_long_session_scoped_runs_fast(spark, sf_dir):
    """Fast-gate form: 20 scoped runs at sf0.001."""
    _run_scoped_session(
        spark, os.path.join(os.path.dirname(sf_dir), "sf0.001"), passes=2
    )


def test_long_session_checkpoint_leak_bounded(spark, sf_dir):
    """30 scoped runs at the suite's scale factor (``TEST_SF_DIR``)."""
    _run_scoped_session(spark, sf_dir, passes=3)

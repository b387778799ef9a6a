"""The checkpoint-and-measure step (operators/ckpt.py::materialize),
checkpoint lifetime (operators/ckpt.py::scope) and the streaming
worker-spawn-flake retry matcher. Without these, a Spark upgrade that
changes py4j internals or the exception message would silently revert
both to no-ops.
"""

from __future__ import annotations

import os

import pyspark.sql.functions as F

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
    assert st == want.asDict() and st["n"] == 1000
    assert frame.count() == 1000


def test_materialize_runs_the_jobs_of_a_bare_checkpoint(spark):
    _, bare = count_jobs(spark, lambda: _edges(spark).localCheckpoint(eager=True))
    _, measured = count_jobs(
        spark, lambda: materialize(_edges(spark), **_edge_stats())
    )
    assert bare >= 1 and measured == bare


def test_materialize_empty_frame_counts_zero_sums_null(spark):
    frame, st = materialize(_edges(spark).filter("u < 0"), **_edge_stats())
    assert st == {"n": 0, "s": None}
    assert frame.count() == 0


def test_materialize_releases_only_after_materializing(spark):
    """The new frame reads the released one: releasing it first would
    leave the checkpoint job without its input blocks."""
    old = spark.range(100).localCheckpoint(eager=True)
    old_rdd = old._jdf.queryExecution().analyzed().rdd().id()
    assert old_rdd in _persistent_ids(spark)
    new, st = materialize(old.selectExpr("id * 2 AS x"), old, n=F.count(F.lit(1)))
    assert st == {"n": 100}
    assert old_rdd not in _persistent_ids(spark)
    assert new.agg(F.sum("x")).first()[0] == 9900
    release_local_checkpoint(new)


def test_materialize_shares_one_listener(spark):
    """Each call's observation is unique, but the session keeps one
    query-execution listener for all of them."""
    manager = spark._jsparkSession.listenerManager()
    materialize(spark.range(3), n=F.count(F.lit(1)))
    before = len(manager.listListeners())
    for i in range(30):
        frame, st = materialize(spark.range(i), n=F.count(F.lit(1)))
        assert st == {"n": i}
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

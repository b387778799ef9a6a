"""Lifetime of eagerly localCheckpointed (and otherwise persisted) results.

``Dataset.unpersist()`` is a silent NO-OP on a localCheckpointed frame:
the checkpoint's blocks are owned by the underlying RDD (the Dataset was
never registered with the CacheManager), so they are reclaimed only when
the ContextCleaner notices the RDD is garbage — which, through the py4j
reference chain, can lag Python GC by a long time.

The contract has one mechanism and one fallback:

* ``with scope(spark): ...`` — on exit, every RDD persisted since entry
  is unpersisted, and nothing that was persisted before entry. Run a
  query AND consume its result (collect, toPandas, a sink write) inside
  the scope; its frames cannot be evaluated after the scope closes.
  Caches a user materialized before entering survive; a cache first
  materialized inside a scope is persisted there and is released with
  it. Scopes nest: an inner scope releases what was persisted since it
  opened, the outer one what is left of its own. The scope diffs the
  whole session, so work on other threads while it is open is released
  with it.
* Outside any scope nothing is released early: results ride Spark's
  ContextCleaner, which frees blocks once the JVM collects their RDD.

Separately, an iterative operator frees each round's superseded
checkpoint inside its own loop with ``release_local_checkpoint`` — that
bounds peak memory within ONE query (connected components, PageRank,
BFS), independent of any scope.
"""

from __future__ import annotations

from contextlib import contextmanager

from pyspark.sql import DataFrame


def release_local_checkpoint(df: DataFrame) -> None:
    """Best-effort immediate release of an eagerly localCheckpointed
    frame's storage blocks: unpersists the checkpointed RDD itself (the
    ``LogicalRDD`` the frame wraps). After the call the frame CANNOT be
    evaluated again — only release frames whose consumers have all run.
    Safe no-op on anything else; falls back to the ContextCleaner if the
    plan shape is not the expected LogicalRDD (e.g. Spark Connect)."""
    try:
        plan = df._jdf.queryExecution().analyzed()
        if plan.getClass().getName().endswith("LogicalRDD"):
            plan.rdd().unpersist(False)
    except Exception:
        pass  # py4j internals — the ContextCleaner remains the fallback


def _persistent_rdds(spark) -> dict:
    """RDD id -> JavaRDD for every persisted RDD in the session; empty on
    any py4j/Connect incompatibility."""
    try:
        return dict(spark.sparkContext._jsc.getPersistentRDDs().items())
    except Exception:
        return {}


@contextmanager
def scope(spark):
    """Unpersist, on exit, every RDD persisted since entry.

    Each RDD's unpersist has its own ``try``, so one bad RDD does not stop
    the rest. Nothing is released while ``spark.streams.active`` is
    non-empty: an active streaming query may hold state or cached RDDs
    that were created inside the scope."""
    before = set(_persistent_rdds(spark))
    try:
        yield
    finally:
        try:
            streaming = bool(spark.streams.active)
        except Exception:
            streaming = True  # cannot tell: keep everything
        if not streaming:
            for rdd_id, rdd in _persistent_rdds(spark).items():
                if rdd_id not in before:
                    try:
                        rdd.unpersist(False)
                    except Exception:
                        pass

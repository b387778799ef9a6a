"""Materializing, measuring and releasing eagerly localCheckpointed frames.

``Dataset.unpersist()`` is a silent NO-OP on a localCheckpointed frame:
the checkpoint's blocks are owned by the underlying RDD (the Dataset was
never registered with the CacheManager), so they are reclaimed only when
the ContextCleaner notices the RDD is garbage — which, through the py4j
reference chain, can lag Python GC by a long time.

There is one step for materializing and measuring, and one scope for
lifetime:

* ``materialize(df, *release, **stats)`` — eagerly checkpoint ``df`` and
  read ``stats`` (aggregate columns: a loop's convergence count or hash,
  a build side's size) from the SAME job, through ``df.observe``; then
  release the frames the new one supersedes. An iterative operator frees
  each round's superseded checkpoint this way inside its own loop, which
  bounds peak memory within ONE query (connected components, PageRank,
  BFS), independent of any scope. No second action re-reads a checkpoint
  for a count.
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

The graph loops (PageRank, BFS, connected components) materialize their
edge list with ``edge_stats`` and ask ``runs_locally`` which route the loop
takes: an edge list of at most ``_LOCAL_EDGES`` rows runs the whole loop in
numpy on the driver (operators/local_graph.py), with no checkpoint round.
"""

from __future__ import annotations

import uuid
from contextlib import contextmanager
from functools import reduce
from operator import or_

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame
from pyspark.sql.types import IntegralType, StringType

from corintick_spark.operators.observe import observe_metrics

# Edge lists of at most this many rows run their graph loop on the driver.
# In a sweep of 2^10-2^22 edges on 4 cores (CHANGES.md) the local route won
# every size, but BFS's lead fell to ~20% from 2^20 edges up, while the
# driver's share of the work keeps growing with the graph: the bound sits
# there. More executor cores move the crossover down; re-measure on them.
_LOCAL_EDGES = 1 << 20


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


def materialize(
    df: DataFrame, *release: DataFrame, **stats: Column
) -> "tuple[DataFrame, dict]":
    """Eagerly localCheckpoint ``df`` and return (checkpointed frame,
    ``{name: value}`` of ``stats``), then release every frame in
    ``release``.

    ``stats`` are aggregate columns over ``df``'s output, attached at the
    top of its plan with ``observe`` — so the checkpoint job computes them
    and no second job reads the frame back. The values equal an ``agg``
    over the checkpoint: an empty frame counts 0 and sums NULL. Spark
    rejects DISTINCT aggregates in ``observe``; measure those with a
    separate action. ``release`` frames are freed only AFTER the new frame
    has materialized, so ``df`` may read them (see
    :func:`release_local_checkpoint`)."""
    if stats:
        df, obs = observe_metrics(df, f"ckpt_{uuid.uuid4().hex}", **stats)
    frame = df.localCheckpoint(eager=True)
    for old in release:
        release_local_checkpoint(old)
    return frame, obs.get if stats else {}


def edge_stats(*ids: str) -> "dict[str, Column]":
    """The stats a graph loop's edge-list checkpoint measures for its route
    (pass them to :func:`materialize`): the row count ``n`` and the count
    ``nulls`` of rows with a NULL in one of the ``ids`` columns."""
    null = reduce(or_, (F.col(c).isNull() for c in ids))
    return {"n": F.count(F.lit(1)), "nulls": F.count(F.when(null, 1))}


def runs_locally(edges: DataFrame, st: dict, *ids: str) -> bool:
    """Whether the loop over the materialized edge list ``edges``, measured
    as ``st`` by :func:`edge_stats`, runs in numpy on the driver: at most
    ``_LOCAL_EDGES`` rows, no NULL endpoint (each distributed loop gives a
    NULL id its own join semantics), and integral or plain-string ``ids``,
    whose equality and order Arrow shares with Spark. Every other edge list
    takes the distributed loop."""
    return (
        st["n"] <= _LOCAL_EDGES
        and st["nulls"] == 0
        and all(
            isinstance(t, IntegralType) or t == StringType()
            for t in (edges.schema[c].dataType for c in ids)
        )
    )


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

"""Materializing, measuring and releasing eagerly localCheckpointed frames.

``Dataset.unpersist()`` is a silent NO-OP on a localCheckpointed frame:
the checkpoint's blocks are owned by the underlying RDD (the Dataset was
never registered with the CacheManager), so they are reclaimed only when
the ContextCleaner notices the RDD is garbage — which, through the py4j
reference chain, can lag Python GC by a long time.

There is one step for materializing and measuring, and one scope for
lifetime:

* ``materialize(df, *release, **stats)`` — eagerly checkpoint ``df`` and
  read its row count ``rows`` and ``stats`` (aggregate columns: a loop's
  convergence count or hash, a build side's size) from the SAME job,
  through ``df.observe``; then release the frames the new one supersedes.
  An iterative operator frees each round's superseded checkpoint this way
  inside its own loop, which bounds peak memory within ONE query
  (connected components, PageRank, BFS), independent of any scope. No
  second action re-reads a checkpoint for a count.
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

Statistics. ``localCheckpoint`` keeps the size estimate of the plan it came
from, and a loop that joins each round to the last one's checkpoint
multiplies that estimate every round: a 4-row edge list claimed 10.7 EiB,
and PageRank's 22nd round 2.4e57387729 B, whose BigInt arithmetic then cost
the planner seconds per round. So ``materialize`` gives its checkpoint the
statistics it measured: ``rows`` rows of Spark's estimated row width
(``EstimationUtils.getSizePerRow``: 8 bytes plus each column's default
size) and no inherited constraints, and Catalyst and AQE choose the joins
against it as they would against any relation of that size. A frame
with an array or map column keeps its plan's estimate: the row width counts
one element per collection, which undercounts vector and shingle columns by
orders of magnitude (their build sides are measured in bytes instead, see
``dedup._sized_build``). On Spark Connect, whose frames have no JVM plan,
the checkpoint is returned as it is.

The graph loops (PageRank, BFS, connected components) materialize their
edge list and ask ``runs_locally`` which route the loop takes: an edge list
of at most ``_LOCAL_EDGES`` rows runs the whole loop in numpy on the driver
(operators/local_graph.py), with no checkpoint round.
"""

from __future__ import annotations

import uuid
from contextlib import contextmanager
from functools import lru_cache
from types import SimpleNamespace

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame
from pyspark.sql.types import ArrayType, IntegralType, MapType, StringType

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
    ``{"rows": row count, name: value of each of stats}``), then release
    every frame in ``release``.

    ``rows`` and ``stats`` are aggregates over ``df``'s output, attached at
    the top of its plan with ``observe`` — so the checkpoint job computes
    them and no second job reads the frame back. The values equal an
    ``agg`` over the checkpoint: an empty frame counts 0 and sums NULL.
    Spark rejects DISTINCT aggregates in ``observe``; measure those with a
    separate action. The frame carries the statistics of its measured
    ``rows`` (module docstring). ``release`` frames are freed only AFTER
    the new frame has materialized, so ``df`` may read them (see
    :func:`release_local_checkpoint`)."""
    df, obs = observe_metrics(
        df, f"ckpt_{uuid.uuid4().hex}", rows=F.count(F.lit(1)), **stats
    )
    frame = df.localCheckpoint(eager=True)
    measured = obs.get
    frame = _with_stats(frame, measured["rows"])
    for old in release:
        release_local_checkpoint(old)
    return frame, measured


# Limit takes an Int: past it the estimate stays at 2^31-1 rows, which is
# far over any broadcast threshold either way.
_MAX_LIMIT = (1 << 31) - 1


@lru_cache(maxsize=None)
def _jvm_names(jvm) -> SimpleNamespace:
    """The JVM classes :func:`_with_stats` calls, looked up once per gateway
    (each py4j lookup is a round trip of a few ms)."""
    catalyst = jvm.org.apache.spark.sql.catalyst
    return SimpleNamespace(
        option=jvm.scala.Option,
        literal=catalyst.expressions.Literal,
        int_type=jvm.org.apache.spark.sql.types.DataTypes.IntegerType,
        limit=catalyst.plans.logical.GlobalLimit,
        dataset=jvm.org.apache.spark.sql.classic.Dataset,
    )


def _with_stats(frame: DataFrame, rows: int) -> DataFrame:
    """The checkpoint ``frame`` with its ``LogicalRDD`` rebuilt to carry
    ``rows`` rows of Spark's row-width estimate as its statistics and no
    constraints; ``frame`` itself when it has an array or map column or no
    JVM plan (module docstring)."""
    if any(isinstance(f.dataType, (ArrayType, MapType)) for f in frame.schema):
        return frame
    try:
        plan = frame._jdf.queryExecution().analyzed()
    except Exception:
        return frame  # Spark Connect
    if not plan.getClass().getName().endswith("LogicalRDD"):
        return frame
    spark = frame.sparkSession
    names, session = _jvm_names(spark._jvm), spark._jsparkSession
    args = (
        plan.output(), plan.rdd(), plan.outputPartitioning(),
        plan.outputOrdering(), plan.isStreaming(), plan.stream(), session,
    )
    none = names.option.apply(None)
    # LogicalRDD(output, rdd, outputPartitioning, outputOrdering,
    # isStreaming, stream)(session, originStats, originConstraints). py4j
    # hands a Scala BigInt back as a Python int and cannot pass one in, so
    # the Statistics are Spark's own estimate of a limit over the stats-free
    # plan: exactly rows x row width, with rowCount = rows.
    limit = names.literal(min(rows, _MAX_LIMIT), names.int_type)
    stats = names.limit(limit, plan.copy(*args, none, none)).stats()
    measured = plan.copy(*args, names.option.apply(stats), none)
    return DataFrame(names.dataset.ofRows(session, measured), spark)


def broadcastable(frame: DataFrame) -> bool:
    """Whether ``frame``'s size estimate (a materialized checkpoint's is
    measured) is within the session's broadcast threshold, the budget by
    which Catalyst and AQE broadcast a join side."""
    conf = frame.sparkSession._jsparkSession.sessionState().conf()
    size = frame._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
    return 0 <= size <= conf.autoBroadcastJoinThreshold()


def runs_locally(edges: DataFrame, rows: int, *ids: str) -> bool:
    """Whether the loop over the materialized edge list ``edges`` of
    ``rows`` rows runs in numpy on the driver: at most ``_LOCAL_EDGES``
    rows with integral or plain-string ``ids``, whose equality and order
    Arrow shares with Spark. Every other edge list takes the distributed
    loop. The loops drop edges with a NULL endpoint before materializing."""
    return rows <= _LOCAL_EDGES and all(
        isinstance(t, IntegralType) or t == StringType()
        for t in (edges.schema[c].dataType for c in ids)
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

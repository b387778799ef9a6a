"""Driver-local graph loops: PageRank, BFS and connected components in numpy.

A distributed graph loop pays a checkpoint job per round, and on an edge
list that fits one thread that fixed cost is nearly all of its time (McSherry
et al., "Scalability! But at what COST?", HotOS 2015). corintick computes on
its client the same way, in pandas. When ``ckpt.runs_locally`` says so,
``pagerank``, ``bfs_hops`` and ``connected_components`` hand their
materialized edge list (an eager localCheckpoint of at most
``ckpt._LOCAL_EDGES`` rows, no NULL endpoint, integral or string ids) to the
function of the same loop here. It reads the checkpoint with one
``toArrow()``, releases it, runs the whole loop in numpy and returns a local
relation built from Arrow, with the distributed route's column names, types
and nullability.

Ids are factorized into codes that follow their sort order (Arrow sorts
strings by bytes, as Spark compares them), so a component's smallest code is
its smallest id. The operators import this module only when they take the
route.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame
from pyspark.sql.types import DoubleType, IntegerType, LongType, StructField, StructType

from corintick_spark.operators.ckpt import release_local_checkpoint
from corintick_spark.session import local_relation


def _columns(frame: DataFrame, *names: str) -> "list[pa.Array]":
    """The ``names`` columns of the checkpoint ``frame``, read with one
    ``toArrow()``; the checkpoint is released once read."""
    table = frame.toArrow()
    release_local_checkpoint(frame)
    return [table.column(c).combine_chunks() for c in names]


def _factorize(*arrays: pa.Array) -> "tuple[pa.Array, list[np.ndarray]]":
    """(the distinct values of ``arrays``, sorted; for each array its int64
    codes into them)."""
    values = pc.unique(pa.concat_arrays(arrays))
    values = values.take(pc.array_sort_indices(values))
    return values, [
        pc.index_in(a, value_set=values).to_numpy().astype(np.int64)
        for a in arrays
    ]


def pagerank(
    e: DataFrame, damping: float, iterations: int, tol: float, checkpoint_every: int
) -> DataFrame:
    """``operators.pagerank.pagerank`` over its (src, dst, w) edge list, with
    the distributed route's segment schedule: ``checkpoint_every`` rounds a
    segment and ``tol`` read only at segment boundaries, so both routes run
    the same number of rounds."""
    src, dst, w = _columns(e, "src", "dst", "w")
    nodes, (s, d) = _factorize(src, dst)
    n = len(nodes)
    w = pc.cast(w, pa.float64()).to_numpy()
    frac = w / np.bincount(s, weights=w, minlength=n)[s]
    dangling = np.ones(n, dtype=bool)
    dangling[s] = False
    k = max(1, checkpoint_every)
    rank = np.full(n, 1.0 / max(n, 1))
    done = 0
    while n and done < iterations:
        seg = min(k, iterations - done)
        for _ in range(seg):
            prev = rank
            share = prev[dangling].sum() / n
            total = np.bincount(d, weights=prev[s] * frac, minlength=n)
            rank = (1.0 - damping) / n + damping * (total + share)
        done += seg
        if tol > 0.0 and np.abs(rank - prev).sum() < tol:
            break
    fields = e.schema
    schema = StructType([
        StructField(
            "node", fields["src"].dataType,
            fields["src"].nullable or fields["dst"].nullable,
        ),
        # the distributed route's empty result is a non-null literal
        StructField("rank", DoubleType(), n > 0),
    ])
    return local_relation(e.sparkSession, schema, [nodes, pa.array(rank, pa.float64())])


def bfs(e: DataFrame, seeds: DataFrame, node: str, max_iter: int) -> DataFrame:
    """``operators.graph.bfs_hops`` over its distinct (src, dst) long edge
    list from ``seeds`` (one long column ``node``): level-synchronous BFS
    over the edges sorted by source, at most ``max_iter`` levels. A NULL
    seed is reported at hop 0 and reaches nothing, as on the distributed
    route."""
    src, dst = _columns(e, "src", "dst")
    start = seeds.toArrow().column(node).combine_chunks()
    nodes, (s, d, s0) = _factorize(src, dst, start.drop_null())
    n = len(nodes)
    order = np.argsort(s, kind="stable")
    adj = d[order]
    ptr = np.zeros(n + 1, dtype=np.int64)
    np.cumsum(np.bincount(s, minlength=n), out=ptr[1:])
    hops = np.full(n, -1, dtype=np.int32)
    frontier = np.unique(s0)
    hops[frontier] = 0
    grew = False
    for level in range(1, max_iter + 1):
        lo, cnt = ptr[frontier], ptr[frontier + 1] - ptr[frontier]
        # the out-neighbours of every frontier node: each node's run of adj
        runs = np.repeat(lo - np.cumsum(cnt) + cnt, cnt) + np.arange(cnt.sum())
        nxt = np.unique(adj[runs])
        nxt = nxt[hops[nxt] < 0]
        if not nxt.size:
            break
        hops[nxt] = level
        frontier, grew = nxt, True
    reached = np.flatnonzero(hops >= 0)
    out_nodes = nodes.take(pa.array(reached))
    out_hops = pa.array(hops[reached], pa.int32())
    if start.null_count:
        out_nodes = pa.concat_arrays([out_nodes, pa.nulls(1, pa.int64())])
        out_hops = pa.concat_arrays([out_hops, pa.array([0], pa.int32())])
    # the distributed result is the seeds' frame, unioned with the reached
    # nodes' (typed by dst) once a level reached any
    nullable = seeds.schema[node].nullable or (grew and e.schema["dst"].nullable)
    schema = StructType([
        StructField(node, LongType(), nullable),
        StructField("hops", IntegerType(), False),
    ])
    return local_relation(e.sparkSession, schema, [out_nodes, out_hops])


def components(e: DataFrame) -> DataFrame:
    """``operators.dup_clusters.connected_components`` over its distinct
    (u, v) edge list: min-label hooking with pointer jumping. Each round
    points every root at the smallest root it shares an edge with, then
    jumps every label to its root. While a component holds two trees, its
    largest root has a smaller neighbour root, so every round merges trees;
    labels only fall, and the fixpoint labels each node with its
    component's smallest id."""
    u, v = _columns(e, "u", "v")
    nodes, (a, b) = _factorize(u, v)
    label = np.arange(len(nodes))
    while True:
        while True:
            up = label[label]
            if np.array_equal(up, label):
                break
            label = up
        la, lb = label[a], label[b]
        if np.array_equal(la, lb):
            break
        low = np.minimum(la, lb)
        np.minimum.at(label, la, low)
        np.minimum.at(label, lb, low)
    id_type = e.schema["u"].dataType
    schema = StructType([
        StructField("node", id_type, True), StructField("comp", id_type, True),
    ])
    return local_relation(e.sparkSession, schema, [nodes, nodes.take(pa.array(label))])

"""bfs_hops (operators/graph.py): shortest-hop semantics on hand-built
graphs — chains, cycles, multi-source minima, direction, unreachability —
each run on both routes, the driver-local numpy search and the distributed
per-level loop, which must return the same rows and schema."""

from __future__ import annotations

import pyspark.sql.functions as F

from corintick_spark.operators.graph import bfs_hops
from tests.spy import ACTIONS, both_routes, driver_actions, loop_route, no_broadcast


def _edges(spark, pairs):
    return spark.createDataFrame(pairs, "src long, dst long")


def _seeds(spark, nodes):
    return spark.createDataFrame([(n,) for n in nodes], "node long")


def _hops(frame):
    rows = frame.collect()
    assert len(rows) == len({r.node for r in rows})  # one row per node
    return frame.schema, {r.node: r.hops for r in rows}


def _run(spark, monkeypatch, pairs, seeds, edge_ddl="src long, dst long", **kw):
    edges = spark.createDataFrame(pairs, edge_ddl)
    local, dist = both_routes(
        monkeypatch, "bfs", lambda: _hops(bfs_hops(edges, _seeds(spark, seeds), **kw))
    )
    assert local == dist
    return local[1]


def test_chain(spark, monkeypatch):
    assert _run(spark, monkeypatch, [(0, 1), (1, 2), (2, 3)], [0]) == {
        0: 0, 1: 1, 2: 2, 3: 3,
    }


def test_cycle_terminates_with_min_hops(spark, monkeypatch):
    assert _run(spark, monkeypatch, [(0, 1), (1, 2), (2, 0)], [0]) == {0: 0, 1: 1, 2: 2}


def test_direction_respected(spark, monkeypatch):
    # edges point INTO the seed: nothing (else) is reachable
    assert _run(spark, monkeypatch, [(1, 0), (2, 0)], [0]) == {0: 0}


def test_multi_source_takes_nearest_seed(spark, monkeypatch):
    # 0→1→2→3 and seed at 3: node 2 via chain is 2 hops from 0, but 4→2
    # makes it 1 hop from seed 4
    hops = _run(spark, monkeypatch, [(0, 1), (1, 2), (2, 3), (4, 2)], [0, 4])
    assert hops == {0: 0, 4: 0, 1: 1, 2: 1, 3: 2}


def test_shortcut_beats_long_path(spark, monkeypatch):
    # two routes 0→…→3: length 3 chain and a direct edge — hops must be 1
    hops = _run(spark, monkeypatch, [(0, 1), (1, 2), (2, 3), (0, 3)], [0])
    assert hops[3] == 1


def test_seed_not_in_graph_still_reported(spark, monkeypatch):
    assert _run(spark, monkeypatch, [(1, 2)], [99]) == {99: 0}


def test_max_iter_truncates(spark, monkeypatch):
    hops = _run(spark, monkeypatch, [(0, 1), (1, 2), (2, 3)], [0], max_iter=2)
    assert hops == {0: 0, 1: 1, 2: 2}


def test_shuffle_path_matches_broadcast_path(spark, monkeypatch):
    """With broadcast joins off, every level's frontier join shuffles: the
    rows match the run where AQE broadcasts the small frontiers."""
    pairs = [(i, i + 1) for i in range(20)] + [(5, 15), (0, 10)]
    a = _run(spark, monkeypatch, pairs, [0])
    with no_broadcast(spark):
        b = _run(spark, monkeypatch, pairs, [0])
    assert a == b


def test_levels_read_frontier_counts_off_checkpoints(spark, monkeypatch):
    """Each level's frontier size is counted by that level's checkpoint
    job: the whole search runs no count, first, collect or isEmpty."""
    edges, seeds = _edges(spark, [(0, 1), (1, 2), (2, 3), (0, 3)]), _seeds(spark, [0])
    with loop_route(monkeypatch, "distributed"), driver_actions(spark, monkeypatch) as calls:
        got = bfs_hops(edges, seeds)
    assert calls == []
    assert {r.node: r.hops for r in got.collect()} == {0: 0, 1: 1, 2: 2, 3: 1}


def test_local_route_runs_one_checkpoint_and_no_levels(spark, monkeypatch):
    """The driver-local search checkpoints the edge list once (its count
    rides that job), reads it and the seeds with one toArrow() each, and
    runs no per-level checkpoint or action."""
    edges, seeds = _edges(spark, [(0, 1), (1, 2), (2, 3), (0, 3)]), _seeds(spark, [0])
    with loop_route(monkeypatch, "local") as taken, driver_actions(
        spark, monkeypatch, (*ACTIONS, "localCheckpoint", "toArrow")
    ) as calls:
        got = bfs_hops(edges, seeds)
    assert taken == ["bfs"]
    assert [name for name, _ in calls] == ["localCheckpoint", "toArrow", "toArrow"]
    assert {r.node: r.hops for r in got.collect()} == {0: 0, 1: 1, 2: 2, 3: 1}


def test_string_and_long_ids(spark, monkeypatch):
    """Ids are cast to long on both routes: numeric strings and ids past
    32 bits search alike."""
    big = 1 << 40
    assert _run(
        spark, monkeypatch, [("0", "1"), ("1", "2")], [0], "src string, dst string"
    ) == {0: 0, 1: 1, 2: 2}
    assert _run(spark, monkeypatch, [(big, big + 1), (big + 1, 5)], [big]) == {
        big: 0, big + 1: 1, 5: 2,
    }


def test_null_endpoint_edges_are_dropped(spark, monkeypatch):
    """Edges with a NULL endpoint are dropped before either route runs, so
    NULL is never reached; a NULL seed is reported at hop 0 and reaches
    nothing on both routes."""
    assert _run(spark, monkeypatch, [(0, 1), (1, None), (None, 2)], [0]) == {
        0: 0, 1: 1,
    }
    assert _run(spark, monkeypatch, [(0, None), (1, None), (0, 1)], [0]) == {
        0: 0, 1: 1,
    }
    assert _run(spark, monkeypatch, [(0, 1), (1, 2), (None, 0)], [0, None]) == {
        0: 0, 1: 1, 2: 2, None: 0,
    }


def test_distributed_search_leaves_only_its_result_checkpoint(spark, monkeypatch):
    """Outside ckpt.scope, a distributed search releases its edge-list
    checkpoint, its last frontier and an empty last level before it
    returns, whether it stops at an empty level, at ``max_iter`` or before
    any level: the only checkpoint it leaves alive is its result."""
    edges, seeds = _edges(spark, [(0, 1), (1, 2), (2, 3)]), _seeds(spark, [0])
    persisted = spark.sparkContext._jsc.getPersistentRDDs
    for max_iter in (30, 2, 0):
        before = set(persisted().keySet())
        with loop_route(monkeypatch, "distributed"):
            got = bfs_hops(edges, seeds, max_iter=max_iter)
        alive = set(persisted().keySet()) - before
        assert alive == {got._jdf.queryExecution().analyzed().rdd().id()}, max_iter
        assert len(got.collect()) == min(max_iter, 3) + 1

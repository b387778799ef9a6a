"""bfs_hops (operators/graph.py): shortest-hop semantics on hand-built
graphs — chains, cycles, multi-source minima, direction, unreachability."""

from __future__ import annotations

import pyspark.sql.functions as F

from corintick_spark.operators.graph import bfs_hops


def _edges(spark, pairs):
    return spark.createDataFrame(pairs, "src long, dst long")


def _seeds(spark, nodes):
    return spark.createDataFrame([(n,) for n in nodes], "node long")


def _run(spark, pairs, seeds, **kw):
    got = bfs_hops(_edges(spark, pairs), _seeds(spark, seeds), **kw)
    return {r.node: r.hops for r in got.collect()}


def test_chain(spark):
    assert _run(spark, [(0, 1), (1, 2), (2, 3)], [0]) == {
        0: 0, 1: 1, 2: 2, 3: 3,
    }


def test_cycle_terminates_with_min_hops(spark):
    assert _run(spark, [(0, 1), (1, 2), (2, 0)], [0]) == {0: 0, 1: 1, 2: 2}


def test_direction_respected(spark):
    # edges point INTO the seed: nothing (else) is reachable
    assert _run(spark, [(1, 0), (2, 0)], [0]) == {0: 0}


def test_multi_source_takes_nearest_seed(spark):
    # 0→1→2→3 and seed at 3: node 2 via chain is 2 hops from 0, but 4→2
    # makes it 1 hop from seed 4
    hops = _run(spark, [(0, 1), (1, 2), (2, 3), (4, 2)], [0, 4])
    assert hops == {0: 0, 4: 0, 1: 1, 2: 1, 3: 2}


def test_shortcut_beats_long_path(spark):
    # two routes 0→…→3: length 3 chain and a direct edge — hops must be 1
    hops = _run(spark, [(0, 1), (1, 2), (2, 3), (0, 3)], [0])
    assert hops[3] == 1


def test_seed_not_in_graph_still_reported(spark):
    assert _run(spark, [(1, 2)], [99]) == {99: 0}


def test_max_iter_truncates(spark):
    hops = _run(spark, [(0, 1), (1, 2), (2, 3)], [0], max_iter=2)
    assert hops == {0: 0, 1: 1, 2: 2}


def test_shuffle_path_matches_broadcast_path(spark):
    pairs = [(i, i + 1) for i in range(20)] + [(5, 15), (0, 10)]
    a = _run(spark, pairs, [0])
    b = _run(spark, pairs, [0], broadcast_frontier_max=0)
    assert a == b


def test_levels_read_frontier_counts_off_checkpoints(spark, monkeypatch):
    """Each level's frontier size is counted by that level's checkpoint
    job: the whole search runs no count, first, collect or isEmpty."""
    from tests.spy import driver_actions

    edges, seeds = _edges(spark, [(0, 1), (1, 2), (2, 3), (0, 3)]), _seeds(spark, [0])
    with driver_actions(spark, monkeypatch) as calls:
        got = bfs_hops(edges, seeds)
    assert calls == []
    assert {r.node: r.hops for r in got.collect()} == {0: 0, 1: 1, 2: 2, 3: 1}

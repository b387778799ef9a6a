"""Driver-action and job-count spies for operator calls.

``driver_actions`` patches the class of the frames the session actually
creates (on Spark 4.1 classic that is
``pyspark.sql.classic.dataframe.DataFrame``, which overrides the methods of
``pyspark.sql.DataFrame``, so patching the base class sees nothing). Only
outermost calls are recorded: ``first()`` runs ``collect()`` inside, and is
recorded once, as ``first``. ``read_path`` pins which path a TickStore
read takes, the Spark scan or the driver-local pyarrow scan,
``loop_route`` which route a graph loop takes, the distributed loop or the
driver-local numpy one, and ``fit_route`` the same for the k-means fits.
"""

from __future__ import annotations

import uuid
from contextlib import contextmanager

ACTIONS = ("count", "first", "collect", "isEmpty")


@contextmanager
def driver_actions(spark, monkeypatch, names=ACTIONS):
    """Yield a list that collects ``(action, frame columns)`` for every
    outermost call of ``names`` made while the context is open."""
    cls = type(spark.range(1))
    calls: list = []
    depth = [0]

    def wrap(name):
        real = getattr(cls, name)

        def spy(self, *a, **kw):
            if depth[0] == 0:
                calls.append((name, tuple(self.columns)))
            depth[0] += 1
            try:
                return real(self, *a, **kw)
            finally:
                depth[0] -= 1

        return spy

    with monkeypatch.context() as m:
        for name in names:
            m.setattr(cls, name, wrap(name))
        yield calls


def _jobs_of(spark, fn):
    """(fn(), ids of the Spark jobs fn ran), found by job group. The
    listener bus is drained first: without it the ids lag."""
    sc = spark.sparkContext
    group = f"count-jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "job-count spy")
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, list(sc.statusTracker().getJobIdsForGroup(group))


def count_jobs(spark, fn):
    """(fn(), number of Spark jobs fn ran)."""
    out, jobs = _jobs_of(spark, fn)
    return out, len(jobs)


def count_stages(spark, fn):
    """(fn(), number of Spark jobs fn ran, number of their stages). A job
    with a shuffle runs a stage per side of each exchange, so stages equal
    jobs only when no job shuffled."""
    out, jobs = _jobs_of(spark, fn)
    tracker = spark.sparkContext.statusTracker()
    return out, len(jobs), sum(len(tracker.getJobInfo(j).stageIds) for j in jobs)


@contextmanager
def read_path(monkeypatch, path: str):
    """Run TickStore reads on one path: ``"spark"`` forces the Spark scan
    (the driver-local row bound set to 0); ``"local"`` keeps the default
    and records the files each driver-local pyarrow scan is handed. Yields
    that record, a list of file lists."""
    import pyarrow.dataset as ds

    from corintick_spark import storage

    opened: list = []
    with monkeypatch.context() as m:
        if path == "spark":
            m.setattr(storage, "_LOCAL_ROWS", 0)
        else:
            real = ds.dataset

            def spy(source, *a, **kw):
                opened.append(list(source))
                return real(source, *a, **kw)

            m.setattr(ds, "dataset", spy)
        yield opened


@contextmanager
def no_broadcast(spark):
    """Turn broadcast joins off (``spark.sql.autoBroadcastJoinThreshold``
    -1) while the context is open, so every join Catalyst or AQE plans
    shuffles; the session's value is restored on exit."""
    key = "spark.sql.autoBroadcastJoinThreshold"
    old = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try:
        yield
    finally:
        spark.conf.set(key, old)


ROUTES = ("local", "distributed")
_LOCAL_LOOPS = ("pagerank", "bfs", "components")


@contextmanager
def loop_route(monkeypatch, route: str):
    """Run the graph loops (``pagerank``, ``bfs_hops``,
    ``connected_components``) on one route: ``"distributed"`` forces the
    Spark loop (the local edge bound set below every count, 0 included);
    ``"local"`` keeps the default bound. Yields a list of the
    operators/local_graph.py loops that ran on the driver, by name."""
    from corintick_spark.operators import ckpt, local_graph

    taken: list = []
    with monkeypatch.context() as m:
        if route == "distributed":
            m.setattr(ckpt, "_LOCAL_EDGES", -1)
        for name in _LOCAL_LOOPS:
            real = getattr(local_graph, name)

            def spy(*a, _real=real, _name=name, **kw):
                taken.append(_name)
                return _real(*a, **kw)

            m.setattr(local_graph, name, spy)
        yield taken


def both_routes(monkeypatch, loop: str, fn):
    """``[fn() on the local route, fn() on the distributed route]``, after
    checking that the local run ran ``loop`` on the driver and the
    distributed one ran no local loop."""
    out = []
    for route in ROUTES:
        with loop_route(monkeypatch, route) as taken:
            out.append(fn())
        assert taken == ([loop] if route == "local" else []), (route, taken)
    return out


@contextmanager
def fit_route(monkeypatch, route: str):
    """Run the k-means fits (``pq_fit``, ``kmeans_fit``) on one route:
    ``"distributed"`` forces the Spark Lloyd loop (the local double bound
    set below every sample, 0 included); ``"local"`` keeps the default
    bound. Yields a list that gets ``"local"`` for each fit whose Lloyd
    rounds ran in numpy on the driver."""
    from corintick_spark.operators import pq

    taken: list = []
    real = pq._lloyd_local
    with monkeypatch.context() as m:
        if route == "distributed":
            m.setattr(pq, "_LOCAL_FIT_DOUBLES", -1)

        def spy(*a, **kw):
            out = real(*a, **kw)
            if out is not None:
                taken.append("local")
            return out

        m.setattr(pq, "_lloyd_local", spy)
        yield taken

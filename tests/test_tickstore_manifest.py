"""TickStore's chunk index: ``_manifest.json`` with one entry per data file
(path, uid, rows, ts bounds from the footer).

``ts`` is written as TIMESTAMP_MICROS, so footers carry min/max; reads open
only the files whose uid and ts bounds match, and ``list_uids`` aggregates
the entries without opening a file. Every mutation keeps the manifest equal
to the files on disk, and a store without one (INT96 files, a plain
``partitionBy`` write) gets one on first use.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import uuid
from zoneinfo import ZoneInfo

import pyarrow as pa
import pyarrow.parquet as pq
import pyspark.sql.functions as F
import pytest

from corintick_spark.snapshots import footer_entries
from corintick_spark.storage import TickStore
from tests.spy import count_jobs, read_path

SCHEMA = "uid string, ts timestamp, value double"
T0 = dt.datetime(2024, 1, 2)


def _batch(spark, b, uids=("A", "B", "C", "D"), rows=100, span=dt.timedelta(hours=1)):
    """``rows`` ticks per uid inside hour ``b`` after T0."""
    step = span / rows
    return spark.createDataFrame(
        [
            (u, T0 + b * span + k * step, float(b * 10_000 + i * 1000 + k))
            for i, u in enumerate(uids)
            for k in range(rows)
        ],
        SCHEMA,
    )


def _scan_metrics(df) -> tuple[list, dict]:
    """Collect ``df`` and return its rows with the file scan's number of
    files read and rows output (before the row-level filter)."""
    rows = df.collect()
    plan = df._jdf.queryExecution().executedPlan()
    scan = plan.collectLeaves().apply(0)
    metrics = scan.metrics()
    return rows, {
        k: metrics.apply(k).value() if metrics.contains(k) else 0  # 0 files: no FileScan
        for k in ("numFiles", "numOutputRows")
    }


def _manifest(store: TickStore) -> list[dict]:
    with open(os.path.join(store.root, "_manifest.json")) as fh:
        return json.load(fh)["files"]


def _disk_files(store: TickStore) -> set[str]:
    return {
        os.path.relpath(os.path.join(d, f), store.root)
        for d, _, fs in os.walk(store._data_dir())
        for f in fs
        if f.endswith(".parquet")
    }


def _assert_ts_stats(store: TickStore) -> None:
    """Every data file carries footer min/max for ``ts``."""
    for path in _disk_files(store):
        meta = pq.ParquetFile(os.path.join(store.root, path)).metadata
        ts = meta.schema.names.index("ts")
        for rg in range(meta.num_row_groups):
            assert meta.row_group(rg).column(ts).statistics.has_min_max, path


def _directory_read(spark, store: TickStore):
    """The whole store read straight from its data directory."""
    full = spark.read.schema(store._schema()).parquet(store._data_dir())
    return full.drop("uid_bucket", "_date")


def _micros(spark, df, col="ts"):
    return sorted(
        tuple(r) for r in df.select("uid", F.unix_micros(col), "value").collect()
    )


def _assert_exact(spark, store: TickStore) -> None:
    """The manifest lists exactly the data files; list_uids and every
    uid's read equal the same computed from a directory read."""
    assert {e["path"] for e in _manifest(store)} == _disk_files(store)
    full = _directory_read(spark, store)
    want = full.groupBy("uid").agg(
        F.count("*").alias("n_rows"), F.min("ts").alias("start"), F.max("ts").alias("end")
    )
    assert sorted(map(tuple, store.list_uids().collect())) == sorted(
        map(tuple, want.collect())
    )
    for (u,) in full.select("uid").distinct().collect():
        assert _micros(spark, store.read([u])) == _micros(
            spark, full.filter(F.col("uid") == u)
        ), u


# -- file skipping ------------------------------------------------------------


def test_narrow_window_read_scans_one_file(spark, tmp_path, monkeypatch):
    store = TickStore(spark, str(tmp_path / "store"))
    for b in range(10):
        store.write(_batch(spark, b))
    _assert_ts_stats(store)
    start = T0 + dt.timedelta(hours=4, minutes=10)
    for path in ("spark", "local"):
        with read_path(monkeypatch, path) as opened:
            df = store.read(["B"], start, start + dt.timedelta(minutes=5))
            rows, metrics = _scan_metrics(df)
        # 100 ticks an hour: minutes 10..15 of hour 4 hold ticks 17..25
        assert sorted(r["value"] for r in rows) == [41_000.0 + k for k in range(17, 26)]
        if path == "spark":
            assert metrics == {"numFiles": 1, "numOutputRows": 100}
        else:
            assert [len(files) for files in opened] == [1]


def test_footer_bounds_need_stats_in_every_row_group(tmp_path):
    path = str(tmp_path / "two_groups.parquet")
    table = pa.table({"k": [1, 2, 3, 4], "s": ["a", "b", "x" * 2000, "y" * 2000]})
    pq.write_table(table, path, row_group_size=2)
    (entry,) = footer_entries(str(tmp_path), [path])
    # the second row group's long strings carry no usable bounds, so the
    # first group's ["a", "b"] must not stand for the file
    assert entry["stats"] == {"k": [1, 4]}
    assert entry["rows"] == 4 and entry["path"] == "two_groups.parquet"


# -- the manifest through every mutation ---------------------------------------


def _stream_into(spark, store, tmp_path, df, merge=False):
    src = str(tmp_path / f"src-{uuid.uuid4().hex}")
    df.write.parquet(src)
    store.append_stream(
        spark.readStream.schema(SCHEMA).parquet(src),
        checkpoint_dir=str(tmp_path / f"ckpt-{uuid.uuid4().hex}"),
        trigger_available_now=True,
        merge=merge,
    ).awaitTermination()


MUTATIONS = {
    "write_append": ({}, lambda s, st, p: st.write(_batch(s, 5))),
    "write_overwrite": ({}, lambda s, st, p: st.write(_batch(s, 5, ("E", "A")), mode="overwrite")),
    "append_stream": ({}, lambda s, st, p: _stream_into(s, st, p, _batch(s, 5))),
    "append_stream_merge": (
        {},
        lambda s, st, p: _stream_into(s, st, p, _batch(s, 1, ("A", "E"), rows=30), merge=True),
    ),
    "upsert": ({}, lambda s, st, p: st.upsert(_batch(s, 0, ("B", "F"), rows=50))),
    "compact": ({}, lambda s, st, p: st.compact()),
    "compact_zorder": ({}, lambda s, st, p: st.compact(zorder_by=["ts", "value"])),
    "delete_uid": ({}, lambda s, st, p: st.delete_uid("C")),
    "delete_uid_bucketed": ({"bucket_uids": 3}, lambda s, st, p: st.delete_uid("C")),
    "vacuum_dated": (
        {"partition_by_date": True},
        lambda s, st, p: st.vacuum((T0 + dt.timedelta(days=1)).date()),
    ),
    "vacuum_rewrite": ({}, lambda s, st, p: st.vacuum((T0 + dt.timedelta(days=1)).date())),
}


@pytest.mark.parametrize("name", list(MUTATIONS))
def test_manifest_exact_after_mutation(spark, tmp_path, name):
    layout, mutate = MUTATIONS[name]
    store = TickStore(spark, str(tmp_path / "store"), **layout)
    store.write(_batch(spark, 0))
    store.write(_batch(spark, 30))  # a day later: the vacuum cut keeps only this
    _assert_exact(spark, store)
    mutate(spark, store, tmp_path)
    _assert_exact(spark, store)
    _assert_ts_stats(store)  # streamed micro-batches included


def test_integral_uids_list_and_read_from_the_manifest(spark, tmp_path):
    store = TickStore(spark, str(tmp_path / "store"))
    for b in (0, 1):
        store.write(_batch(spark, b).withColumn("uid", F.ascii("uid").cast("long")))
    listed, jobs = count_jobs(spark, lambda: store.list_uids())
    assert jobs == 0 and dict(listed.dtypes)["uid"] == "bigint"
    assert sorted(r["uid"] for r in listed.collect()) == [65, 66, 67, 68]
    _assert_exact(spark, store)


def test_write_without_manifest_commit_is_adopted(spark, tmp_path):
    """A write whose Spark job committed but whose manifest commit never
    ran (the process died between the two) is picked up on the next open:
    its job replaced data/_SUCCESS."""
    store = TickStore(spark, str(tmp_path / "store"))
    store.write(_batch(spark, 0))
    store._write_files(_batch(spark, 1, ("A", "Z")), store._data_dir(), "append")
    fresh = TickStore(spark, store.root)
    assert fresh.read(["Z"]).count() == 100
    _assert_exact(spark, fresh)


def test_local_write_without_manifest_commit_is_adopted(spark, tmp_path):
    """The same through the driver-local write, which replaces
    data/_SUCCESS as a Spark job commit does."""
    store = TickStore(spark, str(tmp_path / "store"))
    store.write(_batch(spark, 0))
    local = spark.createDataFrame(_batch(spark, 1, ("A", "Z")).toPandas(), SCHEMA)
    assert store._written_locally(local)
    store._write_local(local)
    fresh = TickStore(spark, store.root)
    assert fresh.read(["Z"]).count() == 100
    _assert_exact(spark, fresh)


# -- legacy stores and time zones ---------------------------------------------


def test_int96_store_lists_and_reads_the_same_once_indexed(spark, tmp_path):
    store = TickStore(spark, str(tmp_path / "store"))
    df = _batch(spark, 0).unionByName(_batch(spark, 3, ("A", "E")))
    store._record_schema(df.schema)
    # the session's INT96 default, one file per uid directory
    df.coalesce(1).write.partitionBy("uid").parquet(store._data_dir())
    full = _directory_read(spark, store)
    want_list = sorted(
        map(tuple, full.groupBy("uid").agg(F.count("*"), F.min("ts"), F.max("ts")).collect())
    )
    window = (T0 + dt.timedelta(hours=3), T0 + dt.timedelta(hours=3, minutes=30))
    want_read = _micros(spark, full.filter((F.col("uid") == "A") & F.col("ts").between(*window)))

    listed, jobs = count_jobs(spark, lambda: store.list_uids().collect())
    # the one aggregation over the stat-less files: its shuffle stage and
    # its result stage, each a job under adaptive execution
    assert jobs == 2
    assert sorted(map(tuple, listed)) == want_list
    assert _micros(spark, store.read(["A"], *window)) == want_read

    reopened = TickStore(spark, store.root)
    listed, jobs = count_jobs(spark, lambda: reopened.list_uids().collect())
    assert jobs == 0 and sorted(map(tuple, listed)) == want_list
    df2, jobs = count_jobs(spark, lambda: reopened.read(["A"], *window))
    assert jobs == 0 and _micros(spark, df2) == want_read
    assert reopened.compact() == 5
    _assert_ts_stats(reopened)  # rewritten as micros
    _assert_exact(spark, reopened)


def test_plain_partitioned_store_reads_the_same_once_indexed(spark, tmp_path):
    store = TickStore(spark, str(tmp_path / "store"))
    _batch(spark, 0).write.partitionBy("uid").parquet(store._data_dir())
    window = (T0 + dt.timedelta(minutes=20), T0 + dt.timedelta(minutes=40))
    before_list = sorted(map(tuple, store.list_uids().collect()))
    before_read = _micros(spark, store.read(["B"], *window))
    assert not os.path.exists(os.path.join(store.root, "_manifest.json"))
    store.write(_batch(spark, 2, ("E",)))  # records the sidecar and the manifest
    assert sorted(map(tuple, store.list_uids().filter("uid != 'E'").collect())) == before_list
    assert _micros(spark, store.read(["B"], *window)) == before_read
    _assert_exact(spark, store)


@pytest.fixture
def new_york(spark):
    key = "spark.sql.session.timeZone"
    prior = spark.conf.get(key)
    spark.conf.set(key, "America/New_York")
    yield
    spark.conf.set(key, prior)


def test_pruning_is_exact_at_file_bounds_in_any_time_zone(spark, tmp_path, new_york, monkeypatch):
    store = TickStore(spark, str(tmp_path / "store"))
    for b in range(6):
        store.write(_batch(spark, b, ("A",), rows=4))
    full = _directory_read(spark, store)
    files = sorted((e["lo"], e["hi"]) for e in _manifest(store))
    assert len(files) == 6

    def as_string(micros):
        # the instant as New York wall-clock text, which the read parses
        # in the session time zone
        instant = dt.datetime(1970, 1, 1, tzinfo=dt.timezone.utc) + dt.timedelta(
            microseconds=micros
        )
        return instant.astimezone(ZoneInfo("America/New_York")).strftime(
            "%Y-%m-%d %H:%M:%S.%f"
        )

    def as_datetime(micros):
        # a naive datetime goes through PySpark's converter in local time
        return dt.datetime.fromtimestamp(micros // 1_000_000).replace(
            microsecond=micros % 1_000_000
        )

    for lo, hi in files[1:-1]:
        for convert in (as_string, as_datetime):
            for start, end, opened in [
                (lo, lo, 1),           # touches the file's first tick exactly
                (hi, hi, 1),           # touches its last tick exactly
                (lo - 1, lo - 1, 0),   # one microsecond before it
                (hi + 1, hi + 1, 0),   # one microsecond after it
            ]:
                s, e = convert(start), convert(end)
                want = full.filter(
                    F.col("ts").between(F.lit(s).cast("timestamp"), F.lit(e).cast("timestamp"))
                )
                for path in ("spark", "local"):
                    with read_path(monkeypatch, path) as handed:
                        rows, metrics = _scan_metrics(store.read(["A"], s, e))
                    where = (path, convert.__name__, start, end)
                    assert sorted(r["value"] for r in rows) == sorted(
                        r["value"] for r in want.collect()
                    ), where
                    assert len(rows) == opened, where
                    if path == "spark":
                        assert metrics["numFiles"] <= 1, where
                    else:
                        assert sum(map(len, handed)) <= 1, where


def test_pre_gregorian_tick_round_trips(spark, tmp_path):
    store = TickStore(spark, str(tmp_path / "store"))
    old = dt.datetime(1500, 3, 1, 12, 0, 0, 7)
    store.write(
        spark.createDataFrame([("A", old, 1.0), ("A", T0, 2.0)], SCHEMA)
    )
    want = spark.createDataFrame([(old,)], "ts timestamp").select(F.unix_micros("ts")).first()[0]
    (listed,) = store.list_uids().select(F.unix_micros("start"), "n_rows").collect()
    assert tuple(listed) == (want, 2)
    got = store.read(["A"], "1500-03-01 00:00:00", "1500-03-02 00:00:00")
    assert [tuple(r) for r in got.select(F.unix_micros("ts"), "value").collect()] == [(want, 1.0)]


# -- Spark's parallel-listing threshold ---------------------------------------


def test_reads_past_the_listing_threshold(spark, tmp_path, monkeypatch):
    """More than 32 paths start Spark's parallel listing job: a Spark scan
    whose selected files pass the threshold opens their uid directory
    instead, so it still plans with 0 jobs; only a read spanning more than
    32 uid directories pays the listing job. The driver-local read hands
    pyarrow the selected files themselves and runs no job for any of these."""
    assert spark.conf.get("spark.sql.sources.parallelPartitionDiscovery.threshold") == "32"
    store = TickStore(spark, str(tmp_path / "store"))
    key = "spark.sql.files.maxRecordsPerFile"
    spark.conf.set(key, "25")
    try:  # 40 files of uid A in one write
        store.write(_batch(spark, 0, ("A",), rows=1000))
    finally:
        spark.conf.unset(key)
    uids = [f"U{i:02d}" for i in range(40)]
    store.write(_batch(spark, 1, uids, rows=2))
    assert sum(e["uid"] == "A" for e in _manifest(store)) == 40

    full = _directory_read(spark, store)
    step = dt.timedelta(hours=1) / 1000
    for path in ("spark", "local"):
        for start, end, n_files in [
            (None, None, 40),
            (T0, T0 + 799 * step, 32),    # ticks 0..799: exactly 32 files
            (T0, T0 + 800 * step, 33),
        ]:
            opened = [
                e for e in _manifest(store)
                if e["uid"] == "A" and (end is None or e["lo"] <= store._bound_micros(end))
            ]
            assert len(opened) == n_files
            with read_path(monkeypatch, path) as handed:
                df, jobs = count_jobs(spark, lambda: store.read(["A"], start, end))
            assert jobs == 0, (path, start, end)
            assert sum(map(len, handed)) == (0 if path == "spark" else n_files)
            want = full.filter(F.col("uid") == "A")
            if end is not None:
                want = want.filter(F.col("ts").between(F.lit(start), F.lit(end)))
            assert _micros(spark, df) == _micros(spark, want)

        with read_path(monkeypatch, path):
            df, jobs = count_jobs(spark, lambda: store.read(uids))
        # Spark: 40 uid files -> 40 uid directories, the listing job
        assert jobs == (1 if path == "spark" else 0)
        assert df.count() == 80

    plan = store.read()._jdf.queryExecution().executedPlan().toString()
    assert "InMemoryFileIndex(1 paths)" in plan  # a full read lists data/

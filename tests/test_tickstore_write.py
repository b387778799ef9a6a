"""TickStore file writes: time order inside every file, one file per
partition directory, and a write spread over the session's shuffle
partitions.

Every writer sorts within partitions by the partition columns, then ``ts``,
so Spark's planned write adds no sort of its own (which would drop the ts
order), and shuffles into a fixed ``spark.sql.shuffle.partitions`` tasks,
which AQE does not coalesce into one.
"""

from __future__ import annotations

import datetime as dt
import os
import random
import uuid

import pyarrow.parquet as pq
import pyspark.sql.functions as F
import pytest

from corintick_spark.storage import TickStore

SCHEMA = "uid string, ts timestamp, value double"


def _ticks(spark, n_uids=8, rows_per_uid=60, seed=0, day0=dt.datetime(2024, 1, 1)):
    """Ticks over three days per uid, shuffled so no input partition is in
    time order."""
    rows = [
        (f"U{u}", day0 + dt.timedelta(minutes=97 * k), float(u * 1000 + k))
        for u in range(n_uids)
        for k in range(rows_per_uid)
    ]
    random.Random(seed).shuffle(rows)
    return spark.createDataFrame(rows, SCHEMA).repartition(4)


def _data_files(store: TickStore) -> list[str]:
    return sorted(
        os.path.join(d, f)
        for d, _, fs in os.walk(store._data_dir())
        for f in fs
        if f.endswith(".parquet")
    )


def _assert_files_time_sorted(store: TickStore) -> None:
    files = _data_files(store)
    assert files
    for path in files:
        ts = pq.read_table(path, columns=["ts"]).column("ts").to_pylist()
        assert ts == sorted(ts), f"{path} is not sorted by ts"


@pytest.mark.parametrize(
    "layout",
    [{}, {"bucket_uids": 3}, {"partition_by_date": True}],
    ids=["plain", "bucketed", "dated"],
)
def test_write_files_time_sorted(spark, tmp_path, layout):
    store = TickStore(spark, str(tmp_path / "store"), **layout)
    store.write(_ticks(spark, seed=1))
    store.write(_ticks(spark, seed=2, day0=dt.datetime(2024, 2, 1)))
    _assert_files_time_sorted(store)
    assert store.read().count() == 2 * 8 * 60


def test_append_stream_files_time_sorted(spark, tmp_path):
    src = str(tmp_path / "src")
    _ticks(spark, seed=3).write.parquet(src)
    store = TickStore(spark, str(tmp_path / "store"))
    q = store.append_stream(
        spark.readStream.schema(SCHEMA).parquet(src),
        checkpoint_dir=str(tmp_path / "ckpt"),
        trigger_available_now=True,
    )
    q.awaitTermination()
    _assert_files_time_sorted(store)
    assert store.read().count() == 8 * 60


def test_compact_files_time_sorted(spark, tmp_path):
    store = TickStore(spark, str(tmp_path / "store"))
    # appends in reverse time order: compaction must merge them back
    for seed, day0 in ((4, dt.datetime(2024, 3, 1)), (5, dt.datetime(2024, 1, 1))):
        store.write(_ticks(spark, seed=seed, day0=day0))
    assert store.compact() == 8
    _assert_files_time_sorted(store)
    assert store.read().count() == 2 * 8 * 60


def test_vacuum_rewrite_files_time_sorted(spark, tmp_path):
    store = TickStore(spark, str(tmp_path / "store"))
    store.write(_ticks(spark, seed=6))
    store.vacuum("2024-01-02")
    _assert_files_time_sorted(store)
    assert store.read().filter(F.col("ts") < F.lit("2024-01-02").cast("timestamp")).count() == 0


def test_bucketed_delete_uid_files_time_sorted(spark, tmp_path):
    store = TickStore(spark, str(tmp_path / "store"), bucket_uids=3)
    store.write(_ticks(spark, seed=7))
    assert store.delete_uid("U1") is True
    _assert_files_time_sorted(store)
    assert {r["uid"] for r in store.read().select("uid").distinct().collect()} == {
        f"U{u}" for u in range(8) if u != 1
    }


def _files_per_dir(store: TickStore) -> dict[str, int]:
    counts: dict[str, int] = {}
    for path in _data_files(store):
        d = os.path.dirname(path)
        counts[d] = counts.get(d, 0) + 1
    return counts


def test_write_uses_shuffle_partitions_tasks_one_file_per_dir(spark, tmp_path):
    n_uids, rows_per_uid = 64, 3000
    n = n_uids * rows_per_uid
    ticks = spark.range(n).select(
        F.concat(F.lit("U"), (F.col("id") % n_uids).cast("string")).alias("uid"),
        # a permutation of 0..n-1 seconds, so input order is not time order
        F.timestamp_seconds(F.lit(1_700_000_000) + (F.col("id") * 7919) % n).alias("ts"),
        F.col("id").cast("double").alias("value"),
    )
    store = TickStore(spark, str(tmp_path / "store"))
    store.write(ticks)
    before = _files_per_dir(store)
    assert len(before) == n_uids

    sc = spark.sparkContext
    group = f"tickstore-write-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "tickstore write test")
    try:
        store.write(ticks)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    tracker = sc.statusTracker()
    last_job = max(tracker.getJobIdsForGroup(group))
    stages = [tracker.getStageInfo(s) for s in tracker.getJobInfo(last_job).stageIds]
    last_stage = max((s for s in stages if s is not None), key=lambda s: s.stageId)
    assert last_stage.numTasks == int(spark.conf.get("spark.sql.shuffle.partitions"))

    after = _files_per_dir(store)
    assert after.keys() == before.keys()
    assert all(after[d] == before[d] + 1 for d in before)
    _assert_files_time_sorted(store)


def test_spark_write_null_and_empty_uid_share_one_file(spark, tmp_path):
    """A NULL and an empty uid both name Spark's ``__HIVE_DEFAULT_PARTITION__``
    directory; the Spark write hashes them to one task, so one append
    leaves one file there, and both read back as NULL uids."""
    t0 = dt.datetime(2024, 1, 1)
    rows = [
        ("A", t0, 1.0),
        (None, t0 + dt.timedelta(minutes=1), 2.0),
        ("", t0 + dt.timedelta(minutes=2), 3.0),
    ]
    store = TickStore(spark, str(tmp_path / "store"))
    store.write(spark.createDataFrame(rows, SCHEMA).repartition(3))
    assert {os.path.basename(d): k for d, k in _files_per_dir(store).items()} == {
        "uid=A": 1,
        "uid=__HIVE_DEFAULT_PARTITION__": 1,
    }
    got = sorted(store.read().collect(), key=lambda r: r.value)
    assert [(r.uid, r.ts, r.value) for r in got] == [(u or None, ts, v) for u, ts, v in rows]

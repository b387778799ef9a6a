"""TickStore read planning and the schema sidecar.

A point read on the plain uid layout opens only the files the manifest
selects (the requested uids' files whose ``ts`` bounds overlap the range), so
it plans without a Spark job. A small selection is read on the driver with
pyarrow into a local relation, which collects without a job either; a larger
one is a Spark scan of those files with the recorded schema, which collects
in one. The sidecar is the schema of record: partition values keep
their written type, appends may add columns or widen a type the parquet
reader widens, and any other type change is refused before a file lands.
"""

from __future__ import annotations

import datetime as dt
import json
import os

import pandas as pd
import pyspark.sql.functions as F
import pytest

from corintick_spark.storage import TickStore
from tests.spy import count_jobs, read_path

N_UIDS = 64
ROWS_PER_UID = 6


def _t(minute: int) -> dt.datetime:
    return dt.datetime(2024, 1, 2) + dt.timedelta(minutes=minute)


def _ticks(spark, uids, rows_per_uid=ROWS_PER_UID):
    rows = [
        (u, _t(k), float(i * 100 + k), i * 100 + k)
        for i, u in enumerate(uids)
        for k in range(rows_per_uid)
    ]
    return spark.createDataFrame(rows, "uid string, ts timestamp, price double, size long")


@pytest.fixture(scope="module")
def store64(spark, tmp_path_factory):
    store = TickStore(spark, str(tmp_path_factory.mktemp("tick64") / "store"))
    store.write(_ticks(spark, [f"U{i:02d}" for i in range(N_UIDS)]))
    return store


def _files(root: str) -> list[str]:
    return sorted(os.path.join(d, f) for d, _, fs in os.walk(root) for f in fs)


def test_point_read_plans_without_jobs_and_collects_in_one(spark, store64, monkeypatch):
    for path, jobs in [("spark", (0, 1)), ("local", (0, 0))]:
        with read_path(monkeypatch, path) as opened:
            df, build_jobs = count_jobs(
                spark, lambda: store64.read(["U07"], _t(1), _t(3), ["price"])
            )
            rows, collect_jobs = count_jobs(spark, df.collect)
        # a local relation collects without a job
        assert (build_jobs, collect_jobs) == jobs, path
        assert [len(files) for files in opened] == ([] if path == "spark" else [1])
        assert df.columns == ["uid", "ts", "price"]
        assert [(r["uid"], r["ts"], r["price"]) for r in sorted(rows, key=lambda r: r["ts"])] == [
            ("U07", _t(k), 700.0 + k) for k in (1, 2, 3)
        ]


def test_absent_uid_reads_empty_frame_without_jobs(spark, store64):
    df, build_jobs = count_jobs(
        spark, lambda: store64.read(["absent"], _t(1), _t(3), ["price"])
    )
    rows, collect_jobs = count_jobs(spark, df.collect)
    assert (build_jobs, collect_jobs, rows) == (0, 0, [])
    assert df.dtypes == store64.read(["U01"], _t(1), _t(3), ["price"]).dtypes
    # no column projection: the scan's own column order and types
    assert store64.read(["absent"]).dtypes == store64.read(["U01"]).dtypes
    assert store64.read([]).count() == 0


def test_uids_needing_path_escapes_round_trip(spark, tmp_path):
    uids = ["a/b", "c:d", "e%f", "g h", "i=j", "plain"]
    store = TickStore(spark, str(tmp_path / "escaped"))
    store.write(_ticks(spark, uids))
    assert os.path.isdir(os.path.join(store._data_dir(), "uid=a%2Fb"))
    for i, u in enumerate(uids):
        df, build_jobs = count_jobs(spark, lambda: store.read([u]))
        assert build_jobs == 0, u
        got = sorted((r["uid"], r["size"]) for r in df.collect())
        assert got == [(u, i * 100 + k) for k in range(ROWS_PER_UID)], u
    assert sorted(r["uid"] for r in store.list_uids().collect()) == sorted(uids)
    assert store.delete_uid("a/b") is True
    assert store.read(["a/b"]).count() == 0 and store.read(["c:d"]).count() == ROWS_PER_UID


def test_numeric_looking_uids_keep_their_text(spark, tmp_path):
    from corintick_spark.compat import Corintick

    store = TickStore(spark, str(tmp_path / "numeric"))
    store.write(_ticks(spark, ["007", "010"]))
    got = store.read(["007"]).collect()
    assert sorted(r["size"] for r in got) == list(range(ROWS_PER_UID))
    assert {r["uid"] for r in got} == {"007"}
    assert sorted(r["uid"] for r in store.list_uids().collect()) == ["007", "010"]

    c = Corintick(spark, str(tmp_path / "compat"))
    frame = pd.DataFrame(
        {"Close": [1.0, 2.0, 3.0]},
        index=pd.date_range("2024-03-01", periods=3, freq="min"),
    )
    c.write("007", frame)
    c.write("010", frame + 1)
    pd.testing.assert_frame_equal(c.read("007"), frame, check_freq=False)
    assert list(c.list_uids()["uid"]) == ["007", "010"]


def test_integral_uid_reads_its_directory(spark, tmp_path):
    store = TickStore(spark, str(tmp_path / "intuid"))
    store.write(
        spark.createDataFrame(
            [(u, _t(k), float(k)) for u in (3, 30) for k in range(3)],
            "uid int, ts timestamp, price double",
        )
    )
    df, build_jobs = count_jobs(spark, lambda: store.read([3]))
    assert build_jobs == 0
    assert sorted(r["price"] for r in df.collect()) == [0.0, 1.0, 2.0]
    assert dict(df.dtypes)["uid"] == "int"
    # a string uid against an integral column goes through the full listing
    # and the same isin filter, so it answers as before
    assert store.read(["3"]).count() == 3


def _value_frame(spark, uid, minute, value, dtype):
    return spark.createDataFrame(
        [(uid, _t(minute), value)], f"uid string, ts timestamp, value {dtype}"
    )


@pytest.mark.parametrize(
    "first, v1, second, v2, wide",
    [
        ("int", 1, "bigint", 2**40, "bigint"),
        ("bigint", 2**40, "int", 1, "bigint"),
        ("int", 1, "double", 2.5, "double"),
        ("double", 2.5, "int", 1, "double"),
        ("float", 1.5, "double", 2.5, "double"),
    ],
)
def test_widening_append_reads_back_wide(spark, tmp_path, first, v1, second, v2, wide):
    store = TickStore(spark, str(tmp_path / "widen"))
    store.write(_value_frame(spark, "a", 0, v1, first))
    store.write(_value_frame(spark, "a", 1, v2, second))
    df = store.read(["a"])
    assert dict(df.dtypes)["value"] == wide
    assert sorted(r["value"] for r in df.collect()) == sorted([v1, v2])
    assert store._schema()["value"].dataType.simpleString() == wide


def test_incompatible_type_change_raises_and_leaves_store_unchanged(spark, tmp_path):
    store = TickStore(spark, str(tmp_path / "conflict"))
    store.write(_value_frame(spark, "a", 0, 1, "int"))
    with open(store._schema_path()) as fh:
        sidecar = fh.read()
    files = _files(store.root)
    with pytest.raises(ValueError, match="value"):
        store.write(_value_frame(spark, "a", 1, "x", "string"))
    with pytest.raises(ValueError, match="value"):
        store.upsert(_value_frame(spark, "a", 1, "x", "string"))
    with open(store._schema_path()) as fh:
        assert fh.read() == sidecar
    assert _files(store.root) == files
    assert [r["value"] for r in store.read().collect()] == [1]


def test_upsert_records_added_column(spark, tmp_path):
    store = TickStore(spark, str(tmp_path / "upsert_col"))
    store.write(_value_frame(spark, "a", 0, 1, "int"))
    store.upsert(
        spark.createDataFrame([("a", _t(1), 2, "n")], "uid string, ts timestamp, value int, note string")
    )
    assert store._schema().fieldNames() == ["uid", "ts", "value", "note"]
    got = sorted((r["value"], r["note"]) for r in store.read(["a"]).collect())
    assert got == [(1, None), (2, "n")]


def test_stream_only_store_records_sidecar(spark, tmp_path):
    stage = str(tmp_path / "stage")
    _ticks(spark, ["01", "02"]).write.parquet(stage)
    src = spark.readStream.schema(_ticks(spark, ["x"]).schema).parquet(stage)
    store = TickStore(spark, str(tmp_path / "streamed"))
    q = store.append_stream(src, str(tmp_path / "ckpt"), trigger_available_now=True)
    q.awaitTermination()
    with open(store._schema_path()) as fh:
        recorded = json.load(fh)
    assert [f["name"] for f in recorded["fields"]] == ["uid", "ts", "price", "size"]
    got = store.read(["01"]).select("uid").distinct().collect()
    assert [r["uid"] for r in got] == ["01"]
    assert store.read().filter(F.col("uid") == "02").count() == ROWS_PER_UID


def test_first_record_on_store_without_sidecar_keeps_its_columns(spark, tmp_path):
    store = TickStore(spark, str(tmp_path / "legacy"))
    # files written without a sidecar, uid values that inference re-types
    _ticks(spark, ["01"]).write.partitionBy("uid").parquet(store._data_dir())
    store.write(_ticks(spark, ["02"]).drop("size"))
    assert store._schema().simpleString() == (
        "struct<ts:timestamp,price:double,size:bigint,uid:string>"
    )
    got = sorted((r["uid"], r["size"]) for r in store.read(["01", "02"]).collect())
    assert got == [("01", k) for k in range(ROWS_PER_UID)] + [("02", None)] * ROWS_PER_UID

"""TickStore's driver-local read against its Spark scan.

A read whose manifest-selected files hold at most ``storage._LOCAL_ROWS``
rows, and whose files' ``ts`` bounds came from their own footers, is served
by one pyarrow scan on the driver as a local relation; every other read
keeps the Spark scan. Each read shape here runs through both paths (the
Spark one forced by setting the row bound to 0) and must return the same
frame: the same rows, columns, column order, types and nullability.
"""

from __future__ import annotations

import datetime as dt
import json
import os
from zoneinfo import ZoneInfo

import pandas as pd
import pyspark.sql.functions as F
import pytest

from corintick_spark import storage
from corintick_spark.storage import TickStore
from tests.spy import read_path

T0 = dt.datetime(2024, 1, 2)
OLD = dt.datetime(1500, 3, 1, 12, 0, 0, 7)
ESCAPED = ["a/b", "c:d", "e%f", "g h", "i=j", "plain"]
UIDS = ["A", "B", "007", *ESCAPED]


def _t(minute: int) -> dt.datetime:
    return T0 + dt.timedelta(minutes=minute)


@pytest.fixture(scope="module")
def store(spark, tmp_path_factory):
    """Two appends: the second widens ``size`` from int to bigint, adds a
    ``note`` column and a 1500-03-01 tick."""
    store = TickStore(spark, str(tmp_path_factory.mktemp("local") / "store"))
    store.write(
        spark.createDataFrame(
            [
                (u, _t(k), float(i * 100 + k), i * 100 + k)
                for i, u in enumerate(UIDS)
                for k in range(0, 60, 5)
            ],
            "uid string, ts timestamp, price double, size int",
        )
    )
    store.write(
        spark.createDataFrame(
            [(u, _t(k), float(k), 2**40 + k, f"n{k}") for u in ("A", "B") for k in range(60, 90, 5)]
            + [("A", OLD, -1.0, -1, "old")],
            "uid string, ts timestamp, price double, size bigint, note string",
        )
    )
    return store


@pytest.fixture(params=["UTC", "America/New_York"])
def zone(spark, request):
    key = "spark.sql.session.timeZone"
    prior = spark.conf.get(key)
    spark.conf.set(key, request.param)
    yield request.param
    spark.conf.set(key, prior)


def _leaf(df) -> str:
    """The analyzed plan's leaf: ``LocalRelation`` (the driver-local read),
    ``LogicalRelation`` (a Spark file scan) or ``LogicalRDD`` (the empty
    frame of a read that selects no file)."""
    return df._jdf.queryExecution().analyzed().collectLeaves().apply(0).getClass().getSimpleName()


def _sorted(pdf: pd.DataFrame) -> pd.DataFrame:
    return pdf.sort_values(list(pdf.columns), na_position="first").reset_index(drop=True)


def _assert_paths_agree(store, monkeypatch, *args, leaf="LocalRelation", micros=False, **kw):
    """Read through both paths; assert the frames match and return the
    local one's pandas frame. ``micros`` compares ``ts`` as epoch micros,
    for ticks outside pandas' nanosecond range."""
    got = store.read(*args, **kw)
    with read_path(monkeypatch, "spark"):
        want = store.read(*args, **kw)
    assert _leaf(got) == leaf
    assert got.schema == want.schema
    assert sorted(map(repr, got.collect())) == sorted(map(repr, want.collect()))
    if micros:
        got, want = (df.withColumn("ts", F.unix_micros("ts")) for df in (got, want))
    a, b = got.toPandas(), want.toPandas()
    assert list(a.columns) == list(b.columns) and list(a.dtypes) == list(b.dtypes)
    pd.testing.assert_frame_equal(_sorted(a), _sorted(b))
    return a


def _aware(minute: int, zone: str) -> dt.datetime:
    return _t(minute).replace(tzinfo=dt.timezone.utc).astimezone(ZoneInfo(zone))


def _wall(minute: int, zone: str) -> str:
    """The tick's instant as wall-clock text in ``zone``, which the read
    parses in the session time zone."""
    return _aware(minute, zone).strftime("%Y-%m-%d %H:%M:%S")


# (uids, start, end, columns) per time zone; ticks are at _t(0, 5, ..., 85)
SHAPES = {
    "string_bounds": lambda z: (["A"], _wall(10, z), _wall(40, z), ["price"]),
    "aware_datetime_bounds": lambda z: (["A", "B"], _aware(10, z), _aware(70, z), None),
    "naive_datetime_bounds": lambda z: (["B"], _t(5), _t(75), ["size", "note"]),
    "pre_gregorian_tick": lambda z: (["A"], "1500-03-01 00:00:00", "1500-03-02 00:00:00", None),
    "added_column": lambda z: (["A", "B", "007"], _t(0), None, ["note"]),
    "widened_int": lambda z: (["A", "B", "plain"], _t(0), _t(70), ["size"]),
    "numeric_looking_uid": lambda z: (["007"], _t(0), None, ["price"]),
    "escaped_uids": lambda z: (ESCAPED, None, None, ["size"]),
    "columns_none": lambda z: (["B", "g h"], None, None, None),
    "bounds_only": lambda z: (None, _wall(20, z), _wall(65, z), None),
    "uid_and_ts_columns": lambda z: (["B"], None, None, ["ts", "uid"]),
    "window_between_ticks": lambda z: (["A"], _t(1), _t(4), ["price"]),
}


@pytest.mark.parametrize("shape", list(SHAPES))
def test_local_read_equals_spark_scan(spark, store, zone, monkeypatch, shape):
    uids, start, end, columns = SHAPES[shape](zone)
    micros = shape == "pre_gregorian_tick"
    got = _assert_paths_agree(store, monkeypatch, uids, start, end, columns, micros=micros)
    if shape in ("escaped_uids", "columns_none"):
        assert sorted(set(got["uid"])) == sorted(uids)
    if shape == "window_between_ticks":
        assert got.empty
    if shape == "pre_gregorian_tick":
        assert len(got) == 1 and got["price"][0] == -1.0
    if shape == "added_column":
        assert got["note"].isna().sum() == 36 and got["note"].notna().sum() == 12


def test_empty_selection_agrees(spark, store, monkeypatch):
    # no file selected: both paths return the same empty frame of no rows
    empty = "LogicalRDD"
    got = _assert_paths_agree(store, monkeypatch, ["absent"], _t(0), _t(9), ["price"], leaf=empty)
    assert got.empty
    assert _assert_paths_agree(store, monkeypatch, [], leaf=empty).empty


def test_integral_uid(spark, tmp_path, monkeypatch):
    store = TickStore(spark, str(tmp_path / "intuid"))
    store.write(
        spark.createDataFrame(
            [(u, _t(k), float(k)) for u in (3, 30) for k in range(3)],
            "uid int, ts timestamp, price double",
        )
    )
    got = _assert_paths_agree(store, monkeypatch, [3, 30], _t(1), None)
    assert sorted(got["uid"]) == [3, 3, 30, 30]


def test_large_selection_keeps_the_spark_scan(spark, store, monkeypatch):
    # uid 007's one file holds 12 rows: the bound is inclusive
    monkeypatch.setattr(storage, "_LOCAL_ROWS", 11)
    assert _leaf(store.read(["007"], _t(0), _t(1))) == "LogicalRelation"
    monkeypatch.setattr(storage, "_LOCAL_ROWS", 12)
    assert _leaf(store.read(["007"], _t(0), _t(1))) == "LocalRelation"


def test_int96_store_takes_the_spark_scan(spark, tmp_path, monkeypatch):
    store = TickStore(spark, str(tmp_path / "int96"))
    df = spark.createDataFrame(
        [(u, _t(k), float(k)) for u in ("A", "B") for k in range(5)] + [("A", OLD, -1.0)],
        "uid string, ts timestamp, price double",
    )
    store._record_schema(df.schema)
    # the session's INT96 default: footers carry no ts statistics
    df.write.partitionBy("uid").parquet(store._data_dir())
    got = _assert_paths_agree(store, monkeypatch, ["A"], _t(1), _t(3), leaf="LogicalRelation")
    assert sorted(got["price"]) == [1.0, 2.0, 3.0]
    assert not any(e.get("footer") for e in store._manifest())
    # rewritten as micros, the same read is served locally
    store.compact()
    _assert_paths_agree(store, monkeypatch, ["A"], _t(1), _t(3))


def test_manifest_without_footer_marks_takes_the_spark_scan(spark, tmp_path, monkeypatch):
    store = TickStore(spark, str(tmp_path / "premark"))
    store.write(
        spark.createDataFrame(
            [(u, _t(k), float(k)) for u in ("A", "B") for k in range(5)],
            "uid string, ts timestamp, price double",
        )
    )
    path = os.path.join(store.root, "_manifest.json")
    with open(path) as fh:
        manifest = json.load(fh)
    assert all(e["footer"] for e in manifest["files"])
    for e in manifest["files"]:
        del e["footer"]  # a manifest committed before entries carried the mark
    with open(path, "w") as fh:
        json.dump(manifest, fh)
    _assert_paths_agree(store, monkeypatch, ["A"], _t(1), _t(3), leaf="LogicalRelation")
    # a later append marks only its own entries
    store.write(
        spark.createDataFrame([("C", _t(1), 9.0)], "uid string, ts timestamp, price double")
    )
    _assert_paths_agree(store, monkeypatch, ["C"])
    _assert_paths_agree(store, monkeypatch, ["A", "C"], leaf="LogicalRelation")


def test_unconvertible_bound_and_unrecorded_column_keep_the_spark_scan(spark, store):
    assert _leaf(store.read(["A"], "not a time")) == "LogicalRelation"
    assert _leaf(store.read(["A"], columns=["price"])) == "LocalRelation"
    with pytest.raises(Exception, match="nope"):
        store.read(["A"], columns=["nope"]).collect()
    # a uid of another type than the recorded one: the isin filter coerces
    assert _leaf(store.read([7], _t(0))) == "LogicalRelation"
    assert store.read(["A"]).filter(F.col("uid") != "A").count() == 0

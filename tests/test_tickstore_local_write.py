"""TickStore's driver-local write against its Spark write.

An append of a frame whose rows Spark already holds on the driver (its
optimized plan is a ``LocalRelation``) to the plain uid layout is written
by pyarrow: one file per ``uid=`` directory, sorted by ``ts``, with Spark's
footer keys. Each shape here is written through both paths (the Spark one
forced by a ``repartition``) and must leave the same directories, the same
manifest entries apart from the file names, the same inferred schema and
the same rows on both read paths. Every other write keeps the Spark write.
"""

from __future__ import annotations

import datetime as dt
import json
import os

import numpy as np
import pandas as pd
import pyarrow.parquet as pq
import pytest

from corintick_spark.storage import TickStore, _partition_dir
from tests.spy import count_stages, read_path

T0 = dt.datetime(2024, 1, 2)
OLD = dt.datetime(1500, 3, 1, 12, 0, 0, 7)
SCHEMA = "uid string, ts timestamp, price double, size int"
SPARK_KEYS = ("org.apache.spark.version", "org.apache.spark.sql.parquet.row.metadata")


def _t(minute: int) -> dt.datetime:
    return T0 + dt.timedelta(minutes=minute)


def _local(spark, rows: list[tuple], ddl: str):
    """A frame Spark holds on the driver: ``createDataFrame`` of a pandas
    frame, its ``ts`` in microseconds (a pre-1677 tick does not fit ns)."""
    names = [c.split()[0] for c in ddl.split(",")]
    data = {n: list(col) for n, col in zip(names, zip(*rows))}
    data["ts"] = np.array([np.datetime64(t, "us") for t in data["ts"]])  # None -> NaT
    df = spark.createDataFrame(pd.DataFrame(data), ddl)
    plan = df._jdf.queryExecution().optimizedPlan().getClass().getSimpleName()
    assert plan == "LocalRelation"
    return df


def _writers(store: TickStore) -> set[str]:
    """The writers named in the data files' footers: ``parquet-mr`` for
    the Spark write, ``parquet-cpp-arrow`` for the local one."""
    return {
        pq.ParquetFile(os.path.join(store.root, p)).metadata.created_by.split(" ")[0]
        for p in store._data_files()
    }


def _files(store: TickStore) -> dict[str, list[list]]:
    """Each ``uid=`` directory's files as their ``ts`` columns (epoch
    micros), after checking each is in ``ts`` order, nulls first."""
    out: dict[str, list[list]] = {}
    for p in store._data_files():
        col = pq.read_table(os.path.join(store.root, p), columns=["ts"]).column("ts")
        ts = col.cast("int64").to_pylist()
        assert ts == sorted(ts, key=lambda v: (v is not None, v)), p
        out.setdefault(os.path.dirname(p), []).append(ts)
    return out


def _footers(store: TickStore) -> set[tuple]:
    """The values of Spark's footer keys across the data files."""
    out = set()
    for p in store._data_files():
        meta = pq.ParquetFile(os.path.join(store.root, p)).metadata.metadata
        out.add(tuple(meta[k.encode()] for k in SPARK_KEYS))
    return out


def _inferred(spark, store: TickStore) -> list[tuple]:
    """Each data file's schema as Spark infers it, by directory."""
    return sorted(
        (os.path.dirname(p), spark.read.parquet(os.path.join(store.root, p)).schema.json())
        for p in store._data_files()
    )


def _entries(store: TickStore) -> list[tuple]:
    with open(os.path.join(store.root, "_manifest.json")) as fh:
        files = json.load(fh)["files"]
    return sorted(
        (
            json.dumps({k: v for k, v in e.items() if k != "path"}, sort_keys=True),
            os.path.dirname(e["path"]),
        )
        for e in files
    )


def _rows(df) -> list[tuple]:
    return sorted((tuple(r) for r in df.collect()), key=repr)


def _assert_same_store(spark, monkeypatch, local: TickStore, remote: TickStore, uids):
    assert _writers(local) == {"parquet-cpp-arrow"}
    assert _writers(remote) == {"parquet-mr"}
    a, b = _files(local), _files(remote)
    assert sorted(a) == sorted(b)
    for d in a:
        assert sorted(a[d], key=repr) == sorted(b[d], key=repr), d
    assert _entries(local) == _entries(remote)
    assert _footers(local) == _footers(remote)
    assert _inferred(spark, local) == _inferred(spark, remote)
    if len(_footers(local)) == 1:  # else inference reads a file picked by name
        inferred = [spark.read.parquet(s._data_dir()).schema for s in (local, remote)]
        assert inferred[0] == inferred[1]
    for path in ("spark", "local"):
        with read_path(monkeypatch, path):
            assert _rows(local.read()) == _rows(remote.read())
            for u in uids:
                assert _rows(local.read([u])) == _rows(remote.read([u])), (path, u)
                window = local.read([u], "2024-01-02 00:10:00", "2024-01-02 00:40:00")
                twin = remote.read([u], "2024-01-02 00:10:00", "2024-01-02 00:40:00")
                assert _rows(window) == _rows(twin), (path, u)
    assert _rows(local.list_uids()) == _rows(remote.list_uids())


def _write_both(spark, tmp_path, batches: list[tuple[list, str]]):
    """Each batch appended locally to one store and, repartitioned, by the
    Spark write to another."""
    local = TickStore(spark, str(tmp_path / "local"))
    remote = TickStore(spark, str(tmp_path / "spark"))
    for rows, ddl in batches:
        df = _local(spark, rows, ddl)
        local.write(df)
        remote.write(df.repartition(3))
    return local, remote


def test_escaped_and_null_uids(spark, tmp_path, monkeypatch):
    """Escaped names, the ``uid="007"`` Spark would infer as 7, and a null
    and an empty uid in one append, both Spark's
    ``__HIVE_DEFAULT_PARTITION__`` (one file there on both routes)."""
    uids = ["a/b", "x=y", "50%", "007", "plain"]
    rows = [
        (u, _t(k * 7 % 60), float(i * 100 + k), i * 100 + k)
        for i, u in enumerate(uids)
        for k in range(12)
    ]
    local, remote = _write_both(
        spark,
        tmp_path,
        [
            (rows + [(None, _t(3), 1.0, 1), ("", _t(2), 3.0, 3), (None, _t(1), 2.0, 2)], SCHEMA),
            ([("a/b", _t(99), 4.0, 4)], SCHEMA),
        ],
    )
    assert "data/uid=__HIVE_DEFAULT_PARTITION__" in _files(local)
    assert "data/uid=a%2Fb" in _files(local)
    _assert_same_store(spark, monkeypatch, local, remote, uids)


def test_partition_dir_names_match_spark(spark):
    utils = spark._jvm.org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
    values = [None, "", "plain", "007", "é/ü", "\U0001f600=x", *map(chr, range(256))]
    for col in ("uid", "a b/c"):
        for v in values:
            assert _partition_dir(col, v) == utils.getPartitionPathString(col, v), (col, v)
    assert _partition_dir("uid", -3) == "uid=-3"


def test_null_and_empty_uid_share_one_file(spark, tmp_path):
    store = TickStore(spark, str(tmp_path / "store"))
    store.write(
        _local(spark, [(None, _t(3), 1.0, 1), ("", _t(1), 2.0, 2), (None, _t(2), 3.0, 3)], SCHEMA)
    )
    ((d, files),) = _files(store).items()
    assert d == "data/uid=__HIVE_DEFAULT_PARTITION__" and len(files) == 1
    assert [r.uid for r in store.read().collect()] == [None] * 3


def test_integral_uids(spark, tmp_path, monkeypatch):
    rows = [(u, _t(k), float(k), k) for u in (7, 42, -3) for k in range(5, 0, -1)]
    ddl = "uid bigint, ts timestamp, price double, size int"
    local, remote = _write_both(spark, tmp_path, [(rows, ddl)])
    assert sorted(_files(local)) == ["data/uid=-3", "data/uid=42", "data/uid=7"]
    _assert_same_store(spark, monkeypatch, local, remote, [7, 42, -3])


def test_old_tick_null_ts_and_schema_evolution(spark, tmp_path, monkeypatch):
    """A 1500-03-01 tick, a null ``ts``, and a second append that widens
    ``size`` from int to bigint and adds a column."""
    first = [(u, _t(k), float(k), k) for u in ("A", "B") for k in range(30, 0, -3)]
    second = [
        ("A", OLD, -1.0, 2**40, "old"),
        ("A", None, 0.0, 0, "null"),
        ("C", _t(5), 5.0, 5, "c"),
    ]
    local, remote = _write_both(
        spark,
        tmp_path,
        [
            (first + [("B", None, 9.0, 9)], SCHEMA),
            (second, "uid string, ts timestamp, price double, size bigint, note string"),
        ],
    )
    assert local._schema().simpleString() == (
        "struct<uid:string,ts:timestamp,price:double,size:bigint,note:string>"
    )
    _assert_same_store(spark, monkeypatch, local, remote, ["A", "B", "C"])
    key = "spark.sql.parquet.datetimeRebaseModeInRead"
    prior = spark.conf.get(key)
    spark.conf.set(key, "EXCEPTION")
    try:
        with read_path(monkeypatch, "spark"):
            got = local.read(["A"], "1500-03-01 00:00:00", "1500-03-02 00:00:00")
            assert [r.ts for r in got.collect()] == [OLD]
            full = [spark.read.schema(s._schema()).parquet(s._data_dir()) for s in (local, remote)]
            assert _rows(full[0]) == _rows(full[1])
    finally:
        spark.conf.set(key, prior)


# -- the route and its cost ------------------------------------------------


def test_local_write_runs_one_job_and_no_shuffle(spark, tmp_path):
    rows = [(u, _t(k), float(k), k) for u in ("A", "B", "C") for k in range(20)]
    df = _local(spark, rows, SCHEMA)
    store = TickStore(spark, str(tmp_path / "local"))
    _, jobs, stages = count_stages(spark, lambda: store.write(df))
    assert jobs <= 1 and stages == jobs
    assert _writers(store) == {"parquet-cpp-arrow"}
    # the Spark write of the same rows shuffles
    other = TickStore(spark, str(tmp_path / "spark"))
    _, jobs, stages = count_stages(spark, lambda: other.write(df.repartition(2)))
    assert stages > jobs


@pytest.mark.parametrize(
    "case", ["repartition", "range", "rows", "bucketed", "dated", "overwrite"]
)
def test_other_writes_keep_the_spark_write(spark, tmp_path, case):
    """Plans that are not a local relation, the bucketed and dated
    layouts and an overwrite go through the Spark write."""
    rows = [(u, _t(k), float(k), k) for u in ("A", "B") for k in range(10)]
    df = _local(spark, rows, SCHEMA)
    layout = {"bucketed": {"bucket_uids": 2}, "dated": {"partition_by_date": True}}
    store = TickStore(spark, str(tmp_path / "store"), **layout.get(case, {}))
    mode = "overwrite" if case == "overwrite" else "append"
    if case == "repartition":
        df = df.repartition(2)
    elif case == "range":
        df = spark.range(20).selectExpr(
            "if(id % 2 = 0, 'A', 'B') AS uid",
            "timestamp_seconds(1704153600 + id) AS ts",
            "double(id) AS price",
            "int(id) AS size",
        )
    elif case == "rows":
        df = spark.createDataFrame(rows, SCHEMA)
    store.write(df, mode=mode)
    assert _writers(store) == {"parquet-mr"}
    assert store.read().count() == 20


# -- crash safety -----------------------------------------------------------


def test_failed_local_write_leaves_no_listed_file(spark, tmp_path, monkeypatch):
    """A failure after some files are written leaves no file a directory
    scan lists and keeps the committed manifest."""
    store = TickStore(spark, str(tmp_path / "store"))
    store.write(_local(spark, [("A", _t(1), 1.0, 1)], SCHEMA))
    before = (store._data_files(), _entries(store), os.listdir(store._data_dir()))
    real, calls = pq.write_table, []

    def failing(table, where, **kw):
        calls.append(where)
        if len(calls) > 2:
            raise OSError("disk full")
        real(table, where, **kw)

    monkeypatch.setattr(pq, "write_table", failing)
    rows = [(u, _t(k), float(k), k) for u in ("A", "B", "C", "D", "E") for k in range(4)]
    with pytest.raises(OSError, match="disk full"):
        store.write(_local(spark, rows, SCHEMA))
    assert len(calls) == 3
    assert (store._data_files(), _entries(store), os.listdir(store._data_dir())) == before
    assert spark.read.parquet(store._data_dir()).count() == 1
    monkeypatch.setattr(pq, "write_table", real)
    store.write(_local(spark, rows, SCHEMA))
    assert store.read().count() == 21

"""Z-order clustering: Morton-key correctness + layout locality."""

from __future__ import annotations

import glob

import pyspark.sql.functions as F

from corintick_spark.operators import zorder as Z


def _morton(x: int, y: int, bits: int) -> int:
    out = 0
    for b in range(bits):
        out |= ((x >> b) & 1) << (2 * b)
        out |= ((y >> b) & 1) << (2 * b + 1)
    return out


def test_interleave_bits_matches_reference(spark):
    rows = [(x, y) for x in range(8) for y in range(8)]
    df = spark.createDataFrame(rows, "x bigint, y bigint")
    got = (
        df.withColumn("z", Z.interleave_bits([F.col("x"), F.col("y")], bits=3))
        .orderBy("x", "y")
        .collect()
    )
    for r in got:
        assert r.z == _morton(r.x, r.y, 3), (r.x, r.y, r.z)


def test_zorder_write_preserves_rows_and_clusters(spark, sf_dir, tmp_path):
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    n = ev.count()
    path = str(tmp_path / "zorder")
    Z.zorder_write(ev, path, ["user_id", "ts"], bits=10, num_files=8)

    back = spark.read.parquet(path)
    assert back.count() == n
    assert set(back.columns) == set(ev.columns)

    # Locality: each z-ordered file should cover a narrow user_id span —
    # strictly narrower on average than the unclustered global span.
    files = glob.glob(f"{path}/part-*.parquet")
    assert len(files) > 1
    global_span = ev.agg(
        (F.max("user_id") - F.min("user_id")).alias("s")
    ).collect()[0].s
    spans = [
        spark.read.parquet(f)
        .agg((F.max("user_id") - F.min("user_id")).alias("s"))
        .collect()[0]
        .s
        for f in files
    ]
    assert sum(spans) / len(spans) < global_span


def test_tickstore_compact_zorder(spark, sf_dir, tmp_path):
    """compact(zorder_by=...) rewrites the store clustered on the Morton
    key: rows come in non-decreasing Morton order within every file, and
    no rows or columns are lost."""
    from corintick_spark.storage import TickStore

    ev = (
        spark.read.parquet(f"{sf_dir}/events.parquet")
        .selectExpr(
            "cast(user_id as string) AS uid", "ts", "value", "event_id"
        )
    )
    # scattered, so no file is in Morton order before the compaction sorts
    # it (a shuffle would drop an orderBy ahead of the store's own write)
    ev.orderBy(F.xxhash64("event_id")).write.parquet(str(tmp_path / "scattered"))
    store = TickStore(spark, str(tmp_path / "store"))
    store.write(spark.read.parquet(str(tmp_path / "scattered")))
    n = ev.count()
    store.compact(zorder_by=["event_id", "ts"])
    back = store.read()
    assert back.count() == n
    assert set(back.columns) >= {"uid", "ts", "value", "event_id"}
    # the Morton key over the whole store, so the column ranges are the
    # store-wide ones the compaction quantized with (per-file ranges differ)
    z = (
        Z.with_zvalue(
            back.withColumn("_file", F.input_file_name()).withColumn(
                "_row", F.monotonically_increasing_id()
            ),
            ["event_id", "ts"],
        )
        .select("_file", "_row", "_zvalue")
        .toPandas()
    )
    assert z["_file"].nunique() > 1
    for f, rows in z.groupby("_file"):
        zs = rows.sort_values("_row")["_zvalue"].tolist()
        assert zs == sorted(zs), f"{f} is not in Morton order"

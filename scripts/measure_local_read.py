"""Where TickStore's driver-local read stops beating its Spark scan.

Writes one store per schema, with one uid per selection size (2^k rows for
each k in the range), then reads each uid whole through both read paths:
the driver-local pyarrow scan (the size bound lifted) and the Spark scan
(the bound set to 0). Two consumers are timed per read, in alternating
path order:

- ``pandas_s``: ``read(...).toPandas()``, what ``compat.Corintick.read``
  returns to the client;
- ``agg_s``: ``read(...).agg(max(ts)).collect()``, a consumer that keeps
  the rows in Spark.

Schemas: ``tick`` (the benchmark's uid, ts, price, size, side), ``wide``
(uid, ts and 32 doubles, every column read) and ``wide1`` (the same store,
one double projected). Each line also gives the selected files' bytes on
disk and the bytes the local path holds on the driver as one Arrow table.
Prints one JSON line per (schema, rows, path) with the median of the
repeats.

Usage: SPARK_GRAFT_DRIVER_MEM=4g python scripts/measure_local_read.py
    [--min-exp 14] [--max-exp 22] [--wide-max-exp 20] [--repeats 3]
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

WIDE_COLS = 32


def _frame(spark, uid: str, n: int, wide: bool):
    import pyspark.sql.functions as F

    base = F.col("id")
    cols = [
        F.lit(uid).alias("uid"),
        F.timestamp_micros(F.lit(1_704_153_600_000_000) + base * 1000).alias("ts"),
    ]
    if wide:
        cols += [(F.rand(k) * 100).alias(f"c{k}") for k in range(WIDE_COLS)]
    else:
        cols += [
            (F.rand(1) * 100).alias("price"),
            (F.rand(2) * 1000).cast("long").alias("size"),
            F.when(F.rand(3) < 0.5, "B").otherwise("S").alias("side"),
        ]
    return spark.range(n).select(*cols)


def _timed(fn) -> float:
    t0 = time.perf_counter()
    fn()
    return time.perf_counter() - t0


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--min-exp", type=int, default=14)
    ap.add_argument("--max-exp", type=int, default=22)
    ap.add_argument("--wide-max-exp", type=int, default=20)
    ap.add_argument("--repeats", type=int, default=3)
    args = ap.parse_args()

    import pyarrow.parquet as pq
    import pyspark.sql.functions as F

    from corintick_spark import storage
    from corintick_spark.session import get_spark
    from corintick_spark.storage import TickStore

    spark = get_spark(app_name="corintick-spark-measure-local-read")
    spark.sparkContext.setLogLevel("ERROR")
    base = tempfile.mkdtemp(prefix="local_read_")
    bounds = {"local": 1 << 62, "spark": 0}
    cases = [
        ("tick", "tick", None, args.max_exp),
        ("wide", "wide", None, args.wide_max_exp),
        ("wide1", "wide", ["c0"], args.wide_max_exp),
    ]
    try:
        stores = {}
        for name, max_exp in (("tick", args.max_exp), ("wide", args.wide_max_exp)):
            store = TickStore(spark, os.path.join(base, name))
            for k in range(args.min_exp, max_exp + 1):
                store.write(_frame(spark, f"n{k}", 1 << k, name == "wide"))
            stores[name] = store
        for case, name, columns, max_exp in cases:
            store = stores[name]
            for k in range(args.min_exp, max_exp + 1):
                uid = f"n{k}"
                entries, _ = store._select(store._schema(), [uid], None, None)
                files = [os.path.join(store.root, e["path"]) for e in entries]
                read_cols = None if columns is None else [store.ts_col, *columns]
                held = pq.read_table(files, columns=read_cols).nbytes
                times = {p: {"pandas_s": [], "agg_s": []} for p in bounds}
                for rep in range(args.repeats + 1):  # the first round warms up
                    order = list(bounds) if rep % 2 == 0 else list(bounds)[::-1]
                    for path in order:
                        storage._LOCAL_ROWS = bounds[path]
                        read = lambda: store.read([uid], columns=columns)  # noqa: E731
                        got = {
                            "pandas_s": _timed(lambda: read().toPandas()),
                            "agg_s": _timed(lambda: read().agg(F.max("ts")).collect()),
                        }
                        if rep:
                            for m, v in got.items():
                                times[path][m].append(v)
                for path, ms in times.items():
                    line = {
                        "schema": case,
                        "rows": 1 << k,
                        "files": len(files),
                        "file_bytes": sum(os.path.getsize(f) for f in files),
                        "arrow_bytes": held,
                        "path": path,
                        **{m: round(statistics.median(v), 4) for m, v in ms.items()},
                    }
                    print(json.dumps(line), flush=True)
    finally:
        shutil.rmtree(base, ignore_errors=True)
        spark.stop()


if __name__ == "__main__":
    main()

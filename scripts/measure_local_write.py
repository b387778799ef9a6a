"""TickStore's driver-local write against its Spark write.

Builds tick frames of 2^k rows over 64 uids (the benchmark's schema and
uid skew) with ``createDataFrame(pandas)``, which Spark keeps on the driver
as a local relation, and appends each to a fresh store through both write
paths, in alternating order: the driver-local pyarrow write and the Spark
write (the local route switched off). Each line gives the median
``TickStore.write`` time of the repeats, the files written and their bytes
on disk. A frame over ``spark.sql.execution.arrow.localRelationThreshold``
is not a local relation, and both paths are then the Spark write.

Usage: SPARK_GRAFT_DRIVER_MEM=4g python scripts/measure_local_write.py
    [--min-exp 14] [--max-exp 20] [--repeats 3]
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


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--min-exp", type=int, default=14)
    ap.add_argument("--max-exp", type=int, default=20)
    ap.add_argument("--repeats", type=int, default=3)
    args = ap.parse_args()

    from corintick_spark.session import get_spark
    from corintick_spark.storage import TickStore
    from perfbench import ticks

    spark = get_spark(app_name="corintick-spark-measure-local-write")
    spark.sparkContext.setLogLevel("ERROR")
    base = tempfile.mkdtemp(prefix="local_write_")
    local = TickStore._written_locally
    routes = {"local": local, "spark": lambda self, df: False}
    try:
        for k in range(args.min_exp, args.max_exp + 1):
            (batch,) = ticks.TickGen(k, 1, 1 << k, 0).batches()
            frame = spark.createDataFrame(batch.frame, ticks.SCHEMA)
            times: dict = {p: [] for p in routes}
            sizes: dict = {}
            for rep in range(args.repeats + 1):  # the first round warms up
                for path in routes if rep % 2 == 0 else list(routes)[::-1]:
                    TickStore._written_locally = routes[path]
                    root = os.path.join(base, f"{path}-{k}-{rep}")
                    store = TickStore(spark, root)
                    t0 = time.perf_counter()
                    store.write(frame)
                    if rep:
                        times[path].append(time.perf_counter() - t0)
                    entries = store._manifest()
                    sizes[path] = (
                        len(entries),
                        sum(os.path.getsize(os.path.join(root, e["path"])) for e in entries),
                    )
                    shutil.rmtree(root)
            TickStore._written_locally = local
            for path, ts in times.items():
                line = {
                    "rows": 1 << k,
                    "path": path,
                    "local_relation": local(TickStore(spark, base), frame),
                    "write_s": round(statistics.median(ts), 4),
                    "files": sizes[path][0],
                    "file_bytes": sizes[path][1],
                }
                print(json.dumps(line), flush=True)
    finally:
        TickStore._written_locally = local
        shutil.rmtree(base, ignore_errors=True)
        spark.stop()


if __name__ == "__main__":
    main()

"""Optimization profiler: for each named query, capture
explain("formatted") into plans/r12/<name>_<tag>.txt and time N noop-sink
passes (same methodology as bench.py: warm medians, per-query
setJobDescription labels, one checkpoint scope per pass). Prints one JSON line with per-query medians.

Usage:
    python scripts/profile_r12.py --names q1,q2 [--tag before]
        [--sf /root/testdata/sf0.1] [--cpus 32] [--passes 3] [--no-plans]
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--names", required=True)
    ap.add_argument("--tag", default="before")
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ap.add_argument("--cpus", default=str(os.cpu_count() or 8))
    ap.add_argument("--passes", type=int, default=3)
    ap.add_argument("--no-plans", action="store_true")
    args = ap.parse_args()
    names = [n.strip() for n in args.names.split(",") if n.strip()]

    from corintick_spark.session import get_spark

    spark = get_spark(
        app_name="corintick-spark-profile-r12",
        master=f"local[{args.cpus}]",
        shuffle_partitions=int(args.cpus),
    )
    spark.sparkContext.setLogLevel("ERROR")

    from corintick_spark.catalog import table
    from corintick_spark.operators.ckpt import scope
    from corintick_spark.registry import load_all

    registry = load_all()
    plans_dir = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "plans", "r12",
    )
    os.makedirs(plans_dir, exist_ok=True)

    # warm-up: scans + codegen, mirroring bench.py
    import pyspark.sql.functions as F

    for t in ("lineitem", "orders", "events", "documents", "embeddings"):
        table(spark, args.sf, t).write.format("noop").mode("overwrite").save()

    out: dict[str, float] = {}
    samples: dict[str, list[float]] = {}
    for name in names:
        q = registry[name]
        if not args.no_plans:
            with scope(spark):
                df = q.spark(spark, args.sf)
                plan = df._sc._jvm.PythonSQLUtils.explainString(
                    df._jdf.queryExecution(), "formatted"
                )
            with open(
                os.path.join(plans_dir, f"{name}_{args.tag}.txt"), "w"
            ) as fh:
                fh.write(plan)
        vals = []
        for i in range(args.passes):
            spark.sparkContext.setJobDescription(f"{name} pass {i}")
            with scope(spark):
                t0 = time.perf_counter()
                q.spark(spark, args.sf).write.format("noop").mode(
                    "overwrite"
                ).save()
                vals.append(time.perf_counter() - t0)
            spark.sparkContext.setJobDescription(None)
            gc.collect()  # same post-materialization hygiene as bench.py
        samples[name] = [round(v, 3) for v in vals]
        # warm median: drop the first pass when >1 pass ran
        timed = vals[1:] if len(vals) > 1 else vals
        out[name] = round(sorted(timed)[len(timed) // 2], 3)
    print(json.dumps({"tag": args.tag, "sf": args.sf, "medians": out,
                      "samples": samples}))


if __name__ == "__main__":
    main()

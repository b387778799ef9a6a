"""Driver simulation: run the 50-slot DRIVER_WINDOW (or any --names
subset / --all) under a VANILLA SparkSession against a chosen sf dir and
adjudicate each oracle-paired query against DuckDB with the identical
bar the external driver applies (tests/oracle.py: row count + schema
class + order-insensitive exact values). Rows-only queries are run and
their inv_ok column checked in every row.

Usage:
    python scripts/driver_sim.py [--sf /root/testdata/sf0.01]
        [--all | --names q1,q2,...] [--cpus 8]
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.01")
    ap.add_argument("--all", action="store_true")
    ap.add_argument("--names", default=None)
    ap.add_argument("--cpus", type=int, default=8)
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master(f"local[{args.cpus}]")
        .config("spark.sql.shuffle.partitions", str(args.cpus))
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    from corintick_spark.operators.ckpt import scope
    from corintick_spark.registry import DRIVER_WINDOW, load_all
    from tests.oracle import compare, duck_connection, run_duck

    queries = load_all()
    if args.names:
        names = [n.strip() for n in args.names.split(",") if n.strip()]
    elif args.all:
        names = list(queries)
    else:
        names = list(DRIVER_WINDOW)

    duck = duck_connection(args.sf)
    n_ok = n_bad = 0
    for name in names:
        q = queries[name]
        t0 = time.time()
        try:
            # toPandas materializes the query inside the scope, which then
            # frees its persisted blocks so a long sweep does not pile them up
            with scope(spark):
                pdf = q.spark(spark, args.sf).toPandas()
            if q.sql is None:
                problems = []
                if "inv_ok" not in pdf.columns:
                    problems.append("missing inv_ok")
                elif len(pdf) and not pdf["inv_ok"].fillna(False).all():
                    problems.append(
                        f"{int((~pdf['inv_ok'].fillna(False)).sum())} rows fail inv_ok"
                    )
                status = "ROWS-ONLY-OK" if not problems else "ROWS-ONLY-BAD"
            else:
                problems = compare(name, pdf, run_duck(duck, q.sql))
                status = "MATCH" if not problems else "MISMATCH"
        except Exception as e:  # noqa: BLE001 - report and continue
            problems, status = [f"{type(e).__name__}: {e}"], "ERROR"
            pdf = None
        dt = time.time() - t0
        gc.collect()  # lets the ContextCleaner reclaim shuffles/broadcasts
        ok = status in ("MATCH", "ROWS-ONLY-OK")
        n_ok += ok
        n_bad += not ok
        rows = len(pdf) if pdf is not None else -1
        print(
            f"{status:13s} {name:32s} rows={rows:<7d} {dt:6.1f}s"
            + ("  " + "; ".join(str(p)[:300] for p in problems) if problems else "")
        )
        sys.stdout.flush()
    print(json.dumps({"ok": n_ok, "bad": n_bad, "total": len(names)}))
    return 1 if n_bad else 0


if __name__ == "__main__":
    sys.exit(main())

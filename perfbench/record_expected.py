"""Regenerate ``expected_sf0.01.json``, the expected query results the
benchmark checks against.

    python3 perfbench/record_expected.py

Oracle-paired queries are recorded from DuckDB running the registry's
oracle SQL over ``perfbench/data/sf0.01`` (fingerprints at the oracle bar,
see checks.py). Rows-only queries have no oracle: they are run once through
Spark, every row must have ``inv_ok`` true, and the row count is recorded.
"""

from __future__ import annotations

import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

from perfbench import checks  # noqa: E402
from perfbench.workloads import ALL_QUERIES  # noqa: E402


def main() -> int:
    import duckdb

    from corintick_spark.catalog import TABLE_NAMES
    from corintick_spark.registry import load_all
    from corintick_spark.session import get_spark

    registry = load_all()
    con = duckdb.connect()
    for t in TABLE_NAMES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{checks.DATA_DIR}/{t}.parquet')"
        )
    spark = None
    expected = {}
    for name in ALL_QUERIES:
        sql = registry[name].sql
        if sql is not None:
            pdf = con.execute(sql).fetch_arrow_table().to_pandas()
            expected[name] = {"kind": "oracle", **checks.fingerprint(pdf)}
        else:
            spark = spark or get_spark(app_name="perfbench-record")
            pdf = registry[name].spark(spark, checks.DATA_DIR).toPandas()
            if "inv_ok" not in pdf.columns or not pdf["inv_ok"].fillna(False).astype(bool).all():
                raise SystemExit(f"{name}: inv_ok is not true in every row; nothing recorded")
            expected[name] = {"kind": "rows_only", "rows": len(pdf)}
        print(name, expected[name]["kind"], expected[name]["rows"], flush=True)
    with open(checks.EXPECTED_PATH, "w") as fh:
        json.dump(expected, fh, indent=1, sort_keys=True)
        fh.write("\n")
    if spark is not None:
        spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())

"""SparkSession factory with scale-oriented defaults.

Defaults chosen for the 100 TB design target (AQE on, skew-join handling,
zstd parquet, broadcast threshold sized for dimension tables) while remaining
correct on local[N]. All runtime-settable confs are also applied by
`catalog.configure` so queries behave the same under a driver-provided
session (the verify harness builds its own SparkSession).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

# Confs that can be applied to an already-running session (dynamic).
RUNTIME_CONFS: dict[str, str] = {
    # Determinism: interpret naive parquet timestamps as UTC wall-clock so
    # date_trunc/year/etc. match DuckDB's timezone-less timestamps.
    "spark.sql.session.timeZone": "UTC",
    # The events table stores TIMESTAMP(NANOS); Spark has no ns timestamp
    # type, so read it as a raw int64 and derive a µs timestamp in catalog.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Adaptive execution: runtime re-planning, partition coalescing, skew
    # join splitting — all essential at 100 TB.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Arrow for any pandas-interop path (pandas UDFs, toPandas).
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.parquet.compression.codec": "zstd",
    # Dimension tables (region/nation/supplier/part/customer) stay far under
    # this; broadcasting them removes shuffles from every star join.
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    # Spark 4.1's ChecksumCheckpointFileManager (on by default) leaks its
    # per-manager thread pools: measured ~150 live
    # "ChecksumCheckpointFileManager-Thread-N" threads left behind per
    # streaming run (768 after 6 runs), which in a long session starves the
    # JVM until Python worker spawn times out ("failed to connect back" —
    # killed two full bench runs at the 30th query, round 11). Checkpoint
    # checksums are an integrity feature, not a semantic one: disabling
    # them changes no query result, and every streaming query here runs
    # its checkpoint on local/tmpfs where fs-level corruption detection
    # buys nothing.
    "spark.sql.streaming.checkpoint.fileChecksum.enabled": "false",
    # Python worker spawn robustness (round 12): the JVM's accept() for a
    # freshly forked Python worker rides spark.python.authenticate.
    # socketTimeout (15s default). A saturated local machine (32 busy
    # cores + host-level stalls documented every round) can delay daemon
    # fork + CPython startup past it, killing whole bench runs with
    # "Python worker failed to connect back" at stream INITIALIZING —
    # observed twice in round 11 and again (twice consecutively, blowing
    # through the one-retry guard) in round 12's first baseline run. 120s
    # changes nothing semantically; a genuinely dead worker still fails,
    # just slower — and only on the already-broken path.
    "spark.python.authenticate.socketTimeout": "120s",
}


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))


def get_spark(
    app_name: str = "corintick-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cpus = default_parallelism()
    master = master or f"local[{cpus}]"
    builder = SparkSession.builder.appName(app_name).master(master)
    static = {
        # On a real cluster shuffle partitions should be ~2-3x total cores
        # (AQE coalesces down); locally cores is right.
        "spark.sql.shuffle.partitions": str(shuffle_partitions or cpus),
        "spark.default.parallelism": str(cpus),
        "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"),
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        # Session-lifetime stability (round 12, measured): the SQL status
        # listener retains the last 1000 executions' plan graphs + metric
        # state even with the UI off (StaticSQLConf — must be set at
        # session build; a driver-provided vanilla session keeps Spark's
        # default). Checkpoint-heavy iterative queries (pagerank, CC,
        # banding) emit many executions whose nested loop plans are MBs
        # each; across a 3-pass 54-query bench the live store grows until
        # every query pays listener/GC drag — measured +0.5-1s per pass on
        # graph_pagerank (10.9s -> 19.3s by pass 8), flat (11.2s median,
        # no drift) with retention bounded. 50 keeps a diagnosis window;
        # no query result or plan is affected.
        "spark.sql.ui.retainedExecutions": "50",
        "spark.sql.files.maxPartitionBytes": str(128 * 1024 * 1024),
    }
    for k, v in {**static, **RUNTIME_CONFS, **(extra_conf or {})}.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def local_relation(spark: SparkSession, schema: StructType, columns: list) -> DataFrame:
    """A local relation of ``columns`` (one Arrow array or Python list per
    field of ``schema``), built from an Arrow table and cast to ``schema``.
    Reading it with ``collect()`` runs no Spark job and starts no Python
    worker, unlike ``createDataFrame`` of a list of rows, whose plan is a
    ``LogicalRDD`` over a Python RDD. pyarrow is imported here, not at
    module load, to keep it off session setup."""
    import pyarrow as pa

    return spark.createDataFrame(pa.table(columns, names=schema.fieldNames()), schema)

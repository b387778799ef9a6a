"""TickStore — reference-parity storage layer (SURVEY.md §2.1, M1).

corintick's API surface (all †, per SURVEY.md §0 convention):

- ``Corintick.write(uid, df, **metadata)`` — chunk + serialize + insert_many
  (api.py::Corintick.write, serialization.py::make_bson_doc)
- ``Corintick.read(uid, start, end, columns)`` — index seek + projection +
  concat + trim (api.py::Corintick.read, serialization.py::build_dataframe)
- ``Corintick.list_uids()`` — server-side $group (api.py::Corintick.list_uids)

Spark-first re-expression: one partitioned Parquet dataset per "collection".
Chunking, per-column compression, and min/max chunk stats are Parquet-native
(row groups + zstd + stats); the (uid, start, end) chunk index becomes the
store's manifest (below) over Hive partitions on ``uid``.

Scale design: data is written ``partitionBy(uid)``, one file per partition
directory per write, each file sorted by the partition columns then ``ts``,
with ``ts`` as ``TIMESTAMP_MICROS`` so every footer carries its min/max:
(a) a single-uid range read opens only that uid's files whose ts bounds
overlap the range, and Spark skips row groups inside them on the same
statistics, and (b) full scans stream in time order per uid without a sort.
A write takes one of two routes to the same files. Like corintick's client,
an append of a frame Spark already holds on the driver (its optimized plan
is a ``LocalRelation``, as ``createDataFrame`` of a pandas frame builds)
to the plain uid layout is fetched once with ``toArrow()`` and written by
pyarrow, one file per ``uid=`` directory with Spark's footer keys: no
shuffle and no Spark write job. Every other write (any other plan, the
bucketed and dated layouts, an overwrite, maintenance rewrites, streaming
micro-batches) is a Spark write; its cost is per file, so it shuffles into
``spark.sql.shuffle.partitions`` tasks (a fixed count AQE does not coalesce
into one task) and those write the files in parallel. For very high uid
cardinality (100 TB, millions of uids) use ``bucket_uids=N`` to hash uids
into N directories instead of one-dir-per-uid (avoids small-file explosion
while keeping pruning ~N-fold effective).

Chunk index: every mutation commits ``_manifest.json`` with one atomic
replace. It holds one entry per data file: its root-relative path, its uid
(typed by the sidecar, from the plain layout's escaped ``uid=`` directory;
bucketed files record none), its row count, and its ``ts`` min and max as
epoch micros, read with pyarrow from the footers of the files the mutation
added (such an entry is marked ``footer``). ``read`` opens only the files
the manifest selects and ``list_uids`` aggregates the entries without
opening a file. Like corintick's client-side read, a small point read
(selected files of at most ``_LOCAL_ROWS`` rows, all with footer bounds, on
the plain uid layout) is one pyarrow scan on the driver returned as a local
relation; larger selections, the other layouts and files whose bounds did
not come from their own footer stay a Spark scan. A store without a manifest
(written before it existed, or by a plain ``partitionBy`` write) gets one on
first use; files whose footers carry no ``ts`` statistics (INT96) get exact
bounds once, from one Spark aggregation over only those files, and
``compact`` rewrites them as micros. Every committed write into ``data/``
replaces ``data/_SUCCESS`` (a Spark job commit does, and so does the
driver-local write once its files are in place); a manifest records that
marker, so a write whose files landed but whose manifest commit never ran
(a crash between the two, or a write from outside TickStore) is adopted by
the next open. A Spark job that fails aborts its task output, and a
driver-local write that fails removes its staged files, so neither reaches
``data/``; a rewrite that crashes leaves its files in ``data.<tag>_tmp``,
which no read lists.

Schema of record: every writer (``write``, ``upsert``, ``append_stream``)
records the written columns and types in a ``_schema.json`` sidecar before
its files land. Partition-directory values lose their type (Spark would
re-infer ``uid="007"`` as the integer 7), so reads take the schema from the
sidecar instead of inferring it from the files; appends may add columns or
widen a type the parquet reader widens (int -> bigint, int -> double,
float -> double), and any other type change is refused. ``merge_schema``
only matters for stores written without a sidecar.
"""

from __future__ import annotations

import json
import os
import shutil
import uuid
from dataclasses import dataclass
from datetime import datetime
from functools import cached_property
from urllib.parse import unquote, urlparse

from py4j.protocol import Py4JError
from pyspark.sql import DataFrame, SparkSession
import pyspark.sql.functions as F
from pyspark.sql.types import (
    BinaryType,
    BooleanType,
    ByteType,
    DateType,
    DoubleType,
    FloatType,
    IntegerType,
    LongType,
    ShortType,
    StringType,
    StructField,
    StructType,
    TimestampNTZType,
    TimestampType,
)

from corintick_spark.session import local_relation

# (narrow, wide) type pairs Spark's parquet reader widens on read: a column
# may change between them across appends, and the sidecar keeps the wide one.
_READER_WIDENS = {
    (IntegerType, LongType),
    (IntegerType, DoubleType),
    (FloatType, DoubleType),
}


def _evolve_schema(prior: StructType, new: StructType) -> StructType:
    """``prior``'s columns in order, each widened where ``new`` carries a
    type the reader widens to, then ``new``'s added columns. Raises
    ValueError on any other type change (nullability is not a change: the
    reader returns every column nullable)."""
    incoming = {f.name: f for f in new.fields}
    fields = []
    for old in prior.fields:
        f = incoming.pop(old.name, old)
        a, b = old.dataType, f.dataType
        if a.simpleString() == b.simpleString() or (type(b), type(a)) in _READER_WIDENS:
            fields.append(old)
        elif (type(a), type(b)) in _READER_WIDENS:
            fields.append(f)
        else:
            raise ValueError(
                f"column {old.name!r} is recorded as {a.simpleString()}; a write "
                f"of {b.simpleString()} is not a widening the parquet reader applies"
            )
    return StructType(fields + list(incoming.values()))


# The most rows a read's selected files may hold for the read to be served
# by one pyarrow scan on the driver (TickStore._read_local); a larger
# selection keeps the Spark scan. Set from scripts/measure_local_read.py on
# 4 cores (local[4]): the local read saves the scan's ~0.1 s of planning but
# pays ~4-8 us per returned row to turn the Arrow table into a local
# relation and back. toPandas() of a whole uid was faster on it up to 2^13
# rows and slower from 2^14, for rows of the tick schema, of 34 doubles and
# of one double; an aggregate kept in Spark crossed between 2^12 and 2^13.
# The cost follows rows, not bytes.
_LOCAL_ROWS = 1 << 13


# Parquet codecs TickStore._write_local writes, by the session's
# spark.sql.parquet.compression.codec: pyarrow's name for it and the
# extension Spark gives its files. Spark's zstd level is parquet-mr's
# default, 3. Any other codec keeps the Spark write.
_LOCAL_CODECS = {
    "none": ("none", ""),
    "uncompressed": ("none", ""),
    "snappy": ("snappy", ".snappy"),
    "gzip": ("gzip", ".gz"),
    "zstd": ("zstd", ".zstd"),
}

# Column types TickStore._write_local writes as the Spark write does (the
# same parquet physical and logical type); a frame with any other column
# keeps the Spark write.
_LOCAL_TYPES = (
    BooleanType,
    ByteType,
    ShortType,
    IntegerType,
    LongType,
    FloatType,
    DoubleType,
    StringType,
    BinaryType,
    DateType,
    TimestampType,
    TimestampNTZType,
)


def _hidden(name: str) -> bool:
    """Names Spark's file index skips: a leading ``.``, or a leading ``_``
    that is not a partition directory such as ``_date=...``."""
    return name.startswith(".") or (name.startswith("_") and "=" not in name)


# The characters Spark escapes as %XX in a partition directory name
# (ExternalCatalogUtils.escapePathName, on a host that is not Windows).
_PATH_ESCAPED = frozenset(map(chr, range(1, 32))) | frozenset('"#%\'*/:=?\\\x7f{[]^')


def _partition_dir(col: str, value) -> str:
    """``col=value`` as Spark names a partition directory: Spark's null
    partition ``__HIVE_DEFAULT_PARTITION__`` for a null or empty value, and
    each character Spark escapes written as ``%XX``."""

    def escape(text: str) -> str:
        return "".join(f"%{ord(c):02X}" if c in _PATH_ESCAPED else c for c in text)

    text = "" if value is None else str(value)
    return f"{escape(col)}={escape(text) if text else '__HIVE_DEFAULT_PARTITION__'}"


def _path_uid(path: str, kind):
    """The uid of a plain-layout file, from its escaped ``uid=`` directory:
    None for Spark's null partition, int for an integral uid, else the
    unescaped text."""
    value = path.split(os.sep)[1].partition("=")[2]
    if value == "__HIVE_DEFAULT_PARTITION__":
        return None
    value = unquote(value)
    return int(value) if kind is int else value


def _overlaps(entry: dict, lo: int | None, hi: int | None) -> bool:
    """Whether a manifest entry may hold a ``ts`` in ``[lo, hi]`` (epoch
    micros, None for an open side). An entry without recorded bounds is
    kept; one whose ``ts`` is all NULL matches no bounded range."""
    if (lo is None and hi is None) or "lo" not in entry:
        return True
    if entry["lo"] is None:
        return False
    return (lo is None or entry["hi"] >= lo) and (hi is None or entry["lo"] <= hi)


def _extent(a, b, pick):
    return b if a is None else a if b is None else pick(a, b)


@dataclass
class TickStore:
    """A uid-keyed time-series dataset over partitioned Parquet."""

    spark: SparkSession
    root: str
    uid_col: str = "uid"
    ts_col: str = "ts"
    bucket_uids: int | None = None  # hash uids into N dirs (high-cardinality)
    partition_by_date: bool = False  # add a ts-derived date partition level

    # -- write path: api.py::Corintick.write † ------------------------------
    def write(
        self,
        df: DataFrame,
        mode: str = "append",
        check_overlap: bool = False,
        **metadata: str,
    ) -> None:
        """Append a frame. Mirrors corintick write: validates ts presence,
        optionally detects overlap with existing data for the same uids
        (api.py::Corintick.write † overlap warning), partitions by uid.
        An append that :meth:`_written_locally` accepts (rows already on
        the driver, plain uid layout) is written by :meth:`_write_local`
        with pyarrow; any other write is the Spark write of
        :meth:`_write_files`. Both leave the same files and manifest.
        """
        if self.uid_col not in df.columns or self.ts_col not in df.columns:
            raise ValueError(f"frame must have {self.uid_col!r} and {self.ts_col!r}")
        if check_overlap and self._exists():
            # bounded action: only up to 10 example uids ever reach the driver
            sample = self.overlap_conflicts(df).select(self.uid_col).limit(10).collect()
            if sample:
                raise ValueError(
                    f"write overlaps existing data for uids: {[r[0] for r in sample]}"
                )
        self._record_schema(df.schema, replace=mode == "overwrite")
        if mode == "append" and self._written_locally(df):
            self._write_local(df)
        else:
            self._write_files(df, self._data_dir(), mode)
        self._commit_manifest()
        if metadata:
            self.put_metadata(metadata)
            self._log_write_metadata(df, metadata)

    def _write_files(
        self, df: DataFrame, path: str, mode: str, zorder_by: list[str] | None = None
    ) -> None:
        """Write ``df`` under ``path`` in the store's layout — every TickStore
        file write goes through here. The shuffle has a fixed
        ``spark.sql.shuffle.partitions`` count, which AQE does not coalesce,
        so a write's files (its cost is per file) come from that many tasks
        rather than one; each partition directory still hashes to one task,
        so one file per directory. A string partition column is written as
        ``nullif(col, '')``: NULL and ``""`` both name Spark's
        ``__HIVE_DEFAULT_PARTITION__`` and read back as NULL, so they hash to
        one task and sort together by ``ts``. Rows are sorted by the
        partition columns, then ``ts`` (or the Morton key of ``zorder_by``):
        that meets the planned write's required ordering, so Spark adds no
        sort of its own and the time order reaches the files.

        Timestamps are written as ``TIMESTAMP_MICROS``, whose footers carry
        min/max (INT96, Spark's default, carries none). A write option does
        not reach the parquet writer, so the session conf is set around the
        write and restored after it — on the frame's own session, which for
        a streaming micro-batch is the stream's, not the store's."""
        out, part_cols = self._partitioned(df)
        n = int(self.spark.conf.get("spark.sql.shuffle.partitions"))
        types = dict(out.dtypes)
        for c in part_cols:
            if types[c] == "string":
                out = out.withColumn(c, F.nullif(F.col(c), F.lit("")))
        out = out.repartition(n, *part_cols)
        if zorder_by:
            from corintick_spark.operators.zorder import with_zvalue

            out = (
                with_zvalue(out, zorder_by)
                .sortWithinPartitions(*part_cols, "_zvalue")
                .drop("_zvalue")
            )
        else:
            out = out.sortWithinPartitions(*part_cols, self.ts_col)
        conf = out.sparkSession.conf
        key = "spark.sql.parquet.outputTimestampType"
        prior = conf.get(key, None)
        conf.set(key, "TIMESTAMP_MICROS")
        try:
            out.write.mode(mode).partitionBy(*part_cols).parquet(path)
        finally:
            if prior is None:
                conf.unset(key)
            else:
                conf.set(key, prior)

    def _written_locally(self, df: DataFrame) -> bool:
        """Whether an append of ``df`` is written by :meth:`_write_local`:
        Spark already holds its rows on the driver (its optimized plan is a
        ``LocalRelation``, as ``createDataFrame`` of a pandas frame under
        ``spark.sql.execution.arrow.localRelationThreshold`` builds), the
        layout is the plain uid one with a string or integral uid and a
        timestamp ``ts``, every column has a flat type in
        ``_LOCAL_TYPES``, and the session writes parquet with a codec in
        ``_LOCAL_CODECS`` and without the legacy calendar rebase."""
        schema = df.schema
        conf = df.sparkSession.conf
        return (
            not self.partition_by_date
            and self._uid_kind(schema) is not None
            and self._timed(schema)
            and all(isinstance(f.dataType, _LOCAL_TYPES) for f in schema.fields)
            and conf.get("spark.sql.parquet.compression.codec").lower() in _LOCAL_CODECS
            and conf.get("spark.sql.parquet.datetimeRebaseModeInWrite").upper() == "CORRECTED"
            and df._jdf.queryExecution().optimizedPlan().getClass().getSimpleName()
            == "LocalRelation"
        )

    def _write_local(self, df: DataFrame) -> None:
        """Append a driver-held frame to the plain layout with pyarrow: no
        shuffle and no Spark write job. The rows are fetched once with
        ``toArrow()`` and sorted by uid directory, then ``ts`` (nulls
        first, as Spark sorts); each directory's rows become one file
        named like a Spark part file of a fresh job id, in the escaped
        ``uid=`` directory Spark would use (a null or empty uid goes to
        ``__HIVE_DEFAULT_PARTITION__``), with ``ts`` as
        ``TIMESTAMP_MICROS``, the session's codec and Spark's footer keys,
        so that readers, rebase modes and schema inference treat it as a
        Spark-written file. Files are written into a hidden staging
        directory and renamed into place only once all of them are written;
        a failure removes what the write made. ``data/_SUCCESS`` is replaced
        last, as a Spark job commit replaces it, so a crash before the
        manifest commit is adopted by the next open."""
        import pyarrow as pa
        import pyarrow.compute as pc
        import pyarrow.parquet as pq

        spark = df.sparkSession
        codec, ext = _LOCAL_CODECS[spark.conf.get("spark.sql.parquet.compression.codec").lower()]
        data = StructType([f for f in df.schema.fields if f.name != self.uid_col])
        # pyarrow writes these beside its own ARROW:schema key, which repeats
        # them (~1 KB a file for the tick schema): this pyarrow writes no
        # key-value metadata without it
        footer = {
            "org.apache.spark.version": spark.version,
            # the JSON Spark writes: its key order, no spaces
            "org.apache.spark.sql.parquet.row.metadata": json.dumps(
                data.jsonValue(), separators=(",", ":")
            ),
        }
        table = df.toArrow()
        uid = table.column(self.uid_col).combine_chunks()
        if pa.types.is_string(uid.type):
            # Spark writes an empty partition value as the null partition
            uid = pc.if_else(pc.equal(uid, ""), pa.scalar(None, uid.type), uid)
        order = pc.sort_indices(
            pa.table({"u": uid, "t": table.column(self.ts_col)}),
            [("u", "ascending"), ("t", "ascending")],
            null_placement="at_start",
        )
        runs = pc.run_end_encode(uid.take(order))
        rows = table.select(data.fieldNames()).take(order).replace_schema_metadata(footer)
        # parquet-mr drops a column's dictionary once it stops paying, which
        # for tick numerics is at once; pyarrow keeps it (files ~25% larger)
        dictionary = [
            f.name for f in data.fields if isinstance(f.dataType, (StringType, BinaryType))
        ]
        data_dir = self._data_dir()
        job = uuid.uuid4()
        stage = os.path.join(data_dir, f"_temporary-{job}")
        os.makedirs(stage)
        ends = runs.run_ends.to_pylist()
        staged, placed = [], []
        try:
            for k, (value, start, end) in enumerate(
                zip(runs.values.to_pylist(), [0, *ends], ends)
            ):
                name = f"part-{k:05d}-{job}.c000{ext}.parquet"
                pq.write_table(
                    rows.slice(start, end - start),
                    os.path.join(stage, name),
                    compression=codec,
                    compression_level=3 if codec == "zstd" else None,
                    use_dictionary=dictionary,
                )
                staged.append((name, self._uid_dir(value)))
            for name, part in staged:
                os.makedirs(part, exist_ok=True)
                os.rename(os.path.join(stage, name), os.path.join(part, name))
                placed.append(os.path.join(part, name))
        except BaseException:
            for path in placed:
                os.remove(path)
            raise
        finally:
            shutil.rmtree(stage)
        marker = os.path.join(data_dir, f"._SUCCESS.{job}")
        open(marker, "w").close()
        os.replace(marker, os.path.join(data_dir, "_SUCCESS"))

    def _partitioned(self, df: DataFrame) -> tuple[DataFrame, list[str]]:
        """Apply the store's configured partition layout (plain uid, hashed
        uid buckets, optional date sub-partition) to an outgoing frame —
        applied by _write_files() to every writer, so maintenance can never
        silently rewrite a store into a different layout."""
        part_col = self.uid_col
        out = df
        if self.bucket_uids:
            part_col = "uid_bucket"
            out = out.withColumn(
                part_col, F.pmod(F.xxhash64(F.col(self.uid_col)), F.lit(self.bucket_uids))
            )
        part_cols = [part_col]
        if self.partition_by_date:
            # date sub-partition: a 100 TB time series prunes range reads to
            # the touched days BEFORE any file is opened (the second key of
            # the reference's (uid,start,end) index †)
            out = out.withColumn("_date", F.col(self.ts_col).cast("date"))
            part_cols.append("_date")
        return out, part_cols

    # -- read path: api.py::Corintick.read † --------------------------------
    def read(
        self,
        uids: list | None = None,
        start: str | datetime | None = None,
        end: str | datetime | None = None,
        columns: list[str] | None = None,
        merge_schema: bool = False,
    ) -> DataFrame:
        """read(uid, start, end, columns): the manifest's file selection on
        uid and ts bounds, pushed ts range filter (row-group stats skip
        inside the opened files), column pruning — each the Catalyst
        analogue of the reference's index seek, interval filter, and Mongo
        projection (api.py::Corintick.read †). Range semantics inclusive of
        both ends, like DataFrame.loc[start:end].

        The ``_schema.json`` sidecar is the schema of record: every column
        any write recorded comes back with its recorded type (columns absent
        from older appends read as NULL), with no footer read. A read with
        uids or bounds opens only the files the manifest selects (see
        :meth:`_select`), so a point read plans without a Spark job; when no
        file is selected the result is an empty frame with the same columns.
        A selection of at most ``_LOCAL_ROWS`` rows that
        :meth:`_served_locally` accepts is read on the driver with pyarrow
        into a local relation (:meth:`_read_local`), which collects without
        a Spark job; any other is a Spark scan of the selected files. A read
        with neither uids nor bounds lists the data directory.

        ``merge_schema=True`` applies only to stores without a sidecar: it
        unions the schemas of every data file instead of inferring from one
        — corintick allowed different chunks of one uid to carry different
        column sets (SURVEY §1.1 †). It stays off by default because it
        reads a footer per file.
        """
        uids = None if uids is None else list(uids)
        schema = self._schema()
        data_dir = self._data_dir()
        if schema is None:
            reader = self.spark.read
            if merge_schema:
                reader = reader.option("mergeSchema", "true")
            df = reader.parquet(data_dir)
        else:
            picked = self._select(schema, uids, start, end)
            if picked is None:
                df = self.spark.read.schema(schema).parquet(data_dir)
            elif not picked[0]:
                # limit(0) lets the optimizer see the frame is empty, so a
                # collect runs no job either
                df = self.spark.createDataFrame([], self._scan_schema(schema)).limit(0)
            elif self._served_locally(schema, *picked, columns):
                return self._read_local(schema, *picked, columns)
            else:
                df = (
                    self.spark.read.schema(schema)
                    .option("basePath", data_dir)
                    .parquet(*self._scan_paths(picked[0]))
                )
        if self.bucket_uids and "uid_bucket" in df.columns and uids is not None:
            # Bucket-level partition pruning: hash the requested uids with
            # the same (dtype-faithful) function the write path used, so a
            # k-uid read opens at most k bucket directories — the analogue
            # of the reference's B-tree point seek.
            df = df.filter(F.col("uid_bucket").isin(self._buckets_for(uids)))
        if self.bucket_uids and "uid_bucket" in df.columns:
            df = df.drop("uid_bucket")
        if self.partition_by_date and "_date" in df.columns:
            # partition-prune on the date level before the row-level ts filter
            if start is not None:
                df = df.filter(F.col("_date") >= F.lit(start).cast("date"))
            if end is not None:
                df = df.filter(F.col("_date") <= F.lit(end).cast("date"))
            df = df.drop("_date")
        if uids is not None:
            df = df.filter(F.col(self.uid_col).isin(uids))
        if start is not None:
            df = df.filter(F.col(self.ts_col) >= F.lit(start).cast("timestamp"))
        if end is not None:
            df = df.filter(F.col(self.ts_col) <= F.lit(end).cast("timestamp"))
        if columns is not None:
            df = df.select(*self._projected(columns))
        return df

    # -- streaming ingestion (north_star: live tick ingestion via Spark) ----
    def append_stream(
        self,
        stream_df: DataFrame,
        checkpoint_dir: str,
        trigger_available_now: bool = False,
        merge: bool = False,
    ):
        """Continuously append a streaming frame into the store layout
        (same partitioning as batch writes; readers see files as micro-
        batches commit). Returns the StreamingQuery; caller manages its
        lifecycle. Overlap checking is a batch-maintenance concern — run
        `overlapping_uids` on compaction, not per micro-batch.

        ``merge=True`` routes each micro-batch through :meth:`upsert`
        instead of a blind append — the streaming CDC-ingestion shape
        (late corrections replace earlier rows for the same (uid, ts)).
        foreachBatch makes this exactly-once-ish the standard way: the
        upsert is idempotent per key, so a replayed batch converges."""
        if self.bucket_uids or self.partition_by_date:
            raise NotImplementedError(
                "streaming append currently supports the plain uid layout"
            )
        # foreachBatch + the normal batch writer, NOT the parquet streaming
        # sink: the file sink's _spark_metadata log would make batch reads
        # of the directory ignore every non-streaming-written file (so a
        # store seeded by batch writes would silently lose them).
        def _write_batch(batch_df: DataFrame, _batch_id: int) -> None:
            if merge:
                self.upsert(batch_df)
                return
            self._record_schema(batch_df.schema)
            self._write_files(batch_df, self._data_dir(), "append")
            self._commit_manifest()

        writer = (
            stream_df.writeStream.foreachBatch(_write_batch)
            .option("checkpointLocation", checkpoint_dir)
            .outputMode("append")
        )
        if trigger_available_now:
            writer = writer.trigger(availableNow=True)
        return writer.start()

    def stream(self) -> DataFrame:
        """The store as a streaming source: new files appended by writers
        (batch or streaming) arrive as micro-batches — the live read side
        of the tick store."""
        batch = self.read()
        return self.spark.readStream.schema(batch.schema).parquet(self._data_dir())

    # -- catalog: api.py::Corintick.list_uids † -----------------------------
    def list_uids(self) -> DataFrame:
        """Per-uid doc-count/first/last — corintick's $group over chunk
        metadata. On the plain and date layouts it sums the manifest's
        per-file rows and takes its ts bounds per uid, on the driver, into
        a local relation: no file is opened, and collecting it runs no
        Spark job. Bucketed stores, whose files mix uids, and stores the
        manifest cannot type (no sidecar, a ts that is not a timestamp, a
        uid neither string nor integral) run the $group over the ticks."""
        schema = self._schema()
        kind = self._uid_kind(schema)
        if not (kind and self._timed(schema)):
            return self.read().groupBy(self.uid_col).agg(
                F.count("*").alias("n_rows"),
                F.min(self.ts_col).alias("start"),
                F.max(self.ts_col).alias("end"),
            )
        import pyarrow as pa

        per_uid: dict = {}
        for e in self._manifest():
            if e["rows"]:
                n, lo, hi = per_uid.get(e["uid"], (0, None, None))
                per_uid[e["uid"]] = (
                    n + e["rows"], _extent(lo, e["lo"], min), _extent(hi, e["hi"], max)
                )
        ts = pa.timestamp("us", tz="UTC")
        cols = list(zip(*[(u, *v) for u, v in per_uid.items()])) or [()] * 4
        table = pa.table(
            [
                pa.array(cols[0], pa.string() if kind is str else pa.int64()),
                pa.array(cols[1], pa.int64()),
                pa.array(cols[2], ts),
                pa.array(cols[3], ts),
            ],
            names=[self.uid_col, "n_rows", "start", "end"],
        )
        return self.spark.createDataFrame(
            table,
            StructType([
                StructField(self.uid_col, schema[self.uid_col].dataType),
                StructField("n_rows", LongType(), False),
                StructField("start", TimestampType()),
                StructField("end", TimestampType()),
            ]),
        )

    # -- overlap detection: api.py::Corintick.write † validation ------------
    def overlap_conflicts(self, new_df: DataFrame) -> DataFrame:
        """Composable overlap guard: one row per uid whose incoming
        [min ts, max ts] extent overlaps stored data, with both extents
        attached (uid, new_start, new_end, old_start, old_end). Pure plan —
        no driver collect — so a pipeline can anti-join its incoming frame
        against this, route conflicts to a quarantine sink, or count them,
        all inside one distributed job (T-A13)."""
        existing = self.list_uids()
        incoming = new_df.groupBy(self.uid_col).agg(
            F.min(self.ts_col).alias("new_start"), F.max(self.ts_col).alias("new_end")
        )
        return (
            incoming.join(
                existing,
                (incoming[self.uid_col] == existing[self.uid_col])
                & (existing["start"] <= incoming["new_end"])
                & (existing["end"] >= incoming["new_start"]),
            )
            .select(
                incoming[self.uid_col],
                "new_start",
                "new_end",
                F.col("start").alias("old_start"),
                F.col("end").alias("old_end"),
            )
        )

    def overlapping_uids(self, new_df: DataFrame) -> list:
        """Uids whose new [min ts, max ts] interval overlaps stored data —
        driver-side convenience over :meth:`overlap_conflicts`. Catalog-
        scale by construction (one row per overlapping uid)."""
        return [
            r[0] for r in self.overlap_conflicts(new_df).select(self.uid_col).collect()
        ]

    # -- metadata: api.py::Corintick.write † **metadata kwargs --------------
    def put_metadata(self, kv: dict) -> None:
        pdf = self.spark.createDataFrame(
            [(str(k), str(v)) for k, v in kv.items()], "key string, value string"
        )
        pdf.write.mode("append").parquet(self._meta_dir())

    def get_metadata(self) -> dict:
        if not os.path.isdir(self._meta_dir()):
            return {}
        rows = self.spark.read.parquet(self._meta_dir()).collect()
        return {r["key"]: r["value"] for r in rows}

    def _log_write_metadata(self, df: DataFrame, metadata: dict) -> None:
        """Record this write's metadata per uid it touched — corintick
        attached the **metadata dict to every chunk document of the write
        (api.py::Corintick.write †), so metadata is addressable by uid, not
        just store-wide. The uid set of a metadata-carrying write is small
        by construction (one collect of distinct uids)."""
        uids = [r[0] for r in df.select(self.uid_col).distinct().collect()]
        next_id = 0
        if os.path.isdir(self._writes_dir()):
            prev = (
                self.spark.read.parquet(self._writes_dir())
                .agg(F.max("write_id"))
                .collect()[0][0]
            )
            next_id = (prev if prev is not None else -1) + 1
        rows = [
            (next_id, str(u), str(k), str(v))
            for u in uids
            for k, v in metadata.items()
        ]
        self.spark.createDataFrame(
            rows, "write_id long, uid string, key string, value string"
        ).write.mode("append").parquet(self._writes_dir())

    def metadata_for(self, uid) -> dict:
        """Merged metadata of every write that included ``uid`` (later
        writes win per key) — the per-document metadata view of the
        reference, T-A14."""
        if not os.path.isdir(self._writes_dir()):
            return {}
        rows = (
            self.spark.read.parquet(self._writes_dir())
            .filter(F.col("uid") == str(uid))
            .orderBy("write_id")
            .collect()
        )
        out: dict = {}
        for r in rows:
            out[r["key"]] = r["value"]
        return out

    # -- maintenance ---------------------------------------------------------
    def compact(self, zorder_by: list[str] | None = None) -> int:
        """Rewrite the dataset into one time-sorted file chain per uid
        partition — the maintenance pass that follows streaming ingestion
        (each micro-batch appends a small file per touched uid; corintick
        had the same fragmentation with per-write chunk documents †).

        ``zorder_by=[colA, colB]`` clusters rows inside each partition on
        the Morton key of the given columns instead of plain time order
        (operators/zorder.py) — narrows per-file min-max stats on EVERY
        listed dimension, so scans filtered by secondary columns also
        prune files. Use when queries filter on more than the time axis.

        Returns the number of data files after compaction.
        """
        # merge_schema: heterogeneous appends must not lose columns in the
        # rewrite (the writer keeps the store's configured layout)
        return len(self._swap_in(self.read(merge_schema=True), "compact", zorder_by))

    def upsert(self, df: DataFrame, keys: list[str] | None = None) -> None:
        """MERGE semantics on the store: rows of ``df`` REPLACE existing
        rows with the same key (default key: (uid, ts)); everything else
        appends. Implemented as the read-side cdc_merge compaction turned
        into a write: union old + new with a batch-priority flag, keep the
        newest row per key (new batch wins ties), rewrite-and-swap (the
        compact() pattern). On a table format (Iceberg/Delta) this is the
        engine-level MERGE INTO; on plain parquet the rewrite is the
        correct — if heavier — equivalent, and the per-uid layout bounds
        the rewrite to touched partitions on a real cluster.
        """
        if self.uid_col not in df.columns or self.ts_col not in df.columns:
            raise ValueError(f"frame must have {self.uid_col!r} and {self.ts_col!r}")
        keys = keys or [self.uid_col, self.ts_col]
        if not self._exists():
            self.write(df, mode="overwrite")
            return
        from pyspark.sql import Window as W

        self._record_schema(df.schema)

        old = self.read(merge_schema=True).withColumn("_prio", F.lit(0))
        new = df.withColumn("_prio", F.lit(1))
        for c in old.columns:
            if c not in new.columns:
                new = new.withColumn(c, F.lit(None).cast(dict(old.dtypes)[c]))
        for c in new.columns:
            if c not in old.columns:
                old = old.withColumn(c, F.lit(None).cast(dict(new.dtypes)[c]))
        merged = (
            old.unionByName(new)
            .withColumn(
                "_rn",
                F.row_number().over(
                    W.partitionBy(*keys).orderBy(F.desc("_prio"))
                ),
            )
            .filter(F.col("_rn") == 1)
            .drop("_prio", "_rn")
        )
        self._swap_in(merged, "upsert")

    def delete_uid(self, uid) -> bool:
        """Drop one uid's data. With plain uid partitioning this is a pure
        directory removal (metadata-operation shape, like vacuum's date
        path); bucketed layouts share directories between uids, so there
        it falls back to a layout-preserving filtered rewrite (compact()
        swap pattern). Returns True if anything was deleted."""
        if not self._exists():
            return False
        if not self.bucket_uids:
            # one uid == one partition directory (possibly with date
            # sub-partitions inside) — removal is a file operation
            part = self._uid_dir(uid)
            if not os.path.exists(part):
                return False
            shutil.rmtree(part)
            self._commit_manifest()
            return True
        existing = self.read(merge_schema=True)
        if existing.filter(F.col(self.uid_col) == F.lit(uid)).limit(1).count() == 0:
            return False
        self._swap_in(existing.filter(F.col(self.uid_col) != F.lit(uid)), "delete")
        return True

    def vacuum(self, before) -> int:
        """Retention pass: drop all rows with ``ts`` date earlier than
        ``before`` (a date / 'YYYY-MM-DD' string). Two execution paths:

        - **date-partitioned store** (``partition_by_date=True``): expired
          data is whole ``_date=...`` directories — removed with pure file
          operations, NO data rewrite. This is the 100 TB path: retention
          on a properly partitioned store is a metadata operation (the
          same shape as dropping table-format partitions).
        - otherwise: filter-and-rewrite via the compact() swap pattern —
          correct everywhere, but rewrites the surviving data; the
          docstring contract tells users to date-partition stores that
          need retention.

        Returns the number of partition directories (date path) or files
        (rewrite path) removed.
        """
        from datetime import date as _date

        cutoff = before if isinstance(before, _date) else _date.fromisoformat(str(before))
        data_dir = self._data_dir()
        if self.partition_by_date:
            removed = 0
            for root, dirs, _ in os.walk(data_dir):
                for d in list(dirs):
                    if not d.startswith("_date="):
                        continue
                    try:
                        part_date = _date.fromisoformat(d.split("=", 1)[1])
                    except ValueError:
                        continue
                    if part_date < cutoff:
                        shutil.rmtree(os.path.join(root, d))
                        removed += 1
            self._commit_manifest()
            return removed
        before_files = len(self._data_files())
        kept = self._swap_in(
            self.read(merge_schema=True).filter(
                F.col(self.ts_col).cast("date") >= F.lit(cutoff.isoformat()).cast("date")
            ),
            "vacuum",
        )
        return max(0, before_files - len(kept))

    # -- helpers -------------------------------------------------------------
    def _swap_in(
        self, df: DataFrame, tag: str, zorder_by: list[str] | None = None
    ) -> list[dict]:
        """Replace the store's data with ``df``: write it to the sibling
        ``data.<tag>_tmp``, rename ``data`` to ``data.<tag>_old`` and the new
        files into place, remove the old ones and commit the manifest,
        whose entries it returns. Local-FS renames; on a real cluster the
        same pattern runs through the Hadoop FileSystem API (or table-format
        compaction)."""
        data_dir = self._data_dir()
        tmp_dir, old_dir = f"{data_dir}.{tag}_tmp", f"{data_dir}.{tag}_old"
        self._write_files(df, tmp_dir, "overwrite", zorder_by)
        os.rename(data_dir, old_dir)
        os.rename(tmp_dir, data_dir)
        shutil.rmtree(old_dir)
        return self._commit_manifest()

    # -- chunk index ---------------------------------------------------------
    def _manifest_path(self) -> str:
        return os.path.join(self.root, "_manifest.json")

    def _load_manifest(self) -> dict | None:
        """The committed manifest; None when there is none or it does not
        parse (it holds only what the footers hold, so it is rebuilt)."""
        try:
            with open(self._manifest_path()) as fh:
                return json.load(fh)
        except (FileNotFoundError, ValueError):
            return None

    def _manifest(self) -> list[dict]:
        """The data files' manifest entries, rebuilt first when there is no
        manifest or ``data/_SUCCESS`` changed since it was committed (a
        Spark write into ``data/`` that it does not cover)."""
        m = self._load_manifest()
        if m is None or m["success"] != self._success_stamp():
            return self._commit_manifest()
        return m["files"]

    def _commit_manifest(self) -> list[dict]:
        """Bring the manifest in line with the data files on disk and
        commit it with one atomic replace; returns its entries. Entries of
        files it already lists are kept (Spark names every file it writes
        by a fresh job id, so a path is never rewritten); added files get
        rows and ts bounds from their footers, marked ``footer`` (the mark
        lets :meth:`_read_local` read them with pyarrow); files without
        usable ts statistics get exact bounds, unmarked, from one Spark
        aggregation over only those files. Uids are re-typed from the
        current sidecar."""
        # imported here: without cached bytecode, compiling snapshots.py
        # would add ~10 ms to every session's set-up
        from corintick_spark.snapshots import footer_entries

        stamp = self._success_stamp()
        schema = self._schema()
        known = {e["path"]: e for e in (self._load_manifest() or {"files": []})["files"]}
        paths = self._data_files()
        fresh = {
            e["path"]: e
            for e in footer_entries(
                self.root,
                [os.path.join(self.root, p) for p in paths if p not in known],
                self.ts_col,
            )
        }
        for e in fresh.values():
            bounds = e.pop("stats").get(self.ts_col)
            if bounds is not None:
                e["lo"], e["hi"] = bounds
                e["footer"] = True
        entries = [known.get(p) or fresh[p] for p in paths]
        if self._timed(schema):
            self._scan_bounds(schema, [e for e in entries if "lo" not in e])
        kind = self._uid_kind(schema)
        for e in entries:
            e.pop("uid", None)
            if not self.bucket_uids:
                e["uid"] = _path_uid(e["path"], kind)
        tmp = f"{self._manifest_path()}.{uuid.uuid4().hex}.tmp"
        with open(tmp, "w") as fh:
            json.dump({"success": stamp, "files": entries}, fh)
        os.replace(tmp, self._manifest_path())
        return entries

    def _scan_bounds(self, schema: StructType, entries: list[dict]) -> None:
        """Set the exact ts bounds (epoch micros, None when every ts is
        NULL) of ``entries`` from one Spark aggregation over their files."""
        if not entries:
            return
        micros = F.unix_micros(F.col(self.ts_col))
        rows = (
            self.spark.read.schema(schema)
            .option("basePath", self._data_dir())
            .parquet(*[os.path.join(self.root, e["path"]) for e in entries])
            .groupBy(F.col("_metadata.file_path").alias("f"))
            .agg(F.min(micros).alias("lo"), F.max(micros).alias("hi"))
            .collect()
        )
        root = os.path.abspath(self.root)
        got = {
            os.path.relpath(unquote(urlparse(r["f"]).path), root): (r["lo"], r["hi"])
            for r in rows
        }
        for e in entries:
            e["lo"], e["hi"] = got.get(e["path"], (None, None))

    def _data_files(self) -> list[str]:
        """Root-relative paths of the ``.parquet`` files a read of ``data/``
        scans, skipping the names Spark's file index hides."""
        out = []
        for d, dirs, files in os.walk(self._data_dir()):
            dirs[:] = [x for x in dirs if not _hidden(x)]
            out += [
                os.path.relpath(os.path.join(d, f), self.root)
                for f in files
                if f.endswith(".parquet") and not _hidden(f)
            ]
        return sorted(out)

    def _success_stamp(self) -> list[int] | None:
        """(inode, mtime) of ``data/_SUCCESS``, which every committed Spark
        write into ``data/`` replaces."""
        try:
            st = os.stat(os.path.join(self._data_dir(), "_SUCCESS"))
        except FileNotFoundError:
            return None
        return [st.st_ino, st.st_mtime_ns]

    def _select(self, schema: StructType, uids: list | None, start, end):
        """The manifest entries of the files a read opens: the requested
        uids' files whose ts bounds overlap ``[start, end]``, as
        ``(entries, bounds)``. ``bounds`` is ``(lo, hi)`` in epoch micros
        (None for an open side) when the selection is exactly the read's
        uid and ts filters — uids (if any) selected by value and every given
        bound converted — and None otherwise. The selection is None when
        the read lists the whole data directory: no uids and no bounds, or
        nothing the manifest can select on — uids that are not Python
        values of the recorded uid type (the ``isin`` filter would coerce
        them) or a bucketed layout, and no bounds on a timestamp ``ts``."""
        kind = self._uid_kind(schema)
        by_uid = (
            kind is not None
            and uids is not None
            and all(isinstance(u, kind) and not isinstance(u, bool) for u in uids)
        )
        timed = self._timed(schema)
        lo = self._bound_micros(start) if timed and start is not None else None
        hi = self._bound_micros(end) if timed and end is not None else None
        if not by_uid and lo is None and hi is None:
            return None
        wanted = set(uids) if by_uid else None
        entries = [
            e
            for e in self._manifest()
            if (wanted is None or e["uid"] in wanted) and _overlaps(e, lo, hi)
        ]
        exact = (
            (uids is None or by_uid)
            and (start is None or lo is not None)
            and (end is None or hi is not None)
        )
        return entries, ((lo, hi) if exact else None)

    def _scan_paths(self, entries: list[dict]) -> list[str]:
        """The paths a Spark scan of ``entries``' files is handed. More
        paths than Spark's parallel-listing threshold
        (``spark.sql.sources.parallelPartitionDiscovery.threshold``) would
        start a listing job, so past it the top-level partition directories
        holding those files are passed instead (a read spanning more such
        directories than the threshold still pays that job)."""
        files = [e["path"] for e in entries]
        threshold = self.spark.conf.get(
            "spark.sql.sources.parallelPartitionDiscovery.threshold"
        )
        if len(files) > int(threshold):
            files = sorted({os.path.join(*p.split(os.sep)[:2]) for p in files})
        return [os.path.join(self.root, p) for p in files]

    def _scan_schema(self, schema: StructType) -> StructType:
        """The columns a Spark scan of ``data/`` returns: the data columns,
        then the plain layout's partition uid, all nullable."""
        order = [f for f in schema.fields if self.bucket_uids or f.name != self.uid_col]
        if not self.bucket_uids:
            order.append(schema[self.uid_col])
        return StructType([StructField(f.name, f.dataType) for f in order])

    def _projected(self, columns: list[str]) -> list[str]:
        """A read's output columns for ``columns``: uid, ts, then the rest."""
        pinned = (self.uid_col, self.ts_col)
        return [*pinned, *(c for c in columns if c not in pinned)]

    def _served_locally(
        self, schema: StructType, entries: list[dict], bounds, columns: list[str] | None
    ) -> bool:
        """Whether a read of ``entries`` is served by :meth:`_read_local`:
        the selection is exactly the read's filters (``bounds`` is set), the
        layout is the plain uid one with a timestamp ``ts``, every requested
        column is recorded, every file's ts bounds came from its own footer
        (an INT64 instant without the legacy calendar rebase, so pyarrow
        reads the values Spark reads), and the files hold at most
        ``_LOCAL_ROWS`` rows."""
        names = schema.fieldNames()
        return (
            bounds is not None
            and not self.partition_by_date
            and self._uid_kind(schema) is not None
            and self._timed(schema)
            and (columns is None or all(c in names for c in columns))
            and all(e.get("footer") for e in entries)
            and sum(e["rows"] for e in entries) <= _LOCAL_ROWS
        )

    def _read_local(
        self, schema: StructType, entries: list[dict], bounds, columns: list[str] | None
    ) -> DataFrame:
        """``entries``' files read in one pyarrow scan on the driver and
        returned as a local relation with the columns, order, types and
        nullability of the Spark scan: each column typed by the sidecar
        (absent ones NULL, narrow types widened), the rows whose ``ts`` lies
        in the inclusive epoch-micros ``bounds``, and each file's uid from
        its manifest entry."""
        import pyarrow as pa
        import pyarrow.compute as pc
        import pyarrow.dataset as ds
        from pyspark.sql.pandas.types import to_arrow_type

        out = self._scan_schema(schema)
        if columns is not None:
            out = StructType([out[c] for c in self._projected(columns)])
        types = {f.name: to_arrow_type(f.dataType) for f in out.fields}
        arrow = pa.schema([(f.name, types[f.name]) for f in out.fields])
        uid_of = {os.path.join(self.root, e["path"]): e["uid"] for e in entries}
        dataset = ds.dataset(
            list(uid_of),
            schema=pa.schema([(n, t) for n, t in types.items() if n != self.uid_col]),
            format="parquet",
        )
        ts, keep = pc.field(self.ts_col), pc.scalar(True)
        lo, hi = bounds
        if lo is not None:
            keep &= ts >= pa.scalar(lo, types[self.ts_col])
        if hi is not None:
            keep &= ts <= pa.scalar(hi, types[self.ts_col])
        batches = []
        for tagged in dataset.scanner(filter=keep).scan_batches():
            b = tagged.record_batch
            uid = pa.repeat(
                pa.scalar(uid_of[tagged.fragment.path], types[self.uid_col]), b.num_rows
            )
            batches.append(
                pa.RecordBatch.from_arrays(
                    [uid if f.name == self.uid_col else b.column(f.name) for f in out.fields],
                    schema=arrow,
                )
            )
        return self.spark.createDataFrame(pa.Table.from_batches(batches, arrow), out)

    @cached_property
    def _jvm_time(self):
        """The JVM classes ``DateTimeUtils`` and ``UTF8String``, looked up
        once: each package step of a py4j lookup is a round trip."""
        jvm = self.spark._jvm
        return (
            jvm.org.apache.spark.sql.catalyst.util.DateTimeUtils,
            jvm.org.apache.spark.unsafe.types.UTF8String,
        )

    def _bound_micros(self, value) -> int | None:
        """The epoch micros the read's ``F.lit(value).cast("timestamp")``
        filter compares with, computed on the driver by the conversions
        that filter uses: a string is parsed in the session time zone, a
        ``datetime`` goes through PySpark's literal converter (a naive one
        in the Python process's local time). None for any other value or
        one that does not convert, which keeps every file on that side."""
        utils, utf8 = self._jvm_time
        try:
            if isinstance(value, str):
                zone = utils.getZoneId(self.spark.conf.get("spark.sql.session.timeZone"))
                parsed = utils.stringToTimestamp(utf8.fromString(value), zone)
                return parsed.get() if parsed.isDefined() else None
            if isinstance(value, datetime):
                return utils.fromJavaTimestamp(value)
        except Py4JError:  # e.g. a naive datetime becomes TIMESTAMP_NTZ
            return None
        return None

    def _uid_kind(self, schema: StructType | None):
        """The Python type of a plain-layout uid (str or int) by the
        recorded uid type; None for a bucketed layout or any other type."""
        if schema is None or self.bucket_uids or self.uid_col not in schema.fieldNames():
            return None
        dtype = schema[self.uid_col].dataType
        if isinstance(dtype, StringType):
            return str
        if isinstance(dtype, (ByteType, ShortType, IntegerType, LongType)):
            return int
        return None

    def _timed(self, schema: StructType | None) -> bool:
        """Whether the recorded ``ts`` is a timestamp, the type the
        manifest's epoch-micros bounds describe."""
        return (
            schema is not None
            and self.ts_col in schema.fieldNames()
            and isinstance(schema[self.ts_col].dataType, TimestampType)
        )

    def _data_dir(self) -> str:
        return os.path.join(self.root, "data")

    def _meta_dir(self) -> str:
        return os.path.join(self.root, "_meta")

    def _writes_dir(self) -> str:
        return os.path.join(self.root, "_writes")

    def _schema_path(self) -> str:
        return os.path.join(self.root, "_schema.json")

    def _schema(self) -> StructType | None:
        """The sidecar's recorded schema; None for a store without one."""
        if not os.path.exists(self._schema_path()):
            return None
        with open(self._schema_path()) as fh:
            return StructType.fromJson(json.load(fh))

    def _record_schema(self, schema: StructType, replace: bool = False) -> None:
        """Record a write's schema in the sidecar, before its files land, so
        the sidecar always covers every file on disk. ``replace`` (an
        overwrite) records ``schema`` as is; otherwise it merges into the
        recorded one (see :func:`_evolve_schema`), raising ValueError before
        anything is written if a column changes to an incompatible type. A
        store written before sidecars existed seeds the merge from its
        files' merged footers, minus the partition columns, whose inferred
        types are unreliable. Local-FS write; on a real cluster the sidecar
        lives next to the dataset via the Hadoop FS API."""
        prior = None if replace else self._schema()
        if prior is None and not replace and self._exists():
            inferred = self.spark.read.option("mergeSchema", "true").parquet(
                self._data_dir()
            )
            prior = StructType([
                f for f in inferred.schema.fields
                if f.name not in (self.uid_col, "uid_bucket", "_date")
            ])
        if prior is not None:
            schema = _evolve_schema(prior, schema)
        os.makedirs(self.root, exist_ok=True)
        with open(self._schema_path(), "w") as fh:
            fh.write(schema.json())

    def _uid_dir(self, uid) -> str:
        """The plain layout's ``uid=<value>`` directory (see
        :func:`_partition_dir`)."""
        return os.path.join(self._data_dir(), _partition_dir(self.uid_col, uid))

    def _buckets_for(self, uids: list) -> list[int]:
        """Bucket ids for the given uids, hashed with the written uid dtype
        (xxhash64(string) != xxhash64(long) — the sidecar keeps them aligned)."""
        dtype = StringType()
        written = self._schema()
        if written is not None and self.uid_col in written.fieldNames():
            dtype = written[self.uid_col].dataType
        tiny = local_relation(
            self.spark, StructType([StructField(self.uid_col, dtype)]), [list(uids)]
        )
        rows = tiny.select(
            F.pmod(F.xxhash64(F.col(self.uid_col)), F.lit(self.bucket_uids)).alias("b")
        ).distinct().collect()
        return [r["b"] for r in rows]

    def _exists(self) -> bool:
        d = self._data_dir()
        return os.path.isdir(d) and any(
            not f.startswith(("_", ".")) for f in os.listdir(d)
        )

"""SnapshotStore — versioned-manifest table layer: snapshot isolation,
time travel, and safe compaction over plain Parquet.

VERDICT r04 "what's missing" #4: TickStore implements append / compact /
z-order / schema-merge directly over a Parquet directory, which is correct
for the reference contract but gives readers no isolation — a reader that
lists files while a compaction rewrites them sees a torn table. This module
adds the table-format layer in the shape the public formats converged on
(Delta/Iceberg-style, from their published designs — log of immutable
snapshot manifests gating an append-only data-file pool):

- **Data files are immutable and write-once**; every logical table version
  is a JSON manifest (`_snapshots/v{N}.json`) listing exactly the files
  that make it up, plus operation metadata and the schema.
- **Commit is one atomic rename** of the next version's manifest
  (O_EXCL-create → fsync → `os.replace`): concurrent committers race on
  `v{N+1}` and the loser gets ConcurrentCommitError (optimistic
  concurrency) — on an object store this maps to put-if-absent.
- **Readers pin a manifest**: `read()` resolves the latest committed
  version ONCE and reads only its file list, so in-flight appends,
  compactions, and even `expire_snapshots` of other versions can never
  tear a running scan. `read(version=N)` is time travel.
- **MERGE / change feed**: :meth:`SnapshotStore.merge` is a copy-on-write
  SCD-1 upsert that prunes untouched files on per-file key min/max stats
  recorded at stage time (Iceberg-style file bounds);
  :meth:`SnapshotStore.changes` diffs two versions' file sets and
  reconciles rows only over the delta files — O(changed data) CDC.
- **Crash safety**: a writer that dies after writing data files but before
  committing leaves orphans that no manifest references — invisible to
  every reader, reclaimed by `vacuum_orphans()`. A compaction replaces the
  file SET in the new manifest; old files stay on disk until
  `expire_snapshots` drops the versions that reference them.
- **Deletion vectors (merge-on-read DELETE)**:
  :meth:`SnapshotStore.delete_where_dv` records matching rows as
  position-delete files (Iceberg position deletes / Delta DVs) and keeps
  the data-file set untouched — no write amplification; every read path
  subtracts the positions until :meth:`SnapshotStore.purge_dv` or a
  compaction materializes the deletes. :meth:`SnapshotStore.changes`
  resolves dv-entry deltas to exact rows, so CDC sees MoR deletes.

Scale notes: manifests carry file paths + per-file row counts — O(files),
not O(rows); at 100 TB the file list itself would page into manifest
chunks (Iceberg's manifest-list indirection), noted where relevant. The
Spark read path is `spark.read.parquet(*files)` — partition pruning and
row-group skipping behave exactly as for the raw directory.
"""

from __future__ import annotations

import json
import os
import re
import time
import uuid
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession


class ConcurrentCommitError(RuntimeError):
    """Another writer committed this version first — retry on latest."""


# epoch-micros multiplier of the INT64 timestamp units footer bounds are
# recorded in (nanos are left out: Spark does not read them as timestamps)
_TS_UNIT_MICROS = {"milliseconds": 1000, "microseconds": 1}


def footer_entries(root: str, paths: list[str], ts_col: str | None = None) -> list[dict]:
    """Manifest entries for the parquet files ``paths``: root-relative path,
    row count and per-column ``[min, max]`` read from the footer with
    pyarrow — no Spark job. Iceberg keeps the same per-file bounds in its
    manifests; ``SnapshotStore.merge`` and ``TickStore.read`` prune files
    on them.

    A column gets bounds only when every row group holding a non-null
    value of it carries exact statistics; otherwise its bounds are unknown
    and pruning keeps the file. With ``ts_col``, only that column is
    recorded, as epoch micros, and only where it is an INT64 instant
    (``TIMESTAMP(MILLIS|MICROS, isAdjustedToUTC=true)``) in a file written
    without Spark's legacy calendar rebase: INT96 carries no statistics,
    and rebased values differ from the ones Spark reads back.
    """
    import pyarrow.parquet as pq

    entries = []
    for path in paths:
        meta = pq.ParquetFile(path).metadata
        rebased = b"org.apache.spark.legacyDateTime" in (meta.metadata or {})
        stats: dict[str, list] = {}
        unknown: set[str] = set()
        for rg in range(meta.num_row_groups):
            row_group = meta.row_group(rg)
            for ci in range(row_group.num_columns):
                col = row_group.column(ci)
                name = col.path_in_schema
                if "." in name or ts_col not in (None, name):
                    continue  # top-level primitives only
                st = col.statistics
                if (
                    st is not None
                    and not st.has_min_max
                    and st.has_null_count
                    and st.null_count == col.num_values
                ):
                    continue  # all NULL: nothing to bound
                bounds = None if ts_col and rebased else _exact_bounds(col, bool(ts_col))
                if bounds is None:
                    unknown.add(name)
                    continue
                prev = stats.get(name)
                stats[name] = (
                    bounds
                    if prev is None
                    else [min(prev[0], bounds[0]), max(prev[1], bounds[1])]
                )
        entries.append(
            {
                "path": os.path.relpath(path, root),
                "rows": meta.num_rows,
                "stats": {k: v for k, v in stats.items() if k not in unknown},
            }
        )
    return entries


def _exact_bounds(col, micros: bool) -> list | None:
    """``[min, max]`` of one column chunk when its statistics are exact
    JSON scalars — epoch micros of an instant timestamp when ``micros`` —
    else None."""
    st = col.statistics
    if st is None or not st.has_min_max:
        return None
    if micros:
        lt = json.loads(st.logical_type.to_json())
        scale = _TS_UNIT_MICROS.get(lt.get("timeUnit"))
        instant = (lt.get("Type"), lt.get("isAdjustedToUTC")) == ("Timestamp", True)
        if col.physical_type != "INT64" or not instant or not scale:
            return None
        return [st.min_raw * scale, st.max_raw * scale]
    lo, hi = st.min, st.max
    if not isinstance(lo, (int, float, str, bool)):
        return None  # JSON-encodable scalars only
    # Exactness guard: some parquet writers TRUNCATE long binary/string
    # statistics, and a truncated max can be a prefix that compares LESS
    # than the true max — pruning on it would wrongly mark an overlapping
    # file disjoint (lost updates / incomplete reads). This pyarrow (16.x)
    # does not expose is_{min,max}_value_exact, so cap instead: parquet-mr
    # and pyarrow both DROP stats above ~4096B (parquet-mr truncates WITH a
    # last-byte increment below that, which stays a valid bound), so values
    # at/above 1024 chars are in nobody's exact-by-construction regime —
    # record nothing and let pruning conservatively keep the file.
    if isinstance(lo, str) and (len(lo) >= 1024 or len(hi) >= 1024):
        return None
    return [lo, hi]


@dataclass
class SnapshotStore:
    spark: SparkSession
    root: str

    # -- paths ---------------------------------------------------------------
    def _snap_dir(self) -> str:
        return os.path.join(self.root, "_snapshots")

    def _data_dir(self) -> str:
        return os.path.join(self.root, "data")

    def _manifest_path(self, version: int) -> str:
        return os.path.join(self._snap_dir(), f"v{version}.json")

    # -- snapshot log ----------------------------------------------------------
    def versions(self) -> list[int]:
        d = self._snap_dir()
        if not os.path.isdir(d):
            return []
        out = []
        for name in os.listdir(d):
            # dot-tmp files from a crashed commit attempt are not versions
            if name.startswith("v") and name.endswith(".json"):
                body = name[1:-5]
                if body.isdigit():
                    out.append(int(body))
        return sorted(out)

    def latest_version(self) -> int | None:
        vs = self.versions()
        return vs[-1] if vs else None

    def manifest(self, version: int) -> dict:
        with open(self._manifest_path(version)) as fh:
            return json.load(fh)

    def history(self) -> list[dict]:
        """One dict per committed version (ascending): version, operation,
        n_files, n_rows, committed_at."""
        return [
            {
                "version": v,
                "operation": m["operation"],
                "n_files": len(m["files"]),
                "n_rows": sum(f["rows"] for f in m["files"]),
                "n_dv_deleted": sum(
                    e["rows"] for e in (m.get("dvs") or [])
                ),
                "committed_at": m["committed_at"],
            }
            for v in self.versions()
            for m in [self.manifest(v)]
        ]

    # -- deletion vectors --------------------------------------------------------
    def _dvs(self, version: int | None) -> list[dict]:
        """The deletion-vector file entries of `version` ([] for None)."""
        if version is None:
            return []
        return self.manifest(version).get("dvs") or []

    # All data files live under root/data/<stage>/<name>.parquet, so the
    # root-relative form of any path (scan-time _metadata file URI, or a
    # stored dv file_path — legacy absolute or already relative) is the
    # suffix starting at its LAST 'data/' segment. Greedy (.*/)? absorbs
    # any 'data' in the root path itself; stage ids (hex) and parquet part
    # names never contain a 'data/' segment.
    _DV_PATH_RE = r"^(?:.*/)?(data/.*)$"

    @classmethod
    def _dv_rel(cls, col):
        """Root-relative normal form of a file-path column — the dv join
        key. Applied to BOTH sides of every dv position join, so stores
        are relocatable (positions never encode the root) and dv files
        written before round 7 (absolute file: URIs) keep matching."""
        import pyspark.sql.functions as F

        return F.regexp_extract(col, cls._DV_PATH_RE, 1)

    def _apply_dvs(self, df: DataFrame, dvs: list[dict]) -> DataFrame:
        """Filter out positions recorded in `dvs` (merge-on-read).

        DV files are parquet position deletes — (file_path, row_index)
        pairs keyed by the scan-time ``_metadata`` values normalized to
        root-relative paths (Iceberg's position-delete-file shape; Delta
        encodes the same positions as a per-file roaring bitmap). The
        anti-join keys are exact because data files are immutable: a
        (path, index) pair written at delete time always denotes the same
        physical row — and root-relative keys stay exact after the store
        root is moved or copied. The DV side broadcasts while the
        manifest-recorded row counts say it is small; past that it
        degrades to a plain shuffled anti-join — at 100 TB the positions
        table is itself a distributed table and this is the scan-side
        merge every MoR format pays until a purge/compaction materializes
        the deletes."""
        if not dvs:
            return df
        import pyspark.sql.functions as F

        dv = self.spark.read.parquet(
            *[os.path.join(self.root, e["path"]) for e in dvs]
        ).select(
            self._dv_rel(F.col("file_path")).alias("__dv_fp"),
            F.col("row_index").alias("__dv_ri"),
        )
        if sum(e["rows"] for e in dvs) <= 5_000_000:
            dv = F.broadcast(dv)
        return (
            df.withColumns(
                {
                    "__dv_fp": self._dv_rel(F.col("_metadata.file_path")),
                    "__dv_ri": F.col("_metadata.row_index"),
                }
            )
            .join(dv, ["__dv_fp", "__dv_ri"], "left_anti")
            .drop("__dv_fp", "__dv_ri")
        )

    def _scan_entries(self, entries: list[dict], dvs: list[dict]) -> DataFrame:
        """Read the given manifest file entries (mergeSchema) with the
        version's deletion vectors applied. DV rows referencing files not
        in `entries` simply never match — per-file association is implicit
        in the (file_path, row_index) keys."""
        df = self.spark.read.option("mergeSchema", "true").parquet(
            *[os.path.join(self.root, f["path"]) for f in entries]
        )
        return self._apply_dvs(df, dvs)

    # -- write path ------------------------------------------------------------
    def _stage_files(self, df: DataFrame) -> list[dict]:
        """Write df as new immutable parquet files under data/ and return
        their manifest entries. Staged files are INVISIBLE until a manifest
        referencing them commits."""
        stage_id = uuid.uuid4().hex[:12]
        out_dir = os.path.join(self._data_dir(), stage_id)
        df.write.mode("error").parquet(out_dir)
        return self._dir_entries(out_dir)

    def _dir_entries(self, out_dir: str) -> list[dict]:
        """Manifest entries for every parquet file directly under ``out_dir``
        (see :func:`footer_entries`)."""
        return footer_entries(
            self.root,
            [
                os.path.join(out_dir, name)
                for name in sorted(os.listdir(out_dir))
                if name.endswith(".parquet")
            ],
        )

    def _commit(
        self,
        files: list[dict],
        operation: str,
        expected_base: int | None,
        schema: dict | None = None,
        token: str | None = None,
        constraints: "dict[str, str] | None" = None,
        dvs: "list[dict] | None" = None,
    ) -> int:
        """Atomically commit `files` as the next version. `expected_base`
        is the version this write was based on (None for the first) — if
        someone else committed past it, raise ConcurrentCommitError
        instead of silently clobbering their snapshot. `schema` is the
        committed version's logical schema (Spark JSON form), recorded in
        the manifest so schema evolution is explicit in the log."""
        os.makedirs(self._snap_dir(), exist_ok=True)
        latest = self.latest_version()
        if latest != expected_base:
            raise ConcurrentCommitError(
                f"base version {expected_base} is stale (latest is {latest})"
            )
        version = 0 if latest is None else latest + 1
        if constraints is None:  # inherit the base version's constraints
            constraints = (
                self.manifest(latest).get("constraints") or {}
                if latest is not None
                else {}
            )
        manifest = {
            "version": version,
            "operation": operation,
            "files": files,
            "schema": schema,
            "token": token,
            "constraints": constraints,
            "dvs": dvs or [],
            "committed_at": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
        }
        target = self._manifest_path(version)
        tmp = os.path.join(self._snap_dir(), f".v{version}.{uuid.uuid4().hex}.tmp")
        with open(tmp, "w") as fh:
            json.dump(manifest, fh)
            fh.flush()
            os.fsync(fh.fileno())
        # os.link is the atomic claim-with-content: it fails with EEXIST if
        # v{N} already exists (exactly one committer wins) and the manifest
        # appears under its final name fully written — a reader can never
        # observe a claimed-but-empty version file.
        try:
            os.link(tmp, target)
        except FileExistsError:
            raise ConcurrentCommitError(
                f"version {version} was committed concurrently"
            ) from None
        finally:
            os.unlink(tmp)
        return version

    def append_once(self, df: DataFrame, token: str) -> int:
        """Idempotent append for exactly-once streaming ingestion: commit
        df's rows tagged with `token` (e.g. a micro-batch epoch id) — if a
        committed manifest already carries that token, return its version
        WITHOUT writing anything. A foreachBatch retry therefore cannot
        double-append: the retried epoch finds its token and no-ops; a
        crash after staging but before commit leaves only orphan files
        that no manifest references (vacuum_orphans reclaims them). The
        token scan is O(versions) — on a real deployment the last token
        would live in the latest manifest (epochs commit in order), making
        the common check O(1); the full scan keeps the local
        implementation simple and exact."""
        for v in reversed(self.versions()):
            if self.manifest(v).get("token") == token:
                return v
        self._enforce(df)
        base = self.latest_version()
        prev = self.manifest(base)["files"] if base is not None else []
        schema = self._evolve_schema(
            self._base_schema(base), df.schema.jsonValue()
        )
        return self._commit(
            prev + self._stage_files(df), "append", base, schema, token=token,
            dvs=self._dvs(base),
        )

    @staticmethod
    def _evolve_schema(base: dict | None, new: dict) -> dict:
        """Delta-style schema evolution with enforcement: new columns are
        ADDED to the table schema; a column whose type changed is a
        conflict (ValueError) — evolution must never silently corrupt
        history. Older files simply lack the new columns and read as NULL
        (parquet mergeSchema)."""
        if base is None:
            return new
        by_name = {f["name"]: f for f in base["fields"]}
        merged = list(base["fields"])
        for f in new["fields"]:
            prev = by_name.get(f["name"])
            if prev is None:
                merged.append(f)  # evolution: new column appended
            elif prev["type"] != f["type"]:
                raise ValueError(
                    f"schema conflict for column {f['name']!r}: "
                    f"{prev['type']} vs {f['type']} — use overwrite() to "
                    "change a column's type"
                )
        return {**base, "fields": merged}

    def _base_schema(self, base: int | None) -> dict | None:
        return self.manifest(base).get("schema") if base is not None else None

    def constraints(self) -> "dict[str, str]":
        v = self.latest_version()
        return (self.manifest(v).get("constraints") or {}) if v is not None else {}

    def _enforce(self, df: DataFrame) -> None:
        """CHECK-constraint enforcement on incoming rows (SQL semantics:
        a row violates only when the predicate is FALSE — NULL passes,
        like Delta's CHECK). One limit(1) probe per constraint; raises
        before anything stages, so a rejected write leaves no trace."""
        import pyspark.sql.functions as F

        for name, pred in self.constraints().items():
            bad = df.filter(
                F.expr(f"NOT coalesce(({pred}), true)")
            ).limit(1).count()
            if bad:
                raise ValueError(
                    f"CHECK constraint {name!r} violated: {pred}"
                )

    def add_constraint(self, name: str, predicate: str) -> int:
        """Record a CHECK constraint in the manifest log (versioned like
        schema) after verifying EXISTING data satisfies it — the Delta
        posture: a constraint can never be added over violating rows.
        Every subsequent append/overwrite/merge/append_once enforces it
        on incoming rows before staging."""
        base = self.latest_version()
        cons = dict(self.constraints())
        if name in cons:
            raise ValueError(f"constraint {name!r} already exists")
        if base is not None:
            import pyspark.sql.functions as F

            bad = self.read().filter(
                F.expr(f"NOT coalesce(({predicate}), true)")
            ).limit(1).count()
            if bad:
                raise ValueError(
                    f"existing rows violate {name!r}: {predicate}"
                )
        cons[name] = predicate
        files = self.manifest(base)["files"] if base is not None else []
        return self._commit(
            files, "constraint", base, self._base_schema(base),
            constraints=cons, dvs=self._dvs(base),
        )

    def drop_constraint(self, name: str) -> int:
        base = self.latest_version()
        cons = dict(self.constraints())
        if name not in cons:
            raise ValueError(f"no constraint {name!r}")
        del cons[name]
        return self._commit(
            self.manifest(base)["files"], "constraint", base,
            self._base_schema(base), constraints=cons, dvs=self._dvs(base),
        )

    def append(self, df: DataFrame) -> int:
        """Commit a new version = previous file set + df's new files.
        Columns new to the table evolve the schema (recorded in the
        manifest); a type change on an existing column is rejected."""
        self._enforce(df)
        base = self.latest_version()
        prev = self.manifest(base)["files"] if base is not None else []
        schema = self._evolve_schema(
            self._base_schema(base), df.schema.jsonValue()
        )
        return self._commit(
            prev + self._stage_files(df), "append", base, schema,
            dvs=self._dvs(base),
        )

    def append_split(self, df: DataFrame, split, n_splits: int) -> list[int]:
        """Commit ``n_splits`` consecutive append versions from ONE staged
        write: version i holds exactly df's rows where ``split`` == i.

        Row-for-row equivalent to ``[self.append(df.filter(split == i))
        for i in range(n_splits)]`` — same per-version row sets, same
        manifest shape (operation "append", flat file paths, footer
        stats) — but the source is scanned and written ONCE, partitioned
        by the split expression, instead of once per version (guide §2.4:
        one pass carries all the splits; round 12, stream_cdf_partitioned).

        ``split`` must evaluate to an integer in [0, n_splits) on every
        row (the caller's splitting contract); a value with no rows
        commits an ordinary empty append. Files are moved out of the
        partition directories after the write so readers (Spark parquet
        scan, pyarrow per-file readers) never see a ``_split=`` path
        segment to infer a column from."""
        import shutil

        self._enforce(df)
        stage_id = uuid.uuid4().hex[:12]
        out_dir = os.path.join(self._data_dir(), stage_id)
        (
            df.withColumn("_split", split.cast("int"))
            .write.mode("error")
            .partitionBy("_split")
            .parquet(out_dir)
        )
        for i in range(n_splits):
            part_dir = os.path.join(out_dir, f"_split={i}")
            if not os.path.isdir(part_dir):
                continue
            for name in sorted(os.listdir(part_dir)):
                if name.endswith(".parquet"):
                    os.rename(
                        os.path.join(part_dir, name),
                        os.path.join(out_dir, f"s{i}-{name}"),
                    )
            shutil.rmtree(part_dir, ignore_errors=True)
        all_entries = self._dir_entries(out_dir)
        groups = {
            i: [
                e
                for e in all_entries
                if os.path.basename(e["path"]).startswith(f"s{i}-")
            ]
            for i in range(n_splits)
        }
        base = self.latest_version()
        files = self.manifest(base)["files"] if base is not None else []
        schema = self._evolve_schema(
            self._base_schema(base), df.schema.jsonValue()
        )
        dvs = self._dvs(base)
        versions = []
        for i in range(n_splits):
            files = files + groups[i]
            base = self._commit(files, "append", base, schema, dvs=dvs)
            versions.append(base)
        return versions

    def overwrite(self, df: DataFrame) -> int:
        """Commit a new version whose file set is exactly df's files.
        Earlier versions (and their files) remain readable until expired."""
        self._enforce(df)
        return self._commit(
            self._stage_files(df), "overwrite", self.latest_version(),
            df.schema.jsonValue(),
        )

    def overwrite_once(self, df: DataFrame, token: str) -> int:
        """Idempotent full replacement — the exactly-once primitive for a
        MATERIALIZED VIEW refreshed per micro-batch: if a committed
        manifest already carries `token`, return that version without
        writing (a foreachBatch retry re-deriving the same refreshed
        state must not commit it twice). Same token discipline as
        :meth:`append_once`, replace-all semantics instead of append."""
        for v in reversed(self.versions()):
            if self.manifest(v).get("token") == token:
                return v
        self._enforce(df)
        return self._commit(
            self._stage_files(df), "overwrite", self.latest_version(),
            df.schema.jsonValue(), token=token,
        )

    def compact(self, target_partitions: int = 1) -> int:
        """Rewrite the CURRENT version's data into `target_partitions`
        files and commit as a new version. Readers pinned to any earlier
        version are untouched — their files stay on disk until
        expire_snapshots drops the versions referencing them."""
        base = self.latest_version()
        if base is None:
            raise ValueError("nothing to compact: no committed version")
        current = self.read(version=base).coalesce(target_partitions)
        return self._commit(
            self._stage_files(current), "compact", base,
            self._base_schema(base),
        )

    def index_bloom(
        self,
        cols: "list[str]",
        num_bits: int = 1 << 13,
        num_hashes: int = 5,
    ) -> int:
        """Attach a PER-FILE Bloom filter for each of `cols` to the current
        version's manifest (committed as a new same-file-set version, op
        'index') — the Delta/Parquet bloom-index shape: point lookups on a
        column the layout is NOT clustered by can skip files whose filter
        misses, where min/max bounds are useless (a hash-scattered column
        spans the full range in every file).

        One Spark job per column computes every file's word array together
        (explode bit positions → bit_or per (file, word) — the same
        mergeable fold as operators/bloom.py, keyed by input_file_name);
        the collect is bounded by files × num_bits/64 rows, never by data.
        Size at ~10 bits per distinct value per file. Files are immutable,
        so the index can never go stale — rewrites (compact/merge) produce
        new files without the bloom entry until re-indexed, which is safe:
        a missing filter means "cannot skip"."""
        from corintick_spark.operators.bloom import _positions

        import pyspark.sql.functions as F

        base = self.latest_version()
        if base is None:
            raise ValueError("nothing to index: no committed version")
        files = [dict(f) for f in self.manifest(base)["files"]]
        by_abs = {
            os.path.abspath(os.path.join(self.root, f["path"])): f
            for f in files
        }
        paths = list(by_abs)
        src = self.spark.read.option("mergeSchema", "true").parquet(*paths)
        for c in cols:
            pos = (
                src.filter(F.col(c).isNotNull())
                .select(
                    F.input_file_name().alias("_f"),
                    F.explode(
                        F.array(*_positions(F.col(c), num_bits, num_hashes))
                    ).alias("p"),
                )
            )
            rows = (
                pos.select(
                    "_f",
                    F.shiftright(F.col("p"), 6).cast("int").alias("w"),
                    F.expr(
                        "shiftleft(CAST(1 AS BIGINT), CAST(p % 64 AS INT))"
                    ).alias("m"),
                )
                .groupBy("_f", "w")
                .agg(F.bit_or("m").alias("bits"))
                .collect()
            )
            # every file gets a FRESH entry for c — including files with
            # zero non-null values (all-zero filter ⇒ every probe misses,
            # which is exact for a value-free file). Overwriting, never
            # merging, also means stale entries from an earlier index run
            # with different (num_hashes, num_bits) cannot survive.
            per_file: dict[str, list[int]] = {
                p: [0] * (num_bits // 64) for p in by_abs
            }
            for r in rows:
                abs_path = os.path.abspath(r["_f"].replace("file:", "", 1))
                per_file[abs_path][r["w"]] = r["bits"]
            for abs_path, words in per_file.items():
                entry = by_abs[abs_path]
                entry.setdefault("bloom", {})[c] = {
                    "hashes": num_hashes,
                    "words": words,
                }
        return self._commit(
            files, "index", base, self._base_schema(base), dvs=self._dvs(base)
        )

    def read_where_eq(self, col: str, value, version: int | None = None) -> DataFrame:
        """Point-lookup read `col = value`, skipping files by BOTH the
        manifest min/max bounds and (where :meth:`index_bloom` recorded
        one) the per-file Bloom filter. The residual equality filter keeps
        the result exact; a file without stats or bloom is conservatively
        scanned. `value` must be non-null and of the column's type."""
        import pyspark.sql.functions as F

        if version is None:
            version = self.latest_version()
            if version is None:
                raise ValueError("no committed version to read")
        if value is None:
            raise ValueError("read_where_eq probes non-null values only")
        manifest = self.manifest(version)
        files = manifest["files"]
        # xxhash64 is TYPE-sensitive (hashing 1234 as int != as bigint), so
        # the probe literal must be cast to the column's recorded type
        # before hashing — the same type the index hashed
        col_type = next(
            (
                f["type"]
                for f in (manifest.get("schema") or {}).get("fields", [])
                if f["name"] == col and isinstance(f["type"], str)
            ),
            None,
        )
        probe_lit = F.lit(value)
        if col_type is not None:
            probe_lit = probe_lit.cast(col_type)
        # bit positions of the probe value, via the SAME jvm hash exprs the
        # index used — one 1-row job, no Python reimplementation of xxhash64.
        # Keyed by the FULL (num_hashes, num_bits) pair: two filters with
        # equal num_bits but different num_hashes hash to different
        # position sets, and probing one with the other's positions could
        # wrongly skip a file that contains the value.
        probe_bits: dict[tuple[int, int], list[int]] = {}
        for nh_nb in {
            (f["bloom"][col]["hashes"], len(f["bloom"][col]["words"]) * 64)
            for f in files
            if col in (f.get("bloom") or {})
        }:
            from corintick_spark.operators.bloom import _positions

            nh, nb = nh_nb
            row = (
                self.spark.range(1)
                .select(*[
                    p.alias(f"p{i}")
                    for i, p in enumerate(
                        _positions(probe_lit, nb, nh)
                    )
                ])
                .first()
            )
            probe_bits[nh_nb] = [int(v) for v in row]
        kept = []
        for f in files:
            st = (f.get("stats") or {}).get(col)
            if st is not None and (value < st[0] or value > st[1]):
                continue
            bl = (f.get("bloom") or {}).get(col)
            if bl is not None:
                key = (bl["hashes"], len(bl["words"]) * 64)
                hit = all(
                    bl["words"][p >> 6] & (1 << (p & 63))
                    for p in probe_bits[key]
                )
                if not hit:
                    continue
            kept.append(f)
        if not kept:
            return self.read(version=version).filter(F.lit(False))
        df = self._scan_entries(kept, self._dvs(version))
        return df.filter(F.col(col) == F.lit(value))

    def merge(
        self,
        source: DataFrame,
        key: str,
        sync_scope: "str | None" = None,
        scope_prune: "tuple[str, object, object] | None" = None,
    ) -> int:
        """SCD-1 upsert (MERGE semantics): rows of `source` replace current
        rows with the same `key` value; unmatched source rows are inserts.

        With `sync_scope` (a SQL predicate), the merge is a SCOPED FULL
        SYNC — Delta's ``WHEN NOT MATCHED BY SOURCE THEN DELETE`` with a
        condition: base rows INSIDE the scope that match no source key are
        deleted, rows outside the scope are untouched. (The unscoped form
        of that clause degenerates to overwrite(source); the scoped form is
        the real pattern — re-sync one partition/day from an authoritative
        feed.) `scope_prune=(col, lo, hi)` is the caller's assertion that
        scope rows have `col` within [lo, hi], letting disjoint files carry
        forward untouched exactly like :meth:`delete_where`'s prune.

        Scale shape (the part that matters at 100 TB): files whose
        footer-recorded [min, max] range of `key` is DISJOINT from the
        source's key range (and, when syncing, from the scope bounds) are
        **carried into the new version untouched** — only overlapping files
        are rewritten (read → left_anti on the source's distinct keys →
        scope filter → union source). The source key range is one 1-row
        aggregate; the anti-join's build side is just the source keys. A
        file with no recorded stats is conservatively rewritten. Rewrites
        are copy-on-write: earlier versions still reference the old files
        (time travel across a merge works)."""
        import pyspark.sql.functions as F

        self._enforce(source)
        base = self.latest_version()
        if base is None:
            return self._commit(
                self._stage_files(source), "merge", None,
                source.schema.jsonValue(),
            )
        schema = self._evolve_schema(
            self._base_schema(base), source.schema.jsonValue()
        )
        lo, hi, n_src = source.agg(
            F.min(key), F.max(key), F.count(F.lit(1))
        ).first()
        if n_src == 0 and sync_scope is None:
            # empty source: new version = carry-forward
            return self._commit(
                self.manifest(base)["files"], "merge", base, schema,
                dvs=self._dvs(base),
            )
        carried, touched = [], []
        for f in self.manifest(base)["files"]:
            st = (f.get("stats") or {}).get(key)
            # lo/hi None with rows present = all-null keys: nothing prunable
            disjoint = None not in (lo, st) and (st[1] < lo or st[0] > hi)
            if disjoint and sync_scope is not None:
                # carrying also requires the file to be outside the scope
                sst = (
                    (f.get("stats") or {}).get(scope_prune[0])
                    if scope_prune
                    else None
                )
                disjoint = sst is not None and (
                    sst[1] < scope_prune[1] or sst[0] > scope_prune[2]
                )
            if disjoint:
                carried.append(f)
            else:
                touched.append(f)
        if touched:
            # mergeSchema: touched files may straddle a schema evolution;
            # deletion vectors apply BEFORE the rewrite so dv-deleted rows
            # can never resurrect into the rewritten files
            current = self._scan_entries(touched, self._dvs(base))
            remain = current.join(
                source.select(key).distinct(), on=key, how="left_anti"
            )
            if sync_scope is not None:
                # NOT MATCHED BY SOURCE within scope -> delete (NULL scope
                # predicate = not in scope, SQL filter semantics)
                remain = remain.filter(
                    ~F.coalesce(F.expr(sync_scope), F.lit(False))
                )
            # allowMissingColumns: a source written against an older (or
            # newer) schema vintage null-fills the columns it lacks —
            # whole-row SCD-1 replacement semantics
            staged = self._stage_files(
                remain.unionByName(source, allowMissingColumns=True)
            )
        else:
            staged = self._stage_files(source)  # pure insert
        # carried files keep their dv rows (path-keyed); entries pointing
        # at rewritten (now-unreferenced) files are inert
        return self._commit(
            carried + staged, "merge", base, schema, dvs=self._dvs(base)
        )

    def delete_where(
        self,
        predicate: str,
        prune: "tuple[str, object, object] | None" = None,
    ) -> int:
        """Copy-on-write DELETE: commit a new version where rows matching
        the SQL `predicate` are gone. Every candidate file is rewritten
        with ``filter(NOT predicate)``; with ``prune=(col, lo, hi)`` —
        the caller's assertion that matching rows can only have `col`
        within [lo, hi] — files whose footer stats are disjoint from that
        range carry forward untouched, the same file-skipping shape as
        :meth:`merge`. Earlier versions still reference the old files
        (time travel across a delete works)."""
        import pyspark.sql.functions as F

        base = self.latest_version()
        if base is None:
            raise ValueError("nothing to delete from: no committed version")
        carried, touched = [], []
        for f in self.manifest(base)["files"]:
            st = (f.get("stats") or {}).get(prune[0]) if prune else None
            if st is not None and (st[1] < prune[1] or st[0] > prune[2]):
                carried.append(f)
            else:
                touched.append(f)
        staged = []
        if touched:
            current = self._scan_entries(touched, self._dvs(base))
            staged = self._stage_files(current.filter(~F.expr(predicate)))
        return self._commit(
            carried + staged, "delete", base, self._base_schema(base),
            dvs=self._dvs(base),
        )

    def delete_where_dv(
        self,
        predicate: str,
        prune: "tuple[str, object, object] | None" = None,
    ) -> int:
        """Merge-on-read DELETE via deletion vectors: commit a new version
        where rows matching the SQL `predicate` are gone WITHOUT rewriting
        a single data file — the write amplification answer at 100 TB,
        where a copy-on-write delete of 0.1% of rows rewrites terabytes.

        One job scans the candidate files (stats-pruned like
        :meth:`delete_where` when `prune` is given) with the current
        deletion vectors applied — already-deleted positions are never
        re-recorded — and writes the matching rows' (file_path, row_index)
        pairs as new position-delete parquet files (Iceberg's position
        deletes; Delta's DVs are the same positions as per-file bitmaps).
        The new manifest keeps the data-file set IDENTICAL and appends the
        DV entries; every read path subtracts them via an anti-join until
        :meth:`purge_dv` or a compaction materializes the deletes. Time
        travel across a DV delete works — earlier manifests simply carry
        fewer (or no) DV entries."""
        import pyspark.sql.functions as F

        base = self.latest_version()
        if base is None:
            raise ValueError("nothing to delete from: no committed version")
        candidates = []
        for f in self.manifest(base)["files"]:
            st = (f.get("stats") or {}).get(prune[0]) if prune else None
            if st is not None and (st[1] < prune[1] or st[0] > prune[2]):
                continue
            candidates.append(f)
        new_dvs: list[dict] = []
        if candidates:
            # materialize the position columns BEFORE the existing-dv
            # anti-join — _metadata is only resolvable against the scan
            # positions are recorded ROOT-RELATIVE (via _dv_rel) so the
            # store stays relocatable — the manifests' path convention
            scan = self.spark.read.option("mergeSchema", "true").parquet(
                *[os.path.join(self.root, f["path"]) for f in candidates]
            ).select(
                "*",
                self._dv_rel(F.col("_metadata.file_path")).alias("__dv_fp"),
                F.col("_metadata.row_index").alias("__dv_ri"),
            )
            existing = self._dvs(base)
            if existing:
                dv = self.spark.read.parquet(
                    *[os.path.join(self.root, e["path"]) for e in existing]
                ).select(
                    self._dv_rel(F.col("file_path")).alias("__dv_fp"),
                    F.col("row_index").alias("__dv_ri"),
                )
                scan = scan.join(
                    F.broadcast(dv)
                    if sum(e["rows"] for e in existing) <= 5_000_000
                    else dv,
                    ["__dv_fp", "__dv_ri"],
                    "left_anti",
                )
            positions = scan.filter(F.expr(predicate)).select(
                F.col("__dv_fp").alias("file_path"),
                F.col("__dv_ri").alias("row_index"),
            )
            new_dvs = [
                e for e in self._stage_files(positions) if e["rows"] > 0
            ]
        if not new_dvs:
            # nothing matched: mirror purge_dv's no-op shape — committing a
            # 'delete-dv' version with zero new positions would churn
            # history and the CDF stream cadence for no table change
            return base
        return self._commit(
            self.manifest(base)["files"], "delete-dv", base,
            self._base_schema(base), dvs=self._dvs(base) + new_dvs,
        )

    def purge_dv(self, target_partitions: int | None = None) -> int:
        """Materialize outstanding deletion vectors (REORG ... APPLY PURGE):
        rewrite the current version's data with DVs applied and commit a
        DV-free version. Copy-on-write: earlier versions still reference
        the old files and DV entries, so time travel across the purge is
        exact. No-op commit shape when no DVs are outstanding is avoided —
        returns the current version unchanged in that case."""
        base = self.latest_version()
        if base is None:
            raise ValueError("nothing to purge: no committed version")
        if not self._dvs(base):
            return base
        current = self.read(version=base)
        if target_partitions is not None:
            current = current.coalesce(target_partitions)
        return self._commit(
            self._stage_files(current), "purge", base,
            self._base_schema(base), dvs=[],
        )

    # -- read path ---------------------------------------------------------------
    def read(self, version: int | None = None) -> DataFrame:
        """Snapshot-isolated read: resolve a manifest, scan ONLY its files.
        `version=None` pins the latest committed version at call time."""
        if version is None:
            version = self.latest_version()
            if version is None:
                raise ValueError("no committed version to read")
        manifest = self.manifest(version)
        if not manifest["files"]:
            raise ValueError(f"version {version} is empty")
        # mergeSchema: files written before a schema evolution lack the
        # newer columns — they read as NULL under the union schema.
        # Deletion vectors (if the version carries any) are subtracted
        # merge-on-read via _apply_dvs.
        return self._scan_entries(manifest["files"], self._dvs(version))

    def prune_files(
        self,
        col: str,
        lo,
        hi,
        version: int | None = None,
    ) -> "tuple[list[dict], list[dict]]":
        """Partition the snapshot's file list into (kept, skipped) for the
        predicate `col BETWEEN lo AND hi`, using only the manifest's
        footer-recorded per-file [min, max] — no file is opened. A file
        without stats for `col` is conservatively kept."""
        if version is None:
            version = self.latest_version()
            if version is None:
                raise ValueError("no committed version to read")
        kept, skipped = [], []
        for f in self.manifest(version)["files"]:
            st = (f.get("stats") or {}).get(col)
            if st is not None and (st[1] < lo or st[0] > hi):
                skipped.append(f)
            else:
                kept.append(f)
        return kept, skipped

    def read_where(
        self,
        col: str,
        lo,
        hi,
        version: int | None = None,
    ) -> DataFrame:
        """Stats-pruned snapshot read: rows with `col` in [lo, hi] (NULLs
        excluded, SQL BETWEEN semantics), scanning ONLY the files whose
        manifest min/max bounds overlap the range. This is the
        manifest-level file skipping every table format does before the
        parquet row-group pruning kicks in — at 100 TB it is the difference
        between opening 40 files and opening 40,000. The residual filter
        keeps the result exact regardless of how coarse the bounds are."""
        import pyspark.sql.functions as F

        kept, _ = self.prune_files(col, lo, hi, version)
        if not kept:
            return self.read(version=version).filter(F.lit(False))
        df = self._scan_entries(
            kept,
            self._dvs(version if version is not None else self.latest_version()),
        )
        return df.filter(F.col(col).between(F.lit(lo), F.lit(hi)))

    def cluster_by(self, cols: "list[str]", target_files: int = 8) -> int:
        """OPTIMIZE ZORDER: rewrite the current snapshot with rows
        clustered along the Z-order curve of `cols`, so the per-file
        min/max bounds become tight on EVERY listed column and
        :meth:`read_where` prunes on any of them — the multi-dimensional
        generalization of :meth:`compact`'s single-sort-key layout. Pure
        rewrite: :meth:`changes` across it yields zero rows, and earlier
        versions still reference the old files (copy-on-write)."""
        from corintick_spark.operators.zorder import with_zvalue

        base = self.latest_version()
        if base is None:
            raise ValueError("nothing to cluster: no committed version")
        cur = self.read(version=base)
        z = with_zvalue(cur, cols)
        rewritten = (
            z.repartitionByRange(target_files, "_zvalue")
            .sortWithinPartitions("_zvalue")
            .drop("_zvalue")
        )
        return self._commit(
            self._stage_files(rewritten), "cluster", base,
            self._base_schema(base),
        )

    def restore(self, version: int) -> int:
        """RESTORE: roll the table back to `version` as a NEW commit whose
        file set is exactly that version's (Delta's RESTORE shape) — the
        history stays linear and auditable, nothing is deleted, and time
        travel still sees every intermediate state. The restored commit
        inherits the CURRENT constraints (a rollback is not a constraint
        bypass); raises if the target version's rows violate one added
        since."""
        files = self.manifest(version)["files"]
        if self.constraints():
            self._enforce(self.read(version=version))
        return self._commit(
            files, "restore", self.latest_version(),
            self.manifest(version).get("schema"),
            dvs=self._dvs(version),
        )

    def read_asof(self, timestamp: str) -> DataFrame:
        """Time travel by WALL CLOCK: read the latest version committed at
        or before `timestamp` (ISO-8601 UTC, e.g. '2026-08-15T03:00:00Z'
        — the manifests' committed_at format). Versions committing within
        the same second resolve to the highest version, matching commit
        order. Raises if nothing was committed yet at that time."""
        best = None
        for v in self.versions():
            if self.manifest(v)["committed_at"] <= timestamp:
                best = v
        if best is None:
            raise ValueError(f"no version committed at or before {timestamp}")
        return self.read(version=best)

    def changes(self, from_version: int, to_version: int) -> DataFrame:
        """Change data feed between two committed versions: the table rows
        inserted and deleted going from `from_version` to `to_version`,
        with a `change_type` column ('insert' / 'delete'); an update
        appears as its delete+insert pair.

        Scale shape: the file sets are diffed first, so only files ADDED
        or REMOVED between the versions are read — O(changed data), not
        O(table) — and the row-level reconciliation (exceptAll both ways)
        runs over just that delta, which also makes a pure rewrite
        (compaction) correctly yield zero changes. Deletion vectors are a
        third change channel: a merge-on-read delete changes NO files, so
        the dv-entry delta is resolved to its exact data rows (position
        semi-join over just the dv-referenced files) and emitted as
        deletes — and a restore that drops dv entries emits the restored
        rows as inserts."""
        import pyspark.sql.functions as F

        mf = {f["path"] for f in self.manifest(from_version)["files"]}
        mt = {f["path"] for f in self.manifest(to_version)["files"]}
        from_dvs, to_dvs = self._dvs(from_version), self._dvs(to_version)

        def read_paths(paths: set[str], dvs: list[dict]) -> DataFrame:
            if not paths:
                return self.read(version=to_version).limit(0)
            # mergeSchema: the delta file set itself may straddle a schema
            # evolution (several appends between the two versions). Each
            # side applies ITS OWN version's deletion vectors — a row
            # already dv-deleted in from_version is not "removed now", and
            # a row dv-deleted by to_version was never inserted.
            df = self.spark.read.option("mergeSchema", "true").parquet(
                *[os.path.join(self.root, p) for p in sorted(paths)]
            )
            return self._apply_dvs(df, dvs)

        added = read_paths(mt - mf, to_dvs)
        removed = read_paths(mf - mt, from_dvs)

        # dv-entry delta over files COMMON to both versions: new dv entries
        # are merge-on-read deletes; dv entries dropped (restore to a
        # pre-delete version) are re-inserts. Positions over files only one
        # side references are already accounted by the file diff above.
        # Comparison is in the root-relative normal form (_dv_rel), so the
        # delta resolves identically after the store root moves and across
        # dv files written before round 7 (absolute file: URIs).
        common = mf & mt
        from_paths = {e["path"] for e in from_dvs}
        to_paths = {e["path"] for e in to_dvs}
        rel_re = re.compile(self._DV_PATH_RE)

        def dv_rows(entries: list[dict]) -> "DataFrame | None":
            if not entries or not common:
                return None
            pos = self.spark.read.parquet(
                *[os.path.join(self.root, e["path"]) for e in entries]
            ).select(
                self._dv_rel(F.col("file_path")).alias("__fp"),
                F.col("row_index").alias("__ri"),
            )
            # prune the data scan to only the files the positions touch —
            # O(files) driver rows, the same catalog scale as the manifest
            rel = sorted(
                {
                    m.group(1)
                    for r in pos.select("__fp").distinct().collect()
                    for m in [rel_re.match(r["__fp"])]
                    if m and m.group(1) in common
                }
            )
            if not rel:
                return None
            scan = self.spark.read.option("mergeSchema", "true").parquet(
                *[os.path.join(self.root, p) for p in rel]
            )
            # same manifest-count broadcast guard as _apply_dvs — a large
            # dv delta between versions must not OOM as a forced broadcast
            if sum(e["rows"] for e in entries) <= 5_000_000:
                pos = F.broadcast(pos)
            return (
                scan.withColumns(
                    {
                        "__fp": self._dv_rel(F.col("_metadata.file_path")),
                        "__ri": F.col("_metadata.row_index"),
                    }
                )
                .join(pos, ["__fp", "__ri"], "left_semi")
                .drop("__fp", "__ri")
            )

        dv_deleted = dv_rows([e for e in to_dvs if e["path"] not in from_paths])
        dv_restored = dv_rows(
            [e for e in from_dvs if e["path"] not in to_paths]
        )

        # Align every side to the union of their schemas before exceptAll /
        # union (which require identical column lists): across a
        # schema-evolving append one side carries columns another lacks —
        # null-fill, in one canonical column order.
        union_fields: dict[str, object] = {}
        for side in (added, removed, dv_deleted, dv_restored):
            if side is None:
                continue
            for fld in side.schema.fields:
                union_fields.setdefault(fld.name, fld.dataType)
        cols = list(union_fields)

        def aligned(df: DataFrame) -> DataFrame:
            for name in cols:
                if name not in df.columns:
                    df = df.withColumn(name, F.lit(None).cast(union_fields[name]))
            return df.select(*cols)

        added, removed = aligned(added), aligned(removed)
        inserts = added.exceptAll(removed).withColumn(
            "change_type", F.lit("insert")
        )
        deletes = removed.exceptAll(added).withColumn(
            "change_type", F.lit("delete")
        )
        out = inserts.unionByName(deletes)
        if dv_deleted is not None:
            out = out.unionByName(
                aligned(dv_deleted).withColumn("change_type", F.lit("delete"))
            )
        if dv_restored is not None:
            out = out.unionByName(
                aligned(dv_restored).withColumn("change_type", F.lit("insert"))
            )
        return out

    # -- maintenance -----------------------------------------------------------
    def expire_snapshots(self, keep_last: int = 1) -> list[int]:
        """Drop all but the newest `keep_last` manifests, then reclaim any
        data file no surviving manifest references. Returns the expired
        version numbers. Files referenced by a surviving version are never
        touched, so pinned readers of those versions stay valid."""
        vs = self.versions()
        expired = vs[:-keep_last] if keep_last > 0 else vs
        for v in expired:
            os.remove(self._manifest_path(v))
        self.vacuum_orphans()
        return expired

    def vacuum_orphans(self) -> int:
        """Delete data files referenced by NO committed manifest (crashed
        writers' staged files, files of expired versions). Returns count."""
        live = {
            os.path.join(self.root, f["path"])
            for v in self.versions()
            for m in [self.manifest(v)]
            for f in m["files"] + (m.get("dvs") or [])
        }
        removed = 0
        data = self._data_dir()
        if not os.path.isdir(data):
            return 0
        for sub in os.listdir(data):
            subdir = os.path.join(data, sub)
            if not os.path.isdir(subdir):
                continue
            for name in os.listdir(subdir):
                path = os.path.join(subdir, name)
                keep = path in live
                # _SUCCESS / .crc sidecars live or die with their dir
                if not name.endswith(".parquet"):
                    continue
                if not keep:
                    os.remove(path)
                    removed += 1
            if not any(n.endswith(".parquet") for n in os.listdir(subdir)):
                import shutil

                shutil.rmtree(subdir, ignore_errors=True)
        return removed


def refresh_aggregate(
    agg: DataFrame,
    changes: DataFrame,
    keys: "list[str]",
    sums: "dict[str, str]",
    count_col: str = "n_rows",
) -> DataFrame:
    """Incremental view maintenance for a grouped COUNT/SUM aggregate:
    fold a :meth:`SnapshotStore.changes` feed into the previously
    materialized aggregate WITHOUT rescanning the base table.

    `agg` carries `keys + count_col + sums.values()`; `changes` carries
    `keys + sums.keys() + change_type` ('insert'/'delete' — an update is
    its delete+insert pair, which is exactly what makes SUM/COUNT
    refreshable by sign). Groups whose refreshed count reaches zero drop
    out, matching a full recompute. Cost is O(|changes|) + one small
    shuffle on the group keys — the 100 TB refresh shape: the base table
    (and the files behind the old aggregate) are never read again.

    COUNT and SUM are self-maintainable; MIN/MAX are not (a delete of the
    current extremum forces a rescan) — callers needing those keep them
    out of the incremental path by design.
    """
    import pyspark.sql.functions as F

    sign = F.when(F.col("change_type") == "insert", F.lit(1)).otherwise(
        F.lit(-1)
    )
    delta = changes.groupBy(*keys).agg(
        F.sum(sign).alias(count_col),
        *[
            F.sum(sign * F.col(src).cast("bigint")).alias(dst)
            for src, dst in sums.items()
        ],
    )
    merged = agg.select(*keys, count_col, *sums.values()).unionByName(delta)
    return (
        merged.groupBy(*keys)
        .agg(
            F.sum(count_col).alias(count_col),
            *[F.sum(dst).alias(dst) for dst in sums.values()],
        )
        .filter(F.col(count_col) > 0)
    )

"""Plain-parquet warehouse tables with idempotent writes.

The reference's warehouse is SQL Server tables with IF-NOT-EXISTS / MERGE
semantics (SURVEY §2.3). On a data lake without a table format, this module
provides the same guarantees over plain parquet:

- ``append``: partition-aware append (the cheap path — use for Bronze).
- ``overwrite_versioned``: writes to a fresh ``_v{n}`` directory, then flips a
  tiny ``_CURRENT`` pointer file — readers never observe a half-written table
  and a crashed writer leaves the previous version intact (poor-man's
  atomicity; a real deployment swaps in Delta/Iceberg whose MERGE/commit
  protocol this interface mirrors 1:1).
- ``merge``: anti-join/upsert via :mod:`operators.merge`, materialized through
  ``overwrite_versioned``.

Scale notes: merge rewrites the table, so keep tables **partitioned by a
date-derived column** and merge per partition (pass ``partition_filter``) —
that bounds each merge to the touched partitions, which is exactly how the
reference's daily re-imports behave (docs/sql_server.md:91-96).
"""

from __future__ import annotations

import os
import shutil
import uuid
from collections.abc import Sequence

from pyspark.sql import DataFrame, DataFrameWriter, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from schwab_elt_etl_pipeline_spark.operators.merge import insert_new, merge_upsert

_POINTER = "_CURRENT"


def _footer_rows(path: str) -> int:
    """Row count of a parquet file, read from its footer."""
    import pyarrow.parquet as pq

    return pq.read_metadata(path).num_rows


def zorder_code(df: DataFrame, cols: Sequence[str], bits: int = 16) -> DataFrame:
    """Attach a Morton (Z-order) code column ``_zorder`` interleaving the
    bit patterns of ``cols`` (2-4 columns, ``bits`` bits each, ≤ 64 total).

    Each column is min-max normalized to a ``bits``-bit integer (one tiny
    global aggregate — metadata-scale, collected once per write), then the
    bits are interleaved so that sorting by ``_zorder`` places rows close in
    EVERY clustered dimension into the same file. Range-clustering on
    (a, b) gives disjoint file ranges only for ``a``; Z-ordering gives each
    file a small hyper-rectangle, so parquet footer min/max stats prune
    files for predicates on ``a`` OR ``b`` — the Delta/Iceberg Z-ORDER
    layout rebuilt from public bit-interleaving math on native expressions
    (shift/and/or — fully codegen'd, no UDF).

    Min-max normalization (not quantile ranks) keeps the write single-pass;
    heavily skewed columns should pre-transform (e.g. log) before
    clustering — same guidance Delta's OPTIMIZE ZORDER docs give.
    """
    k = len(cols)
    if not 2 <= k <= 4:
        raise ValueError("zorder_code expects 2-4 columns")
    if bits * k > 63:
        bits = 63 // k
    bounds = df.agg(
        *[F.min(F.col(c).cast("double")).alias(f"_min_{i}") for i, c in enumerate(cols)],
        *[F.max(F.col(c).cast("double")).alias(f"_max_{i}") for i, c in enumerate(cols)],
    ).collect()[0]
    top = (1 << bits) - 1
    code = F.lit(0).cast("long")
    for i, c in enumerate(cols):
        lo, hi = bounds[f"_min_{i}"], bounds[f"_max_{i}"]
        if lo is None or hi is None:  # empty table / all-NULL column:
            lo, hi = 0.0, 0.0  # every row lands in bucket 0 (NULL rule)
        span = (hi - lo) or 1.0
        q = F.least(
            F.lit(top),
            F.floor((F.col(c).cast("double") - F.lit(lo)) / F.lit(span) * F.lit(top + 1)),
        ).cast("long")
        # NULLs sort first: map to bucket 0
        q = F.coalesce(q, F.lit(0).cast("long"))
        for j in range(bits):
            bit = F.shiftright(q, j).bitwiseAND(F.lit(1))
            code = code.bitwiseOR(F.shiftleft(bit, j * k + i))
    return df.withColumn("_zorder", code)


class ConcurrentWriteConflict(RuntimeError):
    """Another writer committed between this writer's snapshot and its
    commit — the read-modify-write result is stale (a blind commit would be
    a lost update). Callers retry from a fresh read; :meth:`ParquetTable.merge`
    does so automatically."""


class ParquetTable:
    """A named parquet table rooted at ``path`` with versioned overwrites."""

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        partition_by: Sequence[str] = (),
        cluster_by: Sequence[str] = (),
        cluster_files: int | None = None,
        cluster_order: str = "range",
        compression: str | None = None,
    ):
        self.spark = spark
        self.path = path.rstrip("/")
        self.partition_by = list(partition_by)
        # Parquet codec for THIS table's files (None -> session default).
        # At warehouse scale "zstd" is the right default for cold data
        # (~25-40 % smaller than snappy at comparable scan cost on modern
        # CPUs); left per-table so hot append logs can stay on snappy.
        self.compression = compression
        # Clustered layout = the engine's replacement for the reference's
        # NONCLUSTERED point-lookup indexes (sql/chains.sql:33-36): range-
        # repartition + sort-within-partitions on the cluster key at write
        # time gives every data file a DISJOINT min/max range, so parquet
        # footer stats skip whole files/row-groups on key predicates —
        # a coarse B-tree the scan gets for free.
        self.cluster_by = list(cluster_by)
        # None -> range-partition count follows shuffle.partitions + AQE
        # coalescing (small tables legitimately collapse to one file); set
        # explicitly to pin the file fan-out.
        self.cluster_files = cluster_files
        # "range" (default): lexicographic range clustering — disjoint file
        # ranges on the FIRST key. "zorder": Morton interleave of 2-4 keys —
        # each file a small hyper-rectangle, footer-stat pruning on ANY key.
        if cluster_order not in ("range", "zorder"):
            raise ValueError(f"cluster_order must be 'range' or 'zorder': {cluster_order}")
        self.cluster_order = cluster_order
        # version -> the schema its first read inferred (see :meth:`read`)
        self._schemas: dict[int, StructType] = {}
        os.makedirs(self.path, exist_ok=True)

    def _layout(self, df: DataFrame) -> DataFrame:
        if not self.cluster_by:
            return df
        if self.cluster_order == "zorder" and len(self.cluster_by) >= 2:
            coded = zorder_code(df, self.cluster_by)
            ranged = (
                coded.repartitionByRange(self.cluster_files, "_zorder")
                if self.cluster_files
                else coded.repartitionByRange("_zorder")
            )
            return ranged.sortWithinPartitions("_zorder").drop("_zorder")
        cols = list(self.cluster_by)
        ranged = (
            df.repartitionByRange(self.cluster_files, *cols)
            if self.cluster_files
            else df.repartitionByRange(*cols)
        )
        return ranged.sortWithinPartitions(*cols)

    # -- version pointer ----------------------------------------------------
    def _pointer_file(self) -> str:
        return os.path.join(self.path, _POINTER)

    def current_version(self) -> int | None:
        try:
            with open(self._pointer_file()) as fh:
                return int(fh.read().strip())
        except (FileNotFoundError, ValueError):
            return None

    def _version_dir(self, version: int) -> str:
        return os.path.join(self.path, f"_v{version}")

    def exists(self) -> bool:
        return self.current_version() is not None

    # -- read/write ---------------------------------------------------------
    def read(self, version: int | None = None, merge_schema: bool = False) -> DataFrame:
        """Read the current version, or time-travel to an earlier one (older
        ``_v{n}`` dirs stay on disk until :meth:`vacuum`).

        The first read of a version infers its schema (one Spark job over a
        file footer); the table remembers it and hands it to every later
        reader of that version, so they launch no job. A write through this
        table that changes a version's data columns, or adds a partition
        directory, forgets the remembered schema.

        ``merge_schema=True`` unions the schemas of all data files (columns
        added by an evolved :meth:`append` read as NULL in pre-evolution
        files) — the Delta/Iceberg schema-evolution read, at the cost of a
        footer read per file; it always infers. Without it the scan trusts
        one file's schema.
        """
        if version is None:
            version = self.current_version()
        if version is None:
            raise FileNotFoundError(f"table has no committed version: {self.path}")
        vdir = self._version_dir(version)
        if not os.path.isdir(vdir):
            raise FileNotFoundError(f"version {version} not found (vacuumed?): {vdir}")
        if merge_schema:
            return self.spark.read.option("mergeSchema", "true").parquet(vdir)
        schema = self._schemas.get(version)
        if schema is not None:
            return self.spark.read.schema(schema).parquet(vdir)
        df = self.spark.read.parquet(vdir)
        self._schemas[version] = df.schema
        return df

    def _data_types(self, schema: StructType) -> dict[str, str]:
        """Data (non-partition) column -> type, nullability ignored."""
        return {
            f.name: f.dataType.simpleString()
            for f in schema.fields
            if f.name not in self.partition_by
        }

    def _note_write(self, version: int, df: DataFrame, new_partition: bool) -> None:
        """Forget ``version``'s remembered schema if rows just written into
        it could change what inference finds there."""
        known = self._schemas.get(version)
        if known is not None and (
            new_partition or self._data_types(known) != self._data_types(df.schema)
        ):
            del self._schemas[version]

    def vacuum(self, keep_last: int = 1) -> list[int]:
        """Delete all but the newest ``keep_last`` versions (never the
        current one). Returns the versions removed."""
        current = self.current_version()
        if current is None:
            return []
        keep_from = max(1, current - max(keep_last, 1) + 1)
        removed = []
        for v in range(1, keep_from):
            vdir = self._version_dir(v)
            if os.path.isdir(vdir):
                shutil.rmtree(vdir)
                removed.append(v)
        return removed

    def overwrite_versioned(self, df: DataFrame, base_version: int | None = None) -> int:
        """Write a new version directory, then atomically flip the pointer.

        Concurrent-writer protocol (single filesystem namespace; the same
        shape a Delta/Iceberg commit service provides):

        1. The data is written to a private ``_staging_<uuid>`` dir — never
           into a version dir another writer could also be writing.
        2. The version number is CLAIMED by an atomic directory rename
           (``os.rename`` staging → ``_v{n}`` fails if ``_v{n}`` exists);
           on collision the writer claims the next number. Two interleaved
           writers therefore never mix files in one version dir.
        3. The pointer flips monotonically (only forward) via tmp +
           ``os.replace`` — blind overwrites are last-writer-wins with every
           committed version intact and time-travelable.

        ``base_version``: optimistic-concurrency check for read-modify-write
        callers. Pass the version the new content was DERIVED from; if any
        other writer committed since, the commit aborts with
        :class:`ConcurrentWriteConflict` (staging cleaned up, table
        untouched) instead of silently losing the other writer's rows.
        """
        staging = self._stage(df)
        if base_version is not None and (self.current_version() or 0) != base_version:
            shutil.rmtree(staging, ignore_errors=True)
            raise ConcurrentWriteConflict(
                f"table {self.path}: base version {base_version} is no longer "
                f"current ({self.current_version()})"
            )
        # With base_version, claim EXACTLY base+1: re-reading the pointer
        # here would reopen the check-then-claim window (a writer committing
        # between our check and the claim would slide us to base+2 and both
        # commits would "succeed", silently dropping the other's rows). The
        # os.rename collision on _v{base+1} is the atomic conflict detector.
        version = (
            base_version + 1
            if base_version is not None
            else (self.current_version() or 0) + 1
        )
        while True:
            try:
                os.rename(staging, self._version_dir(version))  # atomic claim
                break
            except OSError:
                if base_version is not None:
                    shutil.rmtree(staging, ignore_errors=True)
                    raise ConcurrentWriteConflict(
                        f"table {self.path}: version {version} was claimed by "
                        "a concurrent writer"
                    ) from None
                version += 1  # last-writer-wins path: take the next slot

        self._schemas.pop(version, None)  # a recreated table may reuse the number
        self._flip_pointer_monotonic(version)
        return version

    def _writer(self, df: DataFrame) -> DataFrameWriter:
        """``df`` in the table's layout, codec and partitioning, to write."""
        writer = self._layout(df).write
        if self.compression:
            writer = writer.option("compression", self.compression)
        if self.partition_by:
            writer = writer.partitionBy(*self.partition_by)
        return writer

    def _stage(self, df: DataFrame) -> str:
        """Write ``df`` into a private ``_staging_<uuid>`` dir and return its
        path. A write that raises removes the dir before the error
        propagates, so a failed write leaves nothing in the table root."""
        staging = os.path.join(self.path, f"_staging_{uuid.uuid4().hex}")
        try:
            self._writer(df).mode("overwrite").parquet(staging)
        except BaseException:
            shutil.rmtree(staging, ignore_errors=True)
            raise
        return staging

    def _flip_pointer_monotonic(self, version: int) -> None:
        """Advance the pointer to ``version`` iff it is ahead of the current
        value, under a lock file: a bare check-then-replace lets a slower
        writer's stale check overwrite a newer pointer (A claims v2, B claims
        v3 and flips, A's earlier `current < 2` check then flips BACK to 2 —
        pointer regression hides B's committed rows). The lock serializes
        check+write; stale locks (crashed writer) break after 60 s."""
        import time

        lock = os.path.join(self.path, "_pointer.lock")
        while True:
            try:
                fd = os.open(lock, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
                os.close(fd)
                break
            except FileExistsError:
                try:
                    if time.time() - os.path.getmtime(lock) > 60:
                        os.unlink(lock)  # crashed holder
                        continue
                except OSError:
                    continue  # lock vanished between exists and stat
                time.sleep(0.01)
        try:
            if (self.current_version() or 0) < version:
                tmp = self._pointer_file() + f".tmp_{uuid.uuid4().hex}"
                with open(tmp, "w") as fh:
                    fh.write(str(version))
                os.replace(tmp, self._pointer_file())  # atomic on POSIX
        finally:
            try:
                os.unlink(lock)
            except OSError:
                pass

    def append(self, df: DataFrame) -> None:
        """Append into the CURRENT version dir (Bronze-style append log).

        Clustered layout is applied to the BATCH, so files within one append
        have disjoint cluster-key ranges; ranges may still overlap ACROSS
        appends (two appends can both span the full key space), so the
        table-wide disjoint-file invariant — maximal footer-stat skipping —
        is only guaranteed after :meth:`overwrite_versioned` or
        :meth:`compact`. Appends degrade gracefully (per-batch skipping)
        until the next compaction, exactly like a Delta/Iceberg table between
        OPTIMIZE runs.
        """
        version = self.current_version()
        if version is None:
            self.overwrite_versioned(df)
            return
        self._writer(df).mode("append").parquet(self._version_dir(version))
        self._note_write(version, df, new_partition=bool(self.partition_by))

    # -- idempotent loads ---------------------------------------------------
    def insert_new(self, batch: DataFrame, keys: Sequence[str]) -> int:
        """IF-NOT-EXISTS semantics (J3/J9): append only unseen keys.
        Returns the number of rows inserted.

        One Spark write per call. The anti-join result is written once into
        a private ``_staging_<uuid>`` dir; the row count comes from the
        staged files' parquet footers, and only the files that hold rows
        move into the current version dir (under their ``col=val/`` dirs
        when partitioned). A zero-row insert therefore leaves the table's
        files untouched, and a write that raises leaves no staging dir.
        The first insert into a missing table commits version 1 through
        :meth:`overwrite_versioned` and counts its files the same way.

        Concurrency: the append path assumes ONE writer per key space (the
        streaming foreachBatch contract — Structured Streaming serializes
        batches per query). Two concurrent ``insert_new`` writers could both
        pass the anti-join before either appends, double-inserting a key;
        multi-writer ingestion should go through :meth:`merge`
        (``insert_only=True``), whose optimistic conflict detection retries
        from a fresh read instead."""
        if not self.exists():
            version = self.overwrite_versioned(batch.dropDuplicates(list(keys)))
            return sum(_footer_rows(f) for f in self.data_files(version))
        fresh = insert_new(batch, self.read(), keys=keys)
        staging = self._stage(fresh)
        try:
            version = self.current_version()
            vdir = self._version_dir(version)
            inserted, new_partition = 0, False
            for root, _dirs, files in os.walk(staging):
                dest = os.path.join(vdir, os.path.relpath(root, staging))
                for name in files:
                    src = os.path.join(root, name)
                    rows = _footer_rows(src) if name.endswith(".parquet") else 0
                    if not rows:
                        continue
                    if not os.path.isdir(dest):
                        os.makedirs(dest)
                        new_partition = True
                    os.rename(src, os.path.join(dest, name))
                    inserted += rows
        finally:
            shutil.rmtree(staging, ignore_errors=True)
        if inserted:
            self._note_write(version, fresh, new_partition)
        return inserted

    def merge(
        self,
        batch: DataFrame,
        keys: Sequence[str],
        insert_only: bool = False,
        max_retries: int = 3,
    ) -> int:
        """MERGE semantics (J7/J8) materialized as a new version.

        Read-modify-write under optimistic concurrency: the merge snapshots
        the current version, computes the merged table, and commits with
        ``base_version`` conflict detection. If a concurrent writer committed
        in between (their rows would otherwise be silently lost), the merge
        re-reads and retries — MERGE idempotence on keys makes the retry safe.
        """
        last: ConcurrentWriteConflict | None = None
        for _ in range(max_retries + 1):
            base = self.current_version()
            if base is None:
                try:
                    return self.overwrite_versioned(
                        batch.dropDuplicates(list(keys)), base_version=0
                    )
                except ConcurrentWriteConflict as exc:
                    last = exc
                    continue  # another writer created the table — merge into it
            merged = merge_upsert(
                batch, self.read(base), keys=keys, insert_only=insert_only
            )
            try:
                return self.overwrite_versioned(merged, base_version=base)
            except ConcurrentWriteConflict as exc:
                last = exc
        raise last if last is not None else RuntimeError("merge failed")

    # -- maintenance ---------------------------------------------------------
    def diff(
        self,
        keys: Sequence[str],
        old_version: int,
        new_version: int | None = None,
    ) -> DataFrame:
        """Change-data-feed between two versions: one row per changed key
        with ``_change_type`` ∈ {insert, delete, update}.

        Full outer join on the key between the two version snapshots;
        non-key columns are compared as a struct (null-safe). Output carries
        the NEW row's columns for inserts/updates and the OLD row's for
        deletes — the shape downstream incremental consumers (sync jobs,
        cache invalidation, audit) replay. At scale both sides shuffle once
        on the key; with ``cluster_by`` on the key, footer-stat pruning keeps
        a partial diff (key-range predicate pushed before calling) cheap.
        """
        key_list = list(keys)
        new_df = self.read(new_version)
        old_df = self.read(old_version)
        value_cols = [c for c in new_df.columns if c not in key_list]
        n = new_df.select(
            *key_list, F.struct(*value_cols).alias("_new"), F.lit(1).alias("_in_new")
        )
        o = old_df.select(
            *key_list, F.struct(*value_cols).alias("_old"), F.lit(1).alias("_in_old")
        )
        joined = n.join(o, key_list, "full_outer")
        change = (
            F.when(F.col("_in_old").isNull(), F.lit("insert"))
            .when(F.col("_in_new").isNull(), F.lit("delete"))
            .when(~F.col("_new").eqNullSafe(F.col("_old")), F.lit("update"))
        )
        picked = F.when(F.col("_in_new").isNotNull(), F.col("_new")).otherwise(
            F.col("_old")
        )
        return (
            joined.withColumn("_change_type", change)
            .filter(F.col("_change_type").isNotNull())
            .select(
                *key_list,
                "_change_type",
                *[picked[c].alias(c) for c in value_cols],
            )
        )

    def data_files(self, version: int | None = None) -> list[str]:
        """Parquet data files of a version (for size/compaction accounting)."""
        if version is None:
            version = self.current_version()
        if version is None:
            return []
        out = []
        for root, _dirs, files in os.walk(self._version_dir(version)):
            out.extend(
                os.path.join(root, f) for f in files if f.endswith(".parquet")
            )
        return out

    def compact(self, target_file_bytes: int = 128 * 1024 * 1024) -> int:
        """Rewrite the current version into right-sized files (OPTIMIZE).

        Streaming/micro-batch appends accumulate one small file per trigger —
        at scale the file-listing and per-file open costs dominate scans long
        before the data does. Compaction bins the current bytes into
        ``target_file_bytes`` files (per partition-key when partitioned: each
        output partition is written by one task → one file) and commits as a
        NEW version via the same atomic pointer flip, so readers never see a
        half-compacted table and time travel to the pre-compaction version
        still works until :meth:`vacuum`. Returns the new version number.
        """
        files = self.data_files()
        total = sum(os.path.getsize(f) for f in files)
        df = self.read()
        if self.cluster_by:
            compacted = df  # overwrite_versioned re-applies the clustered layout
        elif self.partition_by:
            compacted = df.repartition(*self.partition_by)
        else:
            n_files = max(1, -(-total // max(target_file_bytes, 1)))
            compacted = df.repartition(int(n_files))
        return self.overwrite_versioned(compacted)


def save_bucketed(
    df: DataFrame,
    table: str,
    bucket_cols: Sequence[str],
    num_buckets: int = 8,
    sort: bool = True,
) -> None:
    """Persist as a BUCKETED catalog table (SURVEY §4: the replacement for the
    reference's B-tree join indexes).

    Two tables bucketed on the same keys with the same bucket count join
    WITHOUT a shuffle — the hash partitioning is baked into the file layout at
    write time, which is the big-join co-location strategy at 100 TB (pay the
    shuffle once at load, never at query time). ``sortBy`` additionally makes
    the join a merge of pre-sorted buckets.
    """
    writer = df.write.mode("overwrite").bucketBy(num_buckets, *bucket_cols)
    if sort:
        writer = writer.sortBy(*bucket_cols)
    writer.saveAsTable(table)

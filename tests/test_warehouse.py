"""Warehouse table tests: versioned overwrite atomicity, idempotent
insert_new, MERGE, partitioned layout (SURVEY §2.1 S5/S6/S8, §2.3 J7/J8)."""

from __future__ import annotations

import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from schwab_elt_etl_pipeline_spark.sources.warehouse import ParquetTable


@pytest.fixture()
def table_dir():
    d = tempfile.mkdtemp(prefix="wh_")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def test_versioned_overwrite_and_read(spark, table_dir):
    t = ParquetTable(spark, table_dir)
    assert not t.exists()
    with pytest.raises(FileNotFoundError):
        t.read()

    df = spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string")
    v1 = t.overwrite_versioned(df)
    assert v1 == 1 and t.read().count() == 2

    v2 = t.overwrite_versioned(df.withColumn("v", F.upper("v")))
    assert v2 == 2
    assert {r["v"] for r in t.read().collect()} == {"A", "B"}


def test_insert_new_idempotent(spark, table_dir):
    t = ParquetTable(spark, table_dir)
    batch = spark.createDataFrame([(1, "a"), (2, "b"), (2, "b2")], "k long, v string")
    assert t.insert_new(batch, keys=["k"]) == 2  # in-batch dup collapsed
    assert t.insert_new(batch, keys=["k"]) == 0  # re-run inserts nothing
    batch2 = spark.createDataFrame([(2, "x"), (3, "c")], "k long, v string")
    assert t.insert_new(batch2, keys=["k"]) == 1  # only the new key
    assert t.read().count() == 3


def test_merge_upsert(spark, table_dir):
    t = ParquetTable(spark, table_dir)
    t.overwrite_versioned(spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string"))
    t.merge(spark.createDataFrame([(2, "B"), (3, "c")], "k long, v string"), keys=["k"])
    rows = {r["k"]: r["v"] for r in t.read().collect()}
    assert rows == {1: "a", 2: "B", 3: "c"}  # update + insert + retain

    t.merge(spark.createDataFrame([(3, "IGNORED"), (4, "d")], "k long, v string"),
            keys=["k"], insert_only=True)
    rows = {r["k"]: r["v"] for r in t.read().collect()}
    assert rows[3] == "c" and rows[4] == "d"  # insert-only keeps target row


def test_time_travel_and_vacuum(spark, table_dir):
    t = ParquetTable(spark, table_dir)
    for i in range(3):
        t.overwrite_versioned(
            spark.createDataFrame([(1, f"v{i + 1}")], "k long, v string")
        )
    assert t.current_version() == 3
    assert t.read(version=1).first()["v"] == "v1"  # time travel
    assert t.read().first()["v"] == "v3"

    removed = t.vacuum(keep_last=1)
    assert removed == [1, 2]
    assert t.read().first()["v"] == "v3"  # current untouched
    with pytest.raises(FileNotFoundError):
        t.read(version=1)


def test_partitioned_layout_prunes(spark, table_dir):
    t = ParquetTable(spark, table_dir, partition_by=["d"])
    df = spark.range(100).select(
        F.col("id").alias("k"), (F.col("id") % 4).alias("d")
    )
    t.overwrite_versioned(df)
    scan = t.read().filter(F.col("d") == 2)
    plan = scan._jdf.queryExecution().executedPlan().toString()
    assert scan.count() == 25
    # partition pruning: the partition filter reaches the scan
    assert "PartitionFilters: [isnotnull(d" in plan


def test_compact_merges_small_files(spark, table_dir):
    """Many micro-batch appends → many small files; compact() rewrites them
    into few files as a new version, identical data, old version intact."""
    t = ParquetTable(spark, table_dir)
    for i in range(6):  # six appends = at least six data files
        t.overwrite_versioned(spark.range(10).withColumn("b", F.lit(i))) if i == 0 else t.append(
            spark.range(i * 10, i * 10 + 10).withColumn("b", F.lit(i))
        )
    pre_files = t.data_files()
    assert len(pre_files) >= 6
    pre_version = t.current_version()
    pre_rows = sorted(r["id"] for r in t.read().collect())

    new_version = t.compact(target_file_bytes=1 << 30)  # everything into 1 file
    assert new_version == pre_version + 1
    assert len(t.data_files()) == 1
    assert sorted(r["id"] for r in t.read().collect()) == pre_rows
    # pre-compaction version still time-travelable until vacuum
    assert t.read(version=pre_version).count() == len(pre_rows)


def test_compact_partitioned_one_file_per_partition(spark, table_dir):
    t = ParquetTable(spark, table_dir, partition_by=["d"])
    t.overwrite_versioned(
        spark.range(20).withColumn("d", (F.col("id") % 2).cast("int")).repartition(4)
    )
    t.append(spark.range(20, 40).withColumn("d", (F.col("id") % 2).cast("int")).repartition(4))
    assert len(t.data_files()) > 2
    t.compact()
    files = t.data_files()
    assert len(files) == 2  # one per partition value
    assert t.read().count() == 40


def test_dynamic_partition_pruning_on_partitioned_table(spark, table_dir):
    """At 100 TB the fact table is date-partitioned; joining through a
    filtered dim must prune partitions at RUNTIME (DPP), not scan all of
    them. The partitioned warehouse layout + a broadcastable filtered dim is
    exactly the shape Spark's dynamicpruningexpression needs."""
    fact = ParquetTable(spark, table_dir + "/fact", partition_by=["d"])
    fact.overwrite_versioned(
        spark.range(10_000).select(
            F.col("id"), (F.col("id") % 30).cast("int").alias("d"), (F.col("id") * 2).alias("v")
        )
    )
    dim = spark.range(30).select(
        F.col("id").alias("d_key"),
        F.when(F.col("id") < 3, "hot").otherwise("cold").alias("cls"),
    )
    j = fact.read().join(dim.filter(F.col("cls") == "hot"), F.col("d") == F.col("d_key"))
    plan = j._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruningexpression" in plan.lower()
    assert j.count() == 3 * 334  # 3 of 30 partitions survive (334 rows each)


def test_scd2_versions_and_idempotence(spark):
    from schwab_elt_etl_pipeline_spark.operators.scd import scd2_apply, scd2_init

    t1 = F.lit("1995-01-01 00:00:00").cast("timestamp_ntz")
    t2 = F.lit("2000-01-01 00:00:00").cast("timestamp_ntz")
    snap = spark.createDataFrame(
        [(1, "A"), (2, "B"), (3, None)], "k long, seg string"
    ).withColumn("effective_at", t1)
    dim = scd2_init(snap, keys=["k"], attrs=["seg"])

    upd = spark.createDataFrame(
        [(1, "A"), (2, "X"), (3, None), (4, "N")], "k long, seg string"
    ).withColumn("effective_at", t2)
    out = scd2_apply(dim, upd, keys=["k"], attrs=["seg"])
    rows = {(r["k"], r["is_current"]): r for r in out.collect()}

    # unchanged key keeps its open v1 (null-safe compare: 3 with NULL seg too)
    assert rows[(1, True)]["valid_from"].year == 1995
    assert rows[(3, True)]["valid_from"].year == 1995
    # changed key: closed v1 + open v2
    assert rows[(2, False)]["valid_to"].year == 2000 and rows[(2, False)]["seg"] == "B"
    assert rows[(2, True)]["seg"] == "X" and rows[(2, True)]["valid_to"] is None
    # brand-new key inserted open
    assert rows[(4, True)]["seg"] == "N"
    assert out.count() == 5

    # idempotence: re-applying the same snapshot changes nothing
    again = scd2_apply(out, upd, keys=["k"], attrs=["seg"])
    assert again.count() == out.count()
    assert again.filter(~F.col("is_current")).count() == 1


def test_scd2_asof_lookup(spark):
    """The point of SCD2: facts join the dimension AS OF their event time via
    the validity interval."""
    from schwab_elt_etl_pipeline_spark.operators.scd import scd2_apply, scd2_init

    t1 = F.lit("1995-01-01 00:00:00").cast("timestamp_ntz")
    t2 = F.lit("2000-01-01 00:00:00").cast("timestamp_ntz")
    dim = scd2_init(
        spark.createDataFrame([(1, "OLD")], "k long, seg string").withColumn("effective_at", t1),
        keys=["k"], attrs=["seg"],
    )
    dim = scd2_apply(
        dim,
        spark.createDataFrame([(1, "NEW")], "k long, seg string").withColumn("effective_at", t2),
        keys=["k"], attrs=["seg"],
    )
    facts = spark.createDataFrame(
        [(10, 1, "1997-06-01 00:00:00"), (11, 1, "2003-06-01 00:00:00")],
        "fid long, k long, at string",
    ).withColumn("at", F.col("at").cast("timestamp_ntz"))
    enriched = facts.join(
        dim,
        (facts.k == dim.k)
        & (facts.at >= dim.valid_from)
        & (facts.at < F.coalesce(dim.valid_to, F.lit("9999-01-01").cast("timestamp_ntz"))),
    )
    got = {r["fid"]: r["seg"] for r in enriched.collect()}
    assert got == {10: "OLD", 11: "NEW"}


def test_scd2_multirow_update_batch_keeps_one_version(spark):
    """A CDC batch carrying several changes for one key must collapse to the
    LATEST change — not fan out into multiple open versions."""
    from schwab_elt_etl_pipeline_spark.operators.scd import scd2_apply, scd2_init

    t1 = F.lit("1995-01-01 00:00:00").cast("timestamp_ntz")
    dim = scd2_init(
        spark.createDataFrame([(1, "A")], "k long, seg string").withColumn("effective_at", t1),
        keys=["k"], attrs=["seg"],
    )
    upd = spark.createDataFrame(
        [
            (1, "MID", "2000-01-01 00:00:00"),
            (1, "LATEST", "2001-01-01 00:00:00"),
            (1, "MID2", "2000-06-01 00:00:00"),
        ],
        "k long, seg string, effective_at string",
    ).withColumn("effective_at", F.col("effective_at").cast("timestamp_ntz"))
    out = scd2_apply(dim, upd, keys=["k"], attrs=["seg"])
    open_rows = out.filter(F.col("is_current")).collect()
    assert len(open_rows) == 1 and open_rows[0]["seg"] == "LATEST"
    assert out.count() == 2  # closed v1 + one open version


def test_clustered_layout_gives_disjoint_file_ranges(spark, table_dir):
    """cluster_by = the B-tree-index replacement: every data file must own a
    DISJOINT range of the cluster key, so parquet footer min/max stats skip
    whole files on key predicates. Shuffled input proves the layout comes
    from the write path, not input order."""
    import pyarrow.parquet as pq

    t = ParquetTable(spark, table_dir, cluster_by=["k"], cluster_files=8)
    df = (
        spark.range(10_000)
        .select((F.xxhash64("id") % 10_000).alias("shuffle_key"), F.col("id").alias("k"))
        .orderBy("shuffle_key")
        .drop("shuffle_key")
        .repartition(8)
    )
    t.overwrite_versioned(df)

    ranges = []
    for f in t.data_files():
        md = pq.ParquetFile(f).metadata
        stats = [md.row_group(i).column(0).statistics for i in range(md.num_row_groups)]
        ranges.append((min(s.min for s in stats), max(s.max for s in stats)))
    ranges.sort()
    assert len(ranges) > 1, "need multiple files to demonstrate skipping"
    for (_, hi_prev), (lo_next, _) in zip(ranges, ranges[1:]):
        assert hi_prev < lo_next, f"overlapping file ranges: {ranges}"

    # correctness unchanged and a point predicate still finds its row
    assert t.read().count() == 10_000
    assert t.read().filter(F.col("k") == 1234).count() == 1

    # compaction preserves the clustered layout
    t.compact()
    f0 = t.data_files()[0]
    s = pq.ParquetFile(f0).metadata.row_group(0).column(0).statistics
    assert s is not None and s.has_min_max


def test_interleaved_overwrites_never_mix_files(spark, table_dir):
    """Two writers interleaving blind overwrites: each claims its OWN version
    dir (atomic rename), the pointer lands on the last committer, and both
    versions stay intact/time-travelable — no torn table, no mixed files."""
    t_a = ParquetTable(spark, table_dir)
    t_b = ParquetTable(spark, table_dir)  # second handle = second writer
    t_a.overwrite_versioned(spark.createDataFrame([(1, "base")], "k long, v string"))

    va = t_a.overwrite_versioned(spark.createDataFrame([(1, "from_A")], "k long, v string"))
    vb = t_b.overwrite_versioned(spark.createDataFrame([(1, "from_B")], "k long, v string"))
    assert {va, vb} == {2, 3}  # distinct claimed versions
    assert t_a.current_version() == 3  # last writer wins the pointer
    assert t_a.read().first()["v"] == "from_B"
    assert t_a.read(version=va).first()["v"] == "from_A"  # A's commit intact


def test_merge_conflict_detection_and_retry(spark, table_dir):
    """Read-modify-write under a concurrent commit: a stale merge must NOT
    silently drop the other writer's rows. With retries disabled it raises
    ConcurrentWriteConflict; with retries it re-reads and lands BOTH
    writers' rows."""
    from schwab_elt_etl_pipeline_spark.sources.warehouse import (
        ConcurrentWriteConflict,
        ParquetTable as PT,
    )

    t = PT(spark, table_dir)
    t.overwrite_versioned(spark.createDataFrame([(1, "a")], "k long, v string"))

    # simulate: merge snapshots base, then another writer commits
    base = t.current_version()
    merged_stale = spark.createDataFrame([(1, "a"), (2, "mine")], "k long, v string")
    other = PT(spark, table_dir)
    other.merge(spark.createDataFrame([(9, "theirs")], "k long, v string"), keys=["k"])
    with pytest.raises(ConcurrentWriteConflict):
        t.overwrite_versioned(merged_stale, base_version=base)
    # the conflicting writer's row survived, staging cleaned up
    assert {r["k"] for r in t.read().collect()} == {1, 9}
    assert not [d for d in __import__("os").listdir(table_dir) if d.startswith("_staging")]

    # automatic retry path: merge() re-reads and preserves both writers
    t.merge(spark.createDataFrame([(2, "mine")], "k long, v string"), keys=["k"])
    assert {r["k"] for r in t.read().collect()} == {1, 2, 9}


def test_merge_keeps_an_insert_new_append_between_its_read_and_commit(
    spark, table_dir, monkeypatch
):
    """``insert_new`` moves its files into the current version dir without
    bumping the version, so ``base_version`` alone cannot see it: the merge
    must notice the changed file set and retry, not drop the live row."""
    import schwab_elt_etl_pipeline_spark.sources.warehouse as warehouse

    t = ParquetTable(spark, table_dir)
    t.overwrite_versioned(spark.createDataFrame([(1, "a")], "k long, v string"))
    live = spark.createDataFrame([(3, "live")], "k long, v string")
    real_merge_upsert = warehouse.merge_upsert
    calls = []

    def merge_upsert_after_a_live_append(*args, **kwargs):
        if not calls:
            t.insert_new(live, keys=["k"])  # lands after merge read the table
        calls.append(1)
        return real_merge_upsert(*args, **kwargs)

    monkeypatch.setattr(warehouse, "merge_upsert", merge_upsert_after_a_live_append)
    t.merge(spark.createDataFrame([(2, "b")], "k long, v string"), keys=["k"])
    assert sorted(tuple(r) for r in t.read().collect()) == [(1, "a"), (2, "b"), (3, "live")]
    assert len(calls) == 2  # the first attempt conflicted and re-read


def test_merge_replay_idempotent_after_conflict_retry(spark, table_dir):
    """Replaying the same merge batch (crash-recovery contract) inserts
    nothing new even after the conflict-retry path ran."""
    t = ParquetTable(spark, table_dir)
    batch = spark.createDataFrame([(1, "x"), (2, "y")], "k long, v string")
    t.merge(batch, keys=["k"], insert_only=True)
    n = t.read().count()
    t.merge(batch, keys=["k"], insert_only=True)  # replay
    assert t.read().count() == n


def test_diff_change_data_feed(spark, table_dir):
    t = ParquetTable(spark, table_dir)
    t.overwrite_versioned(
        spark.createDataFrame(
            [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0)], "k long, v string, x double"
        )
    )
    t.overwrite_versioned(
        spark.createDataFrame(
            [(2, "b", 20.0), (3, "c2", 30.0), (4, "d", 40.0)], "k long, v string, x double"
        )
    )
    rows = {r["k"]: r for r in t.diff(["k"], old_version=1).collect()}
    assert rows[4]["_change_type"] == "insert" and rows[4]["v"] == "d"
    assert rows[1]["_change_type"] == "delete" and rows[1]["v"] == "a"
    assert rows[3]["_change_type"] == "update" and rows[3]["v"] == "c2"
    assert 2 not in rows  # unchanged rows are not in the feed
    assert set(t.diff(["k"], old_version=1).columns) == {"k", "_change_type", "v", "x"}


def test_diff_null_safe_and_identity(spark, table_dir):
    t = ParquetTable(spark, table_dir)
    t.overwrite_versioned(
        spark.createDataFrame([(1, None), (2, "b")], "k long, v string")
    )
    t.overwrite_versioned(
        spark.createDataFrame([(1, None), (2, None)], "k long, v string")
    )
    rows = {r["k"]: r for r in t.diff(["k"], old_version=1).collect()}
    assert 1 not in rows  # NULL == NULL under eqNullSafe: unchanged
    assert rows[2]["_change_type"] == "update"
    # diffing a version against itself is empty
    assert t.diff(["k"], old_version=2, new_version=2).count() == 0


def test_zorder_layout_prunes_both_dimensions(spark, table_dir):
    """Z-order clustering: each file owns a small hyper-rectangle of
    (x, y) — per-file footer ranges must be narrow in BOTH dimensions,
    which lexicographic range clustering cannot do for the second key."""
    import pyarrow.parquet as pq

    rows = 16_384
    side = 128  # x, y uniform on a 128x128 grid
    base = spark.range(rows).select(
        (F.col("id") % side).alias("x"),
        ((F.col("id") / side).cast("long") % side).alias("y"),
        F.col("id").alias("payload"),
    )
    # shuffle input order so the layout provably comes from the write path
    base = base.orderBy(F.xxhash64("payload"))

    def file_fracs(t, col_idx):
        fracs = []
        for f in t.data_files():
            md = pq.ParquetFile(f).metadata
            stats = [
                md.row_group(i).column(col_idx).statistics
                for i in range(md.num_row_groups)
            ]
            lo = min(s.min for s in stats)
            hi = max(s.max for s in stats)
            fracs.append((hi - lo + 1) / side)
        return fracs

    tz = ParquetTable(
        spark, table_dir + "_z", cluster_by=["x", "y"], cluster_files=16,
        cluster_order="zorder",
    )
    tz.overwrite_versioned(base)
    xz, yz = file_fracs(tz, 0), file_fracs(tz, 1)
    # 16 files over a 128x128 grid: ideal Z-layout tiles ~32x64 cells
    # (fraction 0.25/0.5). Sampled range boundaries aren't quadrant-aligned,
    # so a file straddling a major curve jump may span one full dimension —
    # pruning is statistical, so assert on the MEAN per-file footprint:
    # both dimensions must be far below full range on average.
    assert sum(xz) / len(xz) <= 0.45, xz
    assert sum(yz) / len(yz) <= 0.45, yz

    tr = ParquetTable(
        spark, table_dir + "_r", cluster_by=["x", "y"], cluster_files=16
    )
    tr.overwrite_versioned(base)
    yr = file_fracs(tr, 1)
    # range clustering leaves the second dimension unclustered:
    # on average a file spans (nearly) the full y range
    assert sum(yr) / len(yr) > 0.85, yr

    # correctness unchanged
    assert tz.read().count() == rows
    assert tz.read().filter((F.col("x") == 5) & (F.col("y") == 7)).count() == 1


def test_schema_evolution_on_append(spark, table_dir):
    """Appending a batch with a new column evolves the table: mergeSchema
    reads see the union schema with NULLs for pre-evolution files."""
    t = ParquetTable(spark, table_dir)
    t.overwrite_versioned(spark.createDataFrame([(1, "a")], "k long, v string"))
    t.append(
        spark.createDataFrame([(2, "b", 9.5)], "k long, v string, score double")
    )
    evolved = t.read(merge_schema=True)
    assert set(evolved.columns) == {"k", "v", "score"}
    rows = {r["k"]: r for r in evolved.collect()}
    assert rows[1]["score"] is None and rows[2]["score"] == 9.5


def test_reader_snapshot_survives_concurrent_overwrite(spark, table_dir):
    """Snapshot isolation for readers: a plan bound to version N keeps
    reading N's files after the pointer flips to N+1 (overwrite writes a NEW
    version directory — it never mutates files a reader may hold), and the
    pinned version dies only when vacuum retention discards it."""
    t = ParquetTable(spark, table_dir)
    t.overwrite_versioned(spark.createDataFrame([(1, "old")], "k long, v string"))
    v_old = t.current_version()
    pinned = t.read(version=v_old)

    t.overwrite_versioned(spark.createDataFrame([(1, "new"), (2, "new")], "k long, v string"))
    # the pinned plan still serves the old snapshot; a fresh read sees new
    assert [r["v"] for r in pinned.collect()] == ["old"]
    assert {r["v"] for r in t.read().collect()} == {"new"}

    # retention: vacuum(keep_last=1) discards the old snapshot's files —
    # the documented bound on how long a pinned reader stays valid
    removed = t.vacuum(keep_last=1)
    assert v_old in removed
    with pytest.raises(Exception):
        t.read(version=v_old).collect()


def test_partition_spec_evolution_across_versions(spark, table_dir):
    """Partition-spec evolution: each version directory carries its own
    physical layout, so re-partitioning the table is just another versioned
    overwrite — old snapshots stay readable under their ORIGINAL spec (the
    Iceberg partition-evolution semantic on plain parquet)."""
    df = spark.range(40).select(
        F.col("id"),
        (F.col("id") % 4).cast("int").alias("d"),
        (F.col("id") % 2).cast("int").alias("e"),
    )
    t1 = ParquetTable(spark, table_dir, partition_by=["d"])
    v1 = t1.overwrite_versioned(df)
    t2 = ParquetTable(spark, table_dir, partition_by=["e"])
    v2 = t2.overwrite_versioned(df)

    old = t2.read(version=v1).filter(F.col("d") == 2)
    new = t2.read(version=v2).filter(F.col("e") == 1)
    assert old.count() == 10 and new.count() == 20
    # each version prunes on ITS OWN spec
    old_plan = old._jdf.queryExecution().executedPlan().toString()
    new_plan = new._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [isnotnull(d" in old_plan
    assert "PartitionFilters: [isnotnull(e" in new_plan


def test_optimistic_commit_detects_interleaved_claim(spark, tmp_path):
    """Regression for the check-then-claim race: a writer whose base-version
    precheck passed must STILL conflict if another writer claims the next
    version directory before it does (the os.rename collision is the atomic
    detector — the version must be base+1 exactly, never re-read)."""
    import os

    from schwab_elt_etl_pipeline_spark.sources.warehouse import (
        ConcurrentWriteConflict,
        ParquetTable,
    )

    t = ParquetTable(spark, str(tmp_path / "t"))
    df = spark.range(10).toDF("id")
    v1 = t.overwrite_versioned(df)
    assert v1 == 1

    # simulate a concurrent writer that has CLAIMED _v2 but not yet flipped
    # the pointer (a claim is an atomic rename of a POPULATED staging dir,
    # so the dir is never empty — rename onto a non-empty dir is what fails)
    os.makedirs(t._version_dir(2))
    marker = os.path.join(t._version_dir(2), "part-00000.parquet")
    with open(marker, "w") as fh:
        fh.write("x")
    with pytest.raises(ConcurrentWriteConflict):
        t.overwrite_versioned(df, base_version=1)
    # the loser must not have disturbed the claimed dir
    assert os.listdir(t._version_dir(2)) == ["part-00000.parquet"]


def test_per_table_compression_codec(spark, tmp_path):
    """compression='zstd' reaches the parquet files of both overwrite and
    append paths (file suffix carries the codec name)."""
    import os

    from schwab_elt_etl_pipeline_spark.sources.warehouse import ParquetTable

    t = ParquetTable(spark, str(tmp_path / "z"), compression="zstd")
    df = spark.range(100).withColumnRenamed("id", "k")
    t.overwrite_versioned(df)
    t.append(df)
    files = []
    for root, _, names in os.walk(t.path):
        files += [n for n in names if n.endswith(".parquet")]
    assert files and all(".zstd." in n for n in files)
    assert t.read().count() == 200


def _staging_dirs(t):
    import os

    return [d for d in os.listdir(t.path) if d.startswith("_staging_")]


def test_insert_new_zero_rows_leaves_files_untouched(spark, table_dir):
    t = ParquetTable(spark, table_dir)
    batch = spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string")
    t.insert_new(batch, keys=["k"])
    version, files = t.current_version(), sorted(t.data_files())

    assert t.insert_new(batch, keys=["k"]) == 0
    assert t.current_version() == version
    assert sorted(t.data_files()) == files
    assert not _staging_dirs(t)


def test_insert_new_returns_rows_added_on_create_and_append(spark, table_dir):
    t = ParquetTable(spark, table_dir)
    first = spark.range(50).select(F.col("id").alias("k"), (F.col("id") % 7).alias("v"))
    assert t.insert_new(first.unionByName(first), keys=["k"]) == 50  # create path
    assert t.read().count() == 50

    second = spark.range(40, 130).select(F.col("id").alias("k"), F.lit(0).cast("long").alias("v"))
    assert t.insert_new(second.repartition(3), keys=["k"]) == 80  # append path
    assert t.read().count() == 130
    assert not _staging_dirs(t)


def test_insert_new_partitioned_moves_files_into_partition_dirs(spark, table_dir):
    import os

    t = ParquetTable(spark, table_dir, partition_by=["d"])
    t.insert_new(spark.createDataFrame([(1, 0), (2, 1)], "k long, d int"), keys=["k"])
    assert t.read().count() == 2  # remembers a schema with d: int

    batch = spark.createDataFrame([(2, 1), (3, 1), (4, 2)], "k long, d int")
    assert t.insert_new(batch, keys=["k"]) == 2
    vdir = t._version_dir(t.current_version())
    for f in t.data_files():
        assert os.path.basename(os.path.dirname(f)) in {"d=0", "d=1", "d=2"}
    assert len(os.listdir(os.path.join(vdir, "d=2"))) >= 1
    got = {(r["k"], r["d"]) for r in t.read().collect()}
    assert got == {(1, 0), (2, 1), (3, 1), (4, 2)}
    assert t.read().filter(F.col("d") == 2).count() == 1


def test_read_after_append_sees_new_rows_through_remembered_schema(spark, table_dir):
    t = ParquetTable(spark, table_dir)
    t.insert_new(spark.createDataFrame([(1, "a")], "k long, v string"), keys=["k"])
    before = t.read()
    version = t.current_version()
    assert t._schemas[version] == before.schema

    assert t.insert_new(spark.createDataFrame([(2, "b")], "k long, v string"), keys=["k"]) == 1
    assert t._schemas[version] == before.schema  # still remembered
    assert {r["k"]: r["v"] for r in t.read().collect()} == {1: "a", 2: "b"}


def test_second_read_of_a_version_launches_no_job(spark, table_dir):
    """Schema inference costs a Spark job per read; the table infers a
    version's schema once. Job counts, unlike timings, do not move with
    host load."""
    from schwab_elt_etl_pipeline_spark.testing.jobs import jobs_launched

    t = ParquetTable(spark, table_dir)
    t.overwrite_versioned(spark.createDataFrame([(1, "a")], "k long, v string"))
    assert jobs_launched(spark, t.read) >= 1  # the inference the memo saves
    assert jobs_launched(spark, t.read) == 0
    assert t.read().collect()[0]["v"] == "a"


def test_failed_staged_write_leaves_no_staging_dir(spark, table_dir):
    """A write that raises mid-job must not leave a ``_staging_<uuid>`` dir
    in the table root (vacuum never removes one) nor touch the table."""
    t = ParquetTable(spark, table_dir)
    t.overwrite_versioned(spark.createDataFrame([(1, "a")], "k long, v string"))
    version, files = t.current_version(), sorted(t.data_files())
    bad = spark.createDataFrame([(2, "b"), (3, "c")], "k long, v string").withColumn(
        "v", F.when(F.col("k") == 3, F.raise_error(F.lit("boom"))).otherwise(F.col("v"))
    )

    with pytest.raises(Exception, match="boom"):
        t.overwrite_versioned(bad)
    with pytest.raises(Exception, match="boom"):
        t.insert_new(bad, keys=["k"])
    assert not _staging_dirs(t)
    assert t.current_version() == version
    assert sorted(t.data_files()) == files
    assert [tuple(r) for r in t.read().collect()] == [(1, "a")]

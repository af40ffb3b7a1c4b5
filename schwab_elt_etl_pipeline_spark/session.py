"""SparkSession construction tuned for the engine.

The reference delegates physical execution to SQL Server (SURVEY §4); here we
delegate to Catalyst/Tungsten and turn on the knobs that matter at scale:

- AQE (runtime coalescing of shuffle partitions, skew-join splitting) — on a
  1000-executor cluster this replaces the reference's manual temp-table
  materializations (docs/sql_server.md:387,411-416).
- Timezone: the reference persists US/Pacific wall-clock naive timestamps
  (README.md:227, tools/utils.py:85-154); domain pipelines run with
  ``America/Los_Angeles``. Correctness harnesses pin UTC so wall-clock values
  agree with naive-timestamp oracles.
- Nanosecond parquet timestamps are read as longs and normalized by the
  sources layer (Spark has no TIMESTAMP(NANOS) support).
- Generated-code cache: Spark compiles whole-stage code for every physical
  plan and keeps the compiled classes in a JVM-wide cache of 100 entries by
  default. One medallion micro-batch needs more than that, so at 100 every
  batch recompiled its classes from scratch (~1 s per batch on 4 cores).
  ``get_spark`` raises the cache to :data:`CODEGEN_CACHE_ENTRIES`. The size is
  a *static* conf read once per JVM: a session not built by ``get_spark``
  keeps Spark's 100, and :func:`ensure_engine_confs` cannot change it.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

PACIFIC = "America/Los_Angeles"

#: ``spark.sql.codegen.cache.maxEntries`` for sessions built by
#: :func:`get_spark`: holds a micro-batch's generated classes, which Spark's
#: default of 100 does not, so a steady-state batch compiles nothing new.
CODEGEN_CACHE_ENTRIES = 2000

#: Runtime-settable confs every engine entry point should ensure. Kept minimal
#: so they can also be applied to an externally created session (see
#: :func:`ensure_engine_confs`).
_RUNTIME_CONFS: dict[str, str] = {
    # events.parquet carries TIMESTAMP(NANOS); read as long + normalize.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Pin wall-clock interpretation for instant-typed timestamps.
    "spark.sql.session.timeZone": "UTC",
    # Runtime re-planning: partition coalescing + skew-join handling.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Keep AQE from coalescing compute-heavy stages to 1 partition: byte-size
    # heuristics underestimate CPU-bound work (windows over exploded grids,
    # shingle arrays). 8 MB advisory / 512 KB floor keeps local[32] saturated
    # and still coalesces genuinely tiny outputs.
    "spark.sql.adaptive.advisoryPartitionSizeInBytes": "8m",
    "spark.sql.adaptive.coalescePartitions.minPartitionSize": "512k",
    # Local test files are single small parquet files; the 128 MB default
    # makes every scan a single task. 16 MB splits keep local[32] busy and is
    # harmless on a cluster (where inputs are many files anyway).
    "spark.sql.files.maxPartitionBytes": "16m",
}


def ensure_engine_confs(spark: SparkSession, tz: str = "UTC") -> SparkSession:
    """Apply the engine's runtime-settable confs to an existing session.

    Safe to call on a session the harness created (the driver owns the
    SparkSession in verification runs); every conf here is runtime-settable.
    """
    for key, value in _RUNTIME_CONFS.items():
        spark.conf.set(key, value)
    spark.conf.set("spark.sql.session.timeZone", tz)
    return spark


def get_spark(
    app_name: str = "schwab-elt-etl-pipeline-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    tz: str = "UTC",
) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine defaults.

    ``shuffle_partitions`` defaults to ``SPARK_GRAFT_CPUS`` (the local test
    harness) or 32; on a real cluster leave it to AQE + a high initial value.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "24g"))
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
    )
    for key, value in _RUNTIME_CONFS.items():
        builder = builder.config(key, value)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return ensure_engine_confs(spark, tz=tz)

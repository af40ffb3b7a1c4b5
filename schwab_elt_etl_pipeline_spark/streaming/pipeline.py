"""Streaming Silver: tick stream → incremental OPT/OPTM maintenance.

The reference runs Silver as a scheduled stored procedure over the day's
parquet (SURVEY §3.1). Structured Streaming collapses ingestion + Silver into
one incremental pipeline: each micro-batch runs the same ``plans.silver``
logic via ``foreachBatch`` against warehouse tables, with the anti-join /
insert-only-MERGE guarantees providing exactly-once-effective writes even
when a batch is replayed after failure (SURVEY T8 — dedup against the full
target, not watermark state, because late data is accepted at any delay,
docs/sql_server.md:91-96).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql.streaming import StreamingQuery

from schwab_elt_etl_pipeline_spark.streaming.runner import start_foreach_batch

from schwab_elt_etl_pipeline_spark.plans.silver import (
    build_opt,
    build_optm_increment,
    parse_quotes,
)
from schwab_elt_etl_pipeline_spark.sources.warehouse import ParquetTable


def run_streaming_silver(
    quotes_stream: DataFrame,
    opt_table: ParquetTable,
    optm_table: ParquetTable,
    checkpoint_dir: str,
    trigger_seconds: int | None = None,
) -> StreamingQuery:
    """Maintain OPT + OPTM incrementally from a tick stream.

    Per micro-batch: parse/filter ticks (P3/P4/P9, F2/F4), then the shared
    Silver step :func:`_apply_silver` — insert-new contracts into OPT (J3),
    resolve OPT_ID (broadcast J4), MAX-dedup marks (A7) and insert-new into
    OPTM (J7 insert-only). All set-based, so a replayed batch inserts zero
    rows. An empty batch writes nothing.
    """

    def process_batch(batch: DataFrame, batch_id: int) -> None:
        parsed = parse_quotes(batch)
        if parsed.isEmpty():
            return
        _apply_silver(parsed, opt_table, optm_table)

    return start_foreach_batch(
        quotes_stream, process_batch, checkpoint_dir, trigger_seconds
    )


def _apply_silver(
    parsed: DataFrame, opt_table: ParquetTable, optm_table: ParquetTable
) -> None:
    """The Silver step of one batch of parsed option ticks. Each write is
    ``insert_new``, which creates a missing table on its first write and
    otherwise anti-joins on the key — the only anti-join each row meets."""
    opt_table.insert_new(build_opt(parsed), keys=["Strike", "CP", "Expiry"])
    optm_table.insert_new(
        build_optm_increment(parsed, opt_table.read()), keys=["OPT_ID", "T"]
    )


def run_streaming_medallion(
    quotes_stream: DataFrame,
    opt_table: ParquetTable,
    optm_table: ParquetTable,
    underlying_table: ParquetTable,
    vert_table: ParquetTable,
    vert_ts_table: ParquetTable,
    checkpoint_dir: str,
    width: int = 5,
    opt_range: int = 100,
    trigger_seconds: int | None = None,
) -> StreamingQuery:
    """Bronze→Silver→Gold maintained incrementally from the tick stream.

    Silver per micro-batch as :func:`run_streaming_silver` (plus the $SPX
    underlying marks). Gold's windows need a day's full series, so its
    incremental unit is the TOUCHED DAY: for each day present in the batch,
    re-run the Gold build over that day's OPTM slice and ``insert_new`` the
    results — VERT keyed (SID, LID), VERT_TS keyed (VID, T), both
    insert-only, mirroring the reference's anti-join inserts
    (docs/sql_server.md:511-520,553-575), so replays and late data never
    duplicate and a crashed batch resumes exactly-once-effective.
    """
    def process_batch(batch: DataFrame, batch_id: int) -> None:
        apply_medallion_batch(
            batch, opt_table, optm_table, underlying_table, vert_table,
            vert_ts_table, width=width, opt_range=opt_range,
        )

    return start_foreach_batch(
        quotes_stream, process_batch, checkpoint_dir, trigger_seconds
    )


def apply_medallion_batch(
    batch: DataFrame,
    opt_table: ParquetTable,
    optm_table: ParquetTable,
    underlying_table: ParquetTable,
    vert_table: ParquetTable,
    vert_ts_table: ParquetTable,
    width: int = 5,
    opt_range: int = 100,
) -> None:
    """One Bronze→Silver→Gold maintenance pass over a batch of raw ticks.

    The SHARED batch unit: ``run_streaming_medallion`` calls this per
    micro-batch, ``plans/backfill.py`` calls it per historical slice — one
    definition of the medallion increment, so reprocessing and live
    ingestion can never drift apart. All writes are insert-new/anti-join
    keyed, so applying any slice twice is a no-op.
    """
    import pyspark.sql.functions as F

    from schwab_elt_etl_pipeline_spark.plans.gold import gold_scope
    from schwab_elt_etl_pipeline_spark.plans.silver import parse_underlying

    und = parse_underlying(batch)
    parsed = parse_quotes(batch)
    # ONE driver action finds which sides the batch carries and every day
    # it touched (via option ticks OR via underlying marks: a $SPX-only
    # batch can complete a day whose option ticks arrived earlier, so
    # driving the Gold loop off parsed alone would silently leave that
    # day's VERT/VERT_TS unbuilt).
    touched = (
        und.select(F.lit(True).alias("und"), F.to_date("T").alias("d"))
        .unionByName(parsed.select(F.lit(False).alias("und"), F.to_date("T").alias("d")))
        .distinct()
        .collect()
    )
    has_und = any(r["und"] for r in touched)
    has_parsed = any(not r["und"] for r in touched)
    if has_und:
        underlying_table.insert_new(und, keys=["T"])
    if has_parsed:
        _apply_silver(parsed, opt_table, optm_table)

    if not underlying_table.exists() or not optm_table.exists():
        return  # Gold needs both marks and an $SPX strike range
    days = sorted({r["d"] for r in touched if r["d"] is not None})
    if not days:
        return
    # A second action computes, for all touched days at once, each day's
    # min mark time and whether both sides are present.
    opt_all = opt_table.read()
    optm_all = optm_table.read()
    und_all = underlying_table.read()
    day_info = (
        optm_all.withColumn("d", F.to_date("T"))
        .filter(F.col("d").isin(days))
        .groupBy("d")
        .agg(F.min("T").alias("min_time"))
        .join(und_all.select(F.to_date("T").alias("d")).distinct(), "d")
        .collect()
    )  # days missing either side drop out via the groupBy/semi-join
    for r in sorted(day_info, key=lambda row: row["d"]):
        day, min_time = r["d"], r["min_time"]
        day_optm = optm_all.filter(F.to_date("T") == F.lit(day))
        day_und = und_all.filter(F.to_date("T") == F.lit(day))
        # gold_scope persists the day's diamond intermediates across the
        # two writes below and releases them on exit — the hot loop never
        # accumulates storage memory across micro-batches. insert_new's
        # anti-join is the only one each Gold row meets.
        with gold_scope(
            day_optm, opt_all, day_und, min_time=min_time, width=width,
            opt_range=opt_range,
        ) as (vert, vert_ts):
            vert_table.insert_new(vert, keys=["SID", "LID"])
            vert_ts_table.insert_new(vert_ts, keys=["VID", "T"])

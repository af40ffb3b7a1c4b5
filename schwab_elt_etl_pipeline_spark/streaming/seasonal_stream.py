"""Streaming twin of the seasonal baseline (catalog ``t_seasonal_residuals``).

Batch side the baseline is the EXACT median of ``value`` per
(event_type, hour-of-day) cell plus the MAD of residuals in the same cell
(``catalog/analytics10.py t_seasonal_residuals``). The streaming form must
maintain that baseline incrementally and flag arrivals against the current
one — without ever holding raw history.

The state is ONE bounded table: exact value counts per cell,
``(event_type, hod, val, cnt, _epoch)``. Event values are fixed-precision
readings (2-dp in the benchmark corpus), so the distinct-value set per cell
is bounded and the counts table IS a lossless sufficient statistic: the
exact median and MAD are recoverable from it at any point, which makes the
stream ≡ batch parity EXACT, not sketch-approximate (contrast the HLL /
quantile-sketch rollups in ``rollup_stream.py``, which trade exactness for
unbounded-domain inputs). At 100 TB the table is |types| x 24 x
|distinct readings| rows — kilobytes-to-megabytes, broadcastable.

Per micro-batch (``seasonal_stream``):

1. the batch's (cell, val) counts append as an epoch delta
   (``streaming/epochs.py``) — a replayed epoch inserts nothing, so counts
   are exactly-once under foreachBatch's at-least-once contract;
2. the per-cell baseline + MAD recompute from the merged counts — a
   weighted-median window pass over the bounded table, not the stream;
3. the batch's arrivals are flagged against that current baseline and
   appended to the output sink.

After draining a time-ordered corpus, ``seasonal_baseline(current_counts)``
equals the batch query's baseline table and re-flagging the corpus
reproduces ``t_seasonal_residuals`` row-for-row (pinned by
tests/test_streaming_seasonal.py). Mid-stream, a batch's flags use the
baseline as of that batch — the honest "anomaly vs what we knew then"
semantics, also pinned per-prefix.

Reference behavior mirrored: services/schwab_stream.py's rolling
quote-quality monitors (alert thresholds recomputed from accumulated
session stats each cycle), re-expressed as incremental exact statistics.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.query import StreamingQuery
from pyspark.sql.window import Window

from schwab_elt_etl_pipeline_spark.sources.warehouse import ParquetTable
from schwab_elt_etl_pipeline_spark.streaming.epochs import consolidate, write_delta
from schwab_elt_etl_pipeline_spark.streaming.runner import start_foreach_batch

_CELL = ["event_type", "hod"]


def seasonal_counts(ev: DataFrame) -> DataFrame:
    """(event_type, hod, val, cnt) — the bounded sufficient statistic for
    per-cell exact median/MAD. Map-side combinable; null readings carry no
    information for the baseline and are excluded (they still get flagged
    rows downstream, with NULL residuals, matching the batch query)."""
    return (
        ev.withColumn("hod", F.hour("ts"))
        .filter(F.col("value").isNotNull())
        .groupBy("event_type", "hod", F.col("value").alias("val"))
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def update_seasonal_counts(
    batch: DataFrame, counts: ParquetTable, epoch: int
) -> None:
    """Merge one micro-batch's cell/value counts into the persistent ledger
    (an epoch delta: a re-delivered batch inserts nothing)."""
    write_delta(counts, seasonal_counts(batch), ["event_type", "hod", "val"], epoch)


def _fold_counts(counts: DataFrame) -> DataFrame:
    return counts.groupBy("event_type", "hod", "val").agg(F.sum("cnt").alias("cnt"))


def current_counts(counts: ParquetTable) -> DataFrame:
    """The live (event_type, hod, val, cnt) statistic — epochs summed out."""
    return _fold_counts(counts.read())


def consolidate_counts(counts: ParquetTable) -> None:
    """Collapse the ledger to one base row per (cell, val)."""
    consolidate(counts, _fold_counts)


def _weighted_median(counts: DataFrame, val: str, out: str) -> DataFrame:
    """Exact per-cell median from (cell, val, cnt) rows, matching Spark's
    ``percentile(x, 0.5)``: rank r = 1 + 0.5*(n-1); for even n the
    interpolation ``lo + 0.5*(hi - lo)`` between the two middle order
    statistics (the same IEEE expression percentile evaluates, so the
    result is bit-identical before rounding). One window pass over the
    bounded counts table — the data-sized stream is never touched."""
    w = Window.partitionBy(*_CELL).orderBy(val)
    c = (
        counts.groupBy(*_CELL, val)
        .agg(F.sum("cnt").alias("_c"))
        .withColumn("_cum", F.sum("_c").over(w))
        .withColumn("_prev", F.col("_cum") - F.col("_c"))
        .withColumn("_n", F.sum("_c").over(Window.partitionBy(*_CELL)))
    )
    ra = F.floor((F.col("_n") + 1) / 2).cast("long")  # lower middle rank
    rb = F.floor((F.col("_n") + 2) / 2).cast("long")  # upper middle rank
    covers = lambda r: (F.col("_prev") < r) & (r <= F.col("_cum"))  # noqa: E731
    return c.groupBy(*_CELL).agg(
        (
            F.max(F.when(covers(ra), F.col(val))).alias("_lo")
        ),
        (
            F.max(F.when(covers(rb), F.col(val))).alias("_hi")
        ),
    ).select(
        *_CELL,
        (F.col("_lo") + 0.5 * (F.col("_hi") - F.col("_lo"))).alias(out),
    )


def seasonal_baseline(counts_df: DataFrame) -> DataFrame:
    """(event_type, hod, baseline, mad) from the counts statistic — the
    exact twin of the batch query's two percentile aggregations, rounded
    identically (4 dp) so boundary rows cannot flip."""
    base = _weighted_median(counts_df, "val", "_med").select(
        *_CELL, F.round("_med", 4).alias("baseline")
    )
    resid_counts = (
        counts_df.join(F.broadcast(base), _CELL)
        .select(
            *_CELL,
            F.abs(F.col("val") - F.col("baseline")).alias("aval"),
            "cnt",
        )
        .groupBy(*_CELL, F.col("aval").alias("val"))
        .agg(F.sum("cnt").alias("cnt"))
    )
    mad = _weighted_median(resid_counts, "val", "_mad").select(
        *_CELL, F.round("_mad", 4).alias("mad")
    )
    return base.join(mad, _CELL)


def flag_seasonal(ev: DataFrame, baseline: DataFrame) -> DataFrame:
    """Flag events against a (cell, baseline, mad) table — the same output
    contract as ``t_seasonal_residuals`` (event_id, event_type, hod, value,
    baseline, resid, is_anom). LEFT join: a cell whose readings are all
    NULL has no counts row and therefore no baseline row, but the batch
    query still emits its events (with NULL baseline/resid/is_anom, since
    ``percentile`` over an all-NULL cell is NULL) — an inner join here
    would silently drop such rows from the exactly-once flagged sink
    forever and break the row-for-row stream ≡ batch parity. The bounded
    baseline table broadcasts."""
    return (
        ev.withColumn("hod", F.hour("ts"))
        .join(F.broadcast(baseline), _CELL, "left")
        .withColumn("resid", F.col("value") - F.col("baseline"))
        .select(
            "event_id",
            "event_type",
            "hod",
            "value",
            "baseline",
            F.round("resid", 4).alias("resid"),
            (F.abs(F.col("resid")) > 4 * F.col("mad")).cast("int").alias("is_anom"),
        )
    )


def seasonal_stream(
    stream: DataFrame,
    counts: ParquetTable,
    flagged: ParquetTable,
    checkpoint_dir: str,
    trigger_seconds: int | None = None,
) -> StreamingQuery:
    """Maintain the seasonal baseline incrementally and flag each
    micro-batch's arrivals against the baseline current AS OF that batch
    (counts merged first, then flagged — an arrival contributes to the
    baseline it is judged against, exactly like the batch query)."""

    def _sink(batch: DataFrame, epoch: int) -> None:
        update_seasonal_counts(batch, counts, epoch=epoch)
        out = flag_seasonal(batch, seasonal_baseline(current_counts(counts)))
        # event_id-keyed insert: a replayed epoch re-derives the same rows
        # (its counts inserted nothing new, so the baseline is unchanged)
        # and they all drop here — exactly-once on the output too.
        flagged.insert_new(out, keys=["event_id"])

    return start_foreach_batch(
        stream, _sink, checkpoint_dir, trigger_seconds, output_mode="append"
    )

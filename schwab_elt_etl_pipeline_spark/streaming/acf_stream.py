"""Streaming twin of the autocorrelation diagnostic (catalog ``t_acf_lags``).

The ARCHITECTURE "cross-batch boundary stitching" recipe, generalized from
one boundary row to a **last-K tail**: a lag-k pair reaches up to k events
back, so the pairs straddling a micro-batch boundary need the user's final
``K = max lag`` events from prior batches, not just the final one
(``markov_stream.py`` is the K=1 special case).

State, two epoch-delta ledgers (``streaming/epochs.py``):

- ``tails``: each epoch's per-user last K events
  ``(user_id, ts, event_id, value, _epoch)`` keyed on
  (user_id, event_id, _epoch). The probe takes the K latest rows per user
  across PRIOR epochs (current epoch excluded null-safely, so replays see
  their original state).
- ``moments``: per-epoch DELTA moment sums per (user, lag) —
  ``(n, s1, s2, s11, s22, s12)`` as exact DECIMAL sums, keyed on
  (user_id, lag, _epoch). Decimal sums are associative and exact, so the
  epoch-sum equals the single-pass batch sums bit-for-bit, and the final
  Pearson formula over their double casts reproduces ``t_acf_lags``
  EXACTLY (pinned by tests/test_streaming_acf.py).

Per micro-batch: prepend the prior tail to the batch per user (tail rows
tagged ``_old``), run ONE lag-window pass over the concatenation, and keep
only pairs whose LATER element is in the current batch — that counts every
within-batch pair once and every boundary pair once, and nothing twice.
All joins/windows key on the user column; the moments table is
(users × lags)-bounded.

Reference behavior mirrored: services/schwab_stream.py's rolling
session-statistics accumulation across websocket callbacks — here as
mergeable exact moment deltas.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.query import StreamingQuery
from pyspark.sql.window import Window

from schwab_elt_etl_pipeline_spark.sources.warehouse import ParquetTable
from schwab_elt_etl_pipeline_spark.streaming.epochs import (
    consolidate,
    exclude_own,
    write_delta,
)
from schwab_elt_etl_pipeline_spark.streaming.runner import start_foreach_batch

_DEC = "decimal(12,2)"


def _latest(ev: DataFrame, k: int) -> DataFrame:
    """The K latest events per user."""
    w = Window.partitionBy("user_id").orderBy(F.desc("ts"), F.desc("event_id"))
    return (
        ev.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") <= k)
        .select("user_id", "ts", "event_id", "value")
    )


def _prior_tail(tails: ParquetTable, k: int, epoch: int) -> DataFrame:
    """The K latest prior events per user (current epoch excluded)."""
    return _latest(exclude_own(tails.read(), epoch), k)


def update_acf_moments(
    batch: DataFrame,
    tails: ParquetTable,
    moments: ParquetTable,
    lags: int = 3,
    *,
    epoch: int,
) -> None:
    """Merge one micro-batch's lag-pair moment deltas (boundary pairs
    included) and record the batch's per-user last-K tail."""
    ev = batch.select("user_id", "ts", "event_id", "value").localCheckpoint(
        eager=True  # feeds the pair pass and the tail append
    )
    ext = ev.withColumn("_old", F.lit(0))
    if tails.exists():
        ext = _prior_tail(tails, lags, epoch).withColumn(
            "_old", F.lit(1)
        ).unionByName(ext)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    y = F.col("value").cast(_DEC)
    lagged = ext.select(
        "user_id",
        "_old",
        y.alias("y"),
        *[F.lag(y, k).over(w).alias(f"y_{k}") for k in range(1, lags + 1)],
    )
    pairs = (
        lagged.filter(F.col("_old") == 0)
        .select(
            "user_id",
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(k).alias("lag"),
                            F.col("y").alias("yt"),
                            F.col(f"y_{k}").alias("yl"),
                        )
                        for k in range(1, lags + 1)
                    ]
                )
            ).alias("p"),
        )
        .select("user_id", "p.lag", "p.yt", "p.yl")
        .filter(F.col("yl").isNotNull())
    )
    delta = pairs.groupBy("user_id", "lag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("yt").alias("s1"),
        F.sum("yl").alias("s2"),
        F.sum(F.col("yt") * F.col("yt")).alias("s11"),
        F.sum(F.col("yl") * F.col("yl")).alias("s22"),
        F.sum(F.col("yt") * F.col("yl")).alias("s12"),
    )
    write_delta(moments, delta, ["user_id", "lag"], epoch)
    write_delta(tails, _latest(ev, lags), ["user_id", "event_id"], epoch)


_SUMS = ["n", "s1", "s2", "s11", "s22", "s12"]


def _fold_moments(moments: DataFrame) -> DataFrame:
    return moments.groupBy("user_id", "lag").agg(*[F.sum(c).alias(c) for c in _SUMS])


def current_moments(moments: ParquetTable) -> DataFrame:
    """Live per-(user, lag) moment sums — epoch deltas summed out (decimal
    addition is exact, so this equals the single-pass batch sums)."""
    return _fold_moments(moments.read()).withColumnRenamed("n", "n_pairs")


def acf_from_moments(m: DataFrame) -> DataFrame:
    """(user_id, lag, n_pairs, acf) from merged moments — the identical
    IEEE expression as the batch query (double casts of exact decimals,
    ROUND 6, ``+ 0.0`` −0.0 canonicalization, NULL on degenerate series)."""
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    n = d("n_pairs")
    varx = n * d("s11") - d("s1") * d("s1")
    vary = n * d("s22") - d("s2") * d("s2")
    cov = n * d("s12") - d("s1") * d("s2")
    ok = (F.col("n_pairs") >= 2) & (varx > 0.0) & (vary > 0.0)
    return m.select(
        "user_id",
        "lag",
        "n_pairs",
        F.when(ok, F.round(cov / (F.sqrt(varx) * F.sqrt(vary)), 6) + 0.0).alias(
            "acf"
        ),
    )


def consolidate_tails(tails: ParquetTable, lags: int = 3) -> None:
    """Collapse the tail history to the K latest base rows per user.

    Without it the table holds up to K rows per (user, epoch) and
    ``_prior_tail``'s row_number ranks the whole history every micro-batch;
    after it the table is (users × K) rows and the probe result is the same.
    """
    consolidate(tails, lambda ev: _latest(ev, lags))


def consolidate_moments(moments: ParquetTable) -> None:
    """Collapse the moment deltas to one base row per (user, lag). Decimal
    addition is exact and associative, so ``acf_from_moments`` is
    bit-identical before and after."""
    consolidate(moments, _fold_moments)


def acf_stream(
    stream: DataFrame,
    tails: ParquetTable,
    moments: ParquetTable,
    checkpoint_dir: str,
    lags: int = 3,
    trigger_seconds: int | None = None,
) -> StreamingQuery:
    """Maintain the per-user ACF moments incrementally over an event stream."""

    def _sink(batch: DataFrame, epoch: int) -> None:
        update_acf_moments(batch, tails, moments, lags=lags, epoch=epoch)

    return start_foreach_batch(
        stream, _sink, checkpoint_dir, trigger_seconds, output_mode="update"
    )

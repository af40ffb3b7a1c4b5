"""Streaming twin of the Markov transition matrix (catalog
``event_transition_probs``).

The batch query pairs each event with its per-user successor and
row-normalizes the (prev, next) cell table. The streaming form has to solve
the one problem the batch form gets for free: **transitions straddle
micro-batch boundaries** — the last event a user produced in batch *k*
pairs with their first event in batch *k+1*. Dropping boundary pairs
undercounts exactly the long-gap transitions (often the interesting ones).

State is two epoch-delta ledgers (``streaming/epochs.py``), so a replayed
micro-batch inserts nothing:

- ``cells``: per-epoch DELTA counts ``(prev, next, cnt, _epoch)`` keyed on
  (prev, next, _epoch) — a replayed epoch recomputes the identical delta
  and inserts nothing; the live matrix is the epoch-sum
  (``current_cells``), vocabulary²-bounded at any corpus size.
- ``last_seen``: each epoch's per-user final event ``(user_id, ts,
  event_id, event_type, _epoch)`` keyed on (user_id, _epoch). The boundary
  probe reads the latest PRIOR epoch's row per user — rows of the current
  epoch are excluded null-safely, so a replayed batch sees exactly the
  state its original delivery saw. Rows accumulate one per (user, epoch);
  ``consolidate_last_seen`` collapses committed epochs.

Per micro-batch: one window pass for within-batch pairs, ONE groupBy for
the per-user first/last edge events, one user-keyed join against the prior
last-seen — all keyed on the same user column; the cell table never scales
with data. When batches arrive in per-user time order (the streaming
contract — the file/Kafka sources replay in order), the cumulative cell sum
equals the batch operator over the concatenated corpus EXACTLY (pinned by
tests/test_streaming_markov.py).

Reference behavior mirrored: services/schwab_stream.py accumulates
session-long per-symbol event-sequence stats across websocket callbacks —
the same carry-state-across-deliveries obligation, re-expressed as
epoch-stamped relational state.
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


def within_batch_pairs(ev: DataFrame) -> DataFrame:
    """(prev, next) rows for consecutive same-user events inside one frame —
    the batch query's pairing (ties broken by event_id)."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        ev.select(
            F.col("event_type").alias("prev"),
            F.lead("event_type").over(w).alias("next"),
        )
        .filter(F.col("next").isNotNull())
        .select("prev", "next")
    )


def _edge_events(ev: DataFrame) -> DataFrame:
    """Per-user first and last event of the frame in ONE aggregation."""
    key = F.struct("ts", "event_id")
    return ev.groupBy("user_id").agg(
        F.min_by(F.struct("ts", "event_id", "event_type"), key).alias("_first"),
        F.max_by(F.struct("ts", "event_id", "event_type"), key).alias("_last"),
    )


def _last_events(ev: DataFrame) -> DataFrame:
    """Each user's latest (ts, event_id, event_type) row."""
    return (
        ev.groupBy("user_id")
        .agg(
            F.max_by(
                F.struct("ts", "event_id", "event_type"),
                F.struct("ts", "event_id"),
            ).alias("_l")
        )
        .select("user_id", "_l.ts", "_l.event_id", "_l.event_type")
    )


def update_transition_cells(
    batch: DataFrame,
    cells: ParquetTable,
    last_seen: ParquetTable,
    epoch: int,
) -> None:
    """Merge one micro-batch into the transition state: within-batch pairs
    plus the boundary pair from each user's prior last-seen event, as an
    epoch delta; then record this batch's per-user last events."""
    edges = _edge_events(batch).localCheckpoint(eager=True)
    pairs = within_batch_pairs(batch)
    if last_seen.exists():
        prior_last = _last_events(exclude_own(last_seen.read(), epoch)).select(
            "user_id", F.col("event_type").alias("prev")
        )
        boundary = (
            edges.select("user_id", F.col("_first.event_type").alias("next"))
            .join(prior_last, "user_id")
            .select("prev", "next")
        )
        pairs = pairs.unionByName(boundary)
    delta = pairs.groupBy("prev", "next").agg(F.count(F.lit(1)).alias("cnt"))
    write_delta(cells, delta, ["prev", "next"], epoch)
    write_delta(
        last_seen,
        edges.select("user_id", "_last.ts", "_last.event_id", "_last.event_type"),
        ["user_id"],
        epoch,
    )


def _fold_cells(cells: DataFrame) -> DataFrame:
    return cells.groupBy("prev", "next").agg(F.sum("cnt").alias("cnt"))


def current_cells(cells: ParquetTable) -> DataFrame:
    """The live (prev, next, cnt) matrix — epoch deltas summed out."""
    return _fold_cells(cells.read())


def transition_probs(cells_df: DataFrame) -> DataFrame:
    """Row-normalize a (prev, next, cnt) table to the batch query's output
    contract (prev, next, cnt, prob) — identical IEEE division."""
    row_tot = Window.partitionBy("prev")
    return cells_df.select(
        "prev",
        "next",
        "cnt",
        F.round(
            F.col("cnt").cast("double")
            / F.sum("cnt").over(row_tot).cast("double"),
            6,
        ).alias("prob"),
    )


def consolidate_last_seen(last_seen: ParquetTable) -> None:
    """Collapse to one base row per user: the current last event."""
    consolidate(last_seen, _last_events)


def consolidate_cells(cells: ParquetTable) -> None:
    """Collapse the count deltas to one base row per (prev, next). Integer
    addition is exact, so ``current_cells`` and ``transition_probs`` are
    bit-identical before and after."""
    consolidate(cells, _fold_cells)


def transition_stream(
    stream: DataFrame,
    cells: ParquetTable,
    last_seen: ParquetTable,
    checkpoint_dir: str,
    trigger_seconds: int | None = None,
) -> StreamingQuery:
    """Maintain the transition matrix incrementally over an event stream."""

    def _sink(batch: DataFrame, epoch: int) -> None:
        update_transition_cells(batch, cells, last_seen, epoch=epoch)

    return start_foreach_batch(
        stream, _sink, checkpoint_dir, trigger_seconds, output_mode="update"
    )

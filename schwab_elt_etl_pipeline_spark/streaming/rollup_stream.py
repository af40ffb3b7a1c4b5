"""Streaming continuous aggregate: event stream → incrementally maintained
rollup table (the hypertable continuous-aggregate shape, streaming twin of
``operators/rollup.py``).

A 100 TB metrics pipeline never recomputes rollups from scratch: each
micro-batch folds its partial aggregates into the stored rollup. Because
every measure is decomposable (count/sum/min/max — SURVEY A-family), the fold
is itself just a re-aggregation, and exact DECIMAL sums make the maintained
table bit-identical to a from-scratch rollup at any batch boundary
(tested in test_streaming_rollup).

Exactly-once-effective under replay: partials are staged as epoch deltas
(``streaming/epochs.py``) on (keys…, bucket_ts) — a replayed micro-batch
(same epoch id, Structured Streaming's failure contract) inserts zero rows —
and the served rollup is the re-aggregation of the staged partials. The
stage grows by one row per (keys, bucket, epoch) and ``compact_stage``
folds it to one base row per (keys, bucket).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from schwab_elt_etl_pipeline_spark.streaming.runner import start_foreach_batch

from schwab_elt_etl_pipeline_spark.operators.rollup import rollup_minutes
from schwab_elt_etl_pipeline_spark.sources.warehouse import ParquetTable
from schwab_elt_etl_pipeline_spark.streaming.epochs import consolidate, write_delta


def fold_partials(staged: DataFrame, keys: list[str]) -> DataFrame:
    """Re-aggregate staged per-epoch partials to one row per (keys, bucket).

    Decomposable measures only — the same fold `rollup_coarser` applies
    across grains, applied here across epochs at the same grain.
    """
    return staged.groupBy(*keys, "bucket_ts").agg(
        F.sum("n").alias("n"),
        F.sum("sum_value").alias("sum_value"),
        F.min("min_value").alias("min_value"),
        F.max("max_value").alias("max_value"),
    )


def run_streaming_rollup(
    events_stream: DataFrame,
    stage_table: ParquetTable,
    keys: list[str],
    ts: str = "ts",
    value: str = "value",
    minutes: int = 1,
    checkpoint_dir: str = "",
    trigger_seconds: int | None = None,
) -> StreamingQuery:
    """Maintain a minute-grain rollup stage incrementally from a stream.

    Per micro-batch: aggregate the batch to per-bucket partials, tag with the
    epoch id, ``insert_new`` into the stage (replay-idempotent). Readers call
    :func:`fold_partials` (or read a periodically compacted fold).
    """

    def process_batch(batch: DataFrame, batch_id: int) -> None:
        if batch.isEmpty():
            return
        partials = rollup_minutes(batch, keys, ts=ts, value=value, minutes=minutes)
        write_delta(stage_table, partials, [*keys, "bucket_ts"], batch_id)

    return start_foreach_batch(
        events_stream, process_batch, checkpoint_dir, trigger_seconds
    )


def compact_stage(stage_table: ParquetTable, keys: list[str]) -> int:
    """Fold the stage to one base row per (keys, bucket), so its size stays
    O(buckets), not O(buckets × epochs). The fold is associative, so
    folding a fold is a no-op. Returns the committed version (the current
    one, or 0, when the stage is empty or missing); raises
    ``ConcurrentWriteConflict`` when a live batch lands during it — retry at
    the next quiet moment.
    """
    return consolidate(stage_table, lambda staged: fold_partials(staged, keys))


def update_distinct_sketch_table(
    batch: DataFrame,
    table: ParquetTable,
    keys: list[str],
    ts: str = "ts",
    value: str = "user_id",
    lg_k: int = 12,
) -> None:
    """Incrementally maintain a per-(keys…, day) HLL sketch table — the
    operational twin of the batch ``a_hll_partitioned_merge`` pattern:
    distinct metrics at 100 TB are served from kilobyte sketches that any
    rollup window can union, never from a rescan of raw events.

    Per micro-batch: sketch ONLY the batch's rows, union-merge into the
    stored sketches for the touched (keys…, day) cells (semi-join probe —
    the sketch table is keys×days-sized, never event-sized), and MERGE the
    combined rows back. Replays are idempotent WITHOUT an epoch ledger:
    HLL union is a set union, so re-merging the same batch's sketch leaves
    every estimate unchanged — sketches are the rare aggregate where
    at-least-once delivery IS exactly-once semantics (pinned in
    test_streaming_rollup)."""
    new = batch.groupBy(*keys, F.to_date(ts).alias("day")).agg(
        F.expr(f"hll_sketch_agg({value}, {lg_k})").alias("sk")
    )
    if not table.exists():
        table.overwrite_versioned(new)
        return
    on = [*keys, "day"]
    touched = new.select(*on).distinct()
    cur = table.read().join(touched, on, "left_semi")
    combined = (
        cur.select(*on, "sk")
        .unionByName(new)
        .groupBy(*on)
        .agg(F.expr("hll_union_agg(sk)").alias("sk"))
    )
    table.merge(combined, keys=on)


def read_distinct_estimates(table: ParquetTable, keys: list[str]) -> DataFrame:
    """Serve distinct-count estimates from the sketch table: union-merge the
    per-day sketches per key group — any coarser grouping is the same cheap
    union, raw data is never touched."""
    return table.read().groupBy(*keys).agg(
        F.expr("hll_sketch_estimate(hll_union_agg(sk))").cast("long").alias(
            "approx_distinct"
        ),
        F.count(F.lit(1)).alias("n_day_sketches"),
    )


def update_quantile_sketch_table(
    batch: DataFrame,
    table: ParquetTable,
    keys: list[str],
    ts: str = "ts",
    value: str = "value",
    k: int = 200,
    *,
    epoch: int,
) -> None:
    """Incrementally maintain a per-(keys…, day) KLL quantile-sketch table —
    the quantile companion of :func:`update_distinct_sketch_table`, so a
    quantile threshold (the ``quality_quantile_gate`` shape) is served from
    kilobyte sketches instead of a raw rescan.

    Unlike HLL, KLL merge is a MULTISET union — re-merging a replayed
    batch's sketch would double-weight its values — so the replay contract
    is the epoch-delta ledger (``insert_new`` on (keys…, day, _epoch), the
    same protocol as the rollup stage and the ACF moments): a replayed
    epoch's delta keys all exist, nothing re-inserts. Each row also carries
    the exact row count ``n``, giving readers a free integrity cross-check
    (``kll_sketch_get_n_double`` must equal Σn).

    DataSketches KLL with parameter ``k`` bounds the one-sided rank error
    at ~1.7%/k^0.93 (k=200 → ~0.6% rank error, far inside the 1-percentile
    verdict window ``a_approx_quantiles`` established); sketches are
    mergeable without error growth across any grouping, so day cells union
    into weekly/global thresholds the way the HLL cells do."""
    new = (
        batch.filter(F.col(value).isNotNull())
        .groupBy(*keys, F.to_date(ts).alias("day"))
        .agg(
            F.expr(f"kll_sketch_agg_double({value}, {k})").alias("qsk"),
            F.count(value).alias("n"),
        )
    )
    write_delta(table, new, [*keys, "day"], epoch)


def _merge_sketches(sketches: DataFrame, by: list[str]) -> DataFrame:
    return sketches.groupBy(*by).agg(
        F.expr("kll_merge_agg_double(qsk)").alias("qsk"),
        F.sum("n").cast("long").alias("n"),
    )


def read_quantile_estimates(
    table: ParquetTable,
    keys: list[str],
    probs: tuple[float, ...] = (0.5, 0.9, 0.99),
) -> DataFrame:
    """Serve quantile estimates from the sketch table at any grouping
    coarser than (or equal to) the maintained keys: merge the per-cell
    sketches per key group, read each requested quantile. Raw data is never
    touched; ``n`` is the exact row count behind each estimate.

    Determinism note: ``kll_merge`` retains samples, so the groupBy's
    partition-dependent merge ORDER can move an estimate within the rank
    guarantee across otherwise-identical reads (HLL's register-max union
    is commutative; KLL compaction is not). Consumers pin exact ``n`` and
    the rank window, never sketch-value bytes."""
    return _merge_sketches(table.read(), keys).select(
        *keys,
        "n",
        *[
            F.expr(f"kll_sketch_get_quantile_double(qsk, {p})").alias(
                f"p{int(round(p * 100)):02d}"
            )
            for p in probs
        ],
    )


def consolidate_quantile_sketches(table: ParquetTable, keys: list[str]) -> None:
    """Collapse the ledger to one base row per (keys…, day). Merging is
    lossless in the KLL guarantee (rank error never grows under union), and
    the exact ``n`` fold is bit-identical; the merged sketch BYTES may
    differ from the unconsolidated merge order, so the pin is the
    rank-error window plus exact n, not byte identity."""
    consolidate(table, lambda sketches: _merge_sketches(sketches, [*keys, "day"]))


def read_volume_drift(
    stage_table: ParquetTable, keys: list[str], k: float = 3.0
) -> DataFrame:
    """MAD drift flags over an incrementally maintained DAY-grain rollup
    stage (``run_streaming_rollup`` with ``minutes=1440``): fold the staged
    per-epoch partials, collapse to daily counts, apply the same robust
    gate as the batch monitor (catalog ``dq_volume_drift``) — the
    maintained-table read never touches raw events, so monitoring cost is
    O(|keys|×|days|) regardless of stream volume.
    """
    from schwab_elt_etl_pipeline_spark.operators.quality import mad_drift

    folded = fold_partials(stage_table.read(), keys)
    # re-aggregate AFTER the date cast: a stage maintained at a finer grain
    # (hour/minute buckets) would otherwise feed multiple rows per
    # (key, day) into the gate, and every daily median/MAD would silently
    # reflect sub-day volume; the groupBy is a no-op at day grain
    daily = (
        folded.select(*keys, F.col("bucket_ts").cast("date").alias("day"), "n")
        .groupBy(*keys, "day")
        .agg(F.sum("n").alias("n"))
    )
    return mad_drift(daily, keys, k=k)

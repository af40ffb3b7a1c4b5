"""Incrementally maintained training-shard manifest.

The streaming twin of ``operators/sharding.py shard_manifest``: as crawl
batches arrive, per-shard doc/token totals are merged into an epoch-delta
ledger (``streaming/epochs.py`` — replayed micro-batches insert nothing),
and :func:`current_shard_manifest` serves the SAME manifest the
batch operator would compute over everything ingested so far — doc counts,
token mass, id range, exact integer ppm shares. A trainer's data loader
reads a manifest that is continuously true of the growing corpus instead
of waiting for a full-corpus recompute.

All three pieces share the batch operator's kernels (``shard_of``,
``token_count``, ``manifest_shares``) so the assignment rule, the token
rule, and the share arithmetic cannot drift between the paths — the
stream ≡ batch pin in tests/test_streaming_corpus.py is exact, not
approximate.

Ledger algebra: counts/sums merge by addition, min/max by min/max — all
associative+commutative, so per-epoch deltas fold in any order and
:func:`consolidate_shard_stats` can collapse the ledger to one base row
per shard (read-identical) to bound file counts over the stream's
lifetime.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from schwab_elt_etl_pipeline_spark.operators.sharding import (
    manifest_shares,
    shard_of,
    token_count,
)
from schwab_elt_etl_pipeline_spark.sources.warehouse import ParquetTable
from schwab_elt_etl_pipeline_spark.streaming.epochs import consolidate, write_delta
from schwab_elt_etl_pipeline_spark.streaming.runner import (
    start_foreach_batch,
)

__all__ = [
    "update_shard_stats",
    "current_shard_manifest",
    "consolidate_shard_stats",
    "shard_stream",
]


def update_shard_stats(
    batch: DataFrame,
    stats: ParquetTable,
    epoch: int,
    shards: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> None:
    """Merge one micro-batch's per-shard deltas into the ledger (an epoch
    delta — replays insert nothing)."""
    delta = (
        batch.select(
            shard_of(id_col, shards).alias("shard"),
            F.col(id_col).alias("_id"),
            token_count(text_col).alias("_tok"),
        )
        .groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("_tok").alias("sum_tokens"),
            F.min("_id").alias("min_doc"),
            F.max("_id").alias("max_doc"),
        )
    )
    write_delta(stats, delta, ["shard"], epoch)


def _fold_stats(stats: DataFrame) -> DataFrame:
    return stats.groupBy("shard").agg(
        F.sum("n_docs").cast("long").alias("n_docs"),
        F.sum("sum_tokens").cast("long").alias("sum_tokens"),
        F.min("min_doc").alias("min_doc"),
        F.max("max_doc").alias("max_doc"),
    )


def current_shard_manifest(stats: ParquetTable) -> DataFrame:
    """The live manifest — epoch deltas folded (exact integer algebra),
    shares attached with the batch operator's arithmetic. Bit-identical
    to ``shard_manifest`` over the union of all ingested batches."""
    return manifest_shares(_fold_stats(stats.read()))


def consolidate_shard_stats(stats: ParquetTable, keep_versions: int = 2) -> int:
    """Collapse the ledger to ONE base row per shard (read-identical — the
    fold is the one the serve path applies)."""
    version = consolidate(stats, _fold_stats)
    stats.vacuum(keep_last=keep_versions)
    return version


def shard_stream(
    docs: DataFrame,
    stats: ParquetTable,
    checkpoint_dir: str,
    shards: int = 8,
    trigger_seconds: int | None = None,
) -> StreamingQuery:
    """Maintain the shard-manifest ledger incrementally over a document
    stream."""

    def _sink(batch: DataFrame, epoch: int) -> None:
        update_shard_stats(batch, stats, epoch=epoch, shards=shards)

    return start_foreach_batch(
        docs, _sink, checkpoint_dir, trigger_seconds, output_mode="append"
    )

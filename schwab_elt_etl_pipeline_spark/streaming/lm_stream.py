"""Incrementally maintained bigram-LM model — the streaming twin of the
``bigram_lm_perplexity_gate`` / ``perplexity_bucket_split`` training pass.

A production LM quality filter retrains its n-gram counts as crawl shards
arrive rather than rescanning the corpus. The state is the two trained
count tables, maintained as epoch-delta ledgers (``streaming/epochs.py`` —
integer count deltas keyed on (ngram…, _epoch), so a replayed micro-batch
inserts nothing and the epoch-sum equals the batch aggregation exactly):

- ``bigram``: (prev, cur, bc, _epoch) — held-in slice bigram counts;
- ``unigram``: (token, uc, _epoch) — held-in slice unigram counts.

Scoring goes through the SHARED kernel (``operators/langmodel.py``): after
any prefix of the stream, ``lm_score_docs`` against ``current_lm_model``
is bit-identical to the batch query retrained on the same documents —
pinned by tests/test_streaming_lm.py. The vocabulary tables are
Zipf-bounded, so the maintained model stays broadcast-sized at any corpus
scale; ``consolidate_lm_counts`` folds committed epochs.

Reference behavior mirrored: the periodically retrained scoring models of
sql/opt.sql's staged quality procedures, re-expressed as exactly-once
incremental count maintenance.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.query import StreamingQuery

from schwab_elt_etl_pipeline_spark.operators.langmodel import (
    doc_bigrams,
    doc_unigrams,
    held_in,
)
from schwab_elt_etl_pipeline_spark.sources.warehouse import ParquetTable
from schwab_elt_etl_pipeline_spark.streaming.epochs import consolidate, write_delta
from schwab_elt_etl_pipeline_spark.streaming.runner import start_foreach_batch

__all__ = [
    "held_in",
    "update_lm_counts",
    "current_lm_model",
    "consolidate_lm_counts",
    "lm_stream",
]


def update_lm_counts(
    batch: DataFrame,
    bigram: ParquetTable,
    unigram: ParquetTable,
    epoch: int,
) -> None:
    """Merge one micro-batch's held-in n-gram count deltas into the model
    ledgers (epoch deltas — replays insert nothing)."""
    held = batch.filter(held_in()).localCheckpoint(eager=True)  # feeds both
    bg = doc_bigrams(held).groupBy("prev", "cur").agg(F.count(F.lit(1)).alias("bc"))
    write_delta(bigram, bg, ["prev", "cur"], epoch)
    ug = doc_unigrams(held).groupBy("token").agg(F.count(F.lit(1)).alias("uc"))
    write_delta(unigram, ug, ["token"], epoch)


def _fold_bigrams(bigram: DataFrame) -> DataFrame:
    return bigram.groupBy("prev", "cur").agg(F.sum("bc").cast("long").alias("bc"))


def _fold_unigrams(unigram: DataFrame) -> DataFrame:
    return unigram.groupBy("token").agg(F.sum("uc").cast("long").alias("uc"))


def current_lm_model(
    bigram: ParquetTable, unigram: ParquetTable
) -> tuple[DataFrame, DataFrame]:
    """The live (prev, cur, bc) and (token, uc) trained tables — epoch
    deltas summed out (integer addition is exact, so this equals the batch
    aggregation over every held-in document delivered so far)."""
    return _fold_bigrams(bigram.read()), _fold_unigrams(unigram.read())


def consolidate_lm_counts(bigram: ParquetTable, unigram: ParquetTable) -> None:
    """Collapse the ledgers to one base row per n-gram."""
    consolidate(bigram, _fold_bigrams)
    consolidate(unigram, _fold_unigrams)


def lm_stream(
    docs: DataFrame,
    bigram: ParquetTable,
    unigram: ParquetTable,
    checkpoint_dir: str,
    trigger_seconds: int | None = None,
) -> StreamingQuery:
    """Maintain the bigram-LM model incrementally over a document stream."""

    def _sink(batch: DataFrame, epoch: int) -> None:
        update_lm_counts(batch, bigram, unigram, epoch=epoch)

    return start_foreach_batch(
        docs, _sink, checkpoint_dir, trigger_seconds, output_mode="append"
    )

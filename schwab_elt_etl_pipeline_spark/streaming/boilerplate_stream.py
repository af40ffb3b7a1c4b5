"""Incrementally maintained line-frequency index — the streaming twin of
``boilerplate_line_scrub`` (the CCNet/RefinedWeb corpus-frequency rule).

A production crawl pipeline cannot rescan the corpus to decide which lines
are boilerplate; it maintains the per-line document frequency as shards
arrive and serves the scrub from the maintained index. State, two
epoch-delta ledgers (``streaming/epochs.py`` — integer deltas keyed on
(key…, _epoch), so a replayed micro-batch inserts nothing and the
epoch-sum equals the batch aggregation exactly):

- ``lines``:   (passage, df, _epoch) — per-batch DISTINCT-document line
  counts. Exact under the streaming contract every corpus twin shares:
  a document arrives in exactly one micro-batch (doc rows are atomic),
  so per-batch distinct-doc counts SUM to the corpus distinct-doc count.
- ``docstats``: (n, _epoch) — per-batch document counts, so the
  corpus-relative threshold greatest(min_docs, n_docs div per) is
  computable from the index alone.

Serving: :func:`current_boilerplate` reproduces the batch operator's
boilerplate set bit-for-bit at any stream prefix; :func:`scrub_docs`
applies it with the SHARED excision/rebuild algebra — scrubbing the
corpus against the fully-drained index equals the batch
``boilerplate_scrub`` exactly (pinned in tests/test_streaming_boiler.py).
An early prefix scrubs under prefix knowledge — the honest semantics of
incremental curation; the INDEX, not the early verdicts, is the
maintained artifact.

Zipf bound: the ledger holds one row per distinct line per epoch;
``consolidate_line_df`` folds committed epochs to one row per line, and
the SERVED set (df over threshold) is
corpus_lines/threshold at most — broadcast-sized.

Reference behavior mirrored: the reference's dup-guard keeps a persistent
key set consulted per insert batch (tools/schwab.py:476-520); this is the
same protocol with a frequency threshold instead of existence.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.query import StreamingQuery

from schwab_elt_etl_pipeline_spark.operators.dedup import split_passages
from schwab_elt_etl_pipeline_spark.sources.warehouse import ParquetTable
from schwab_elt_etl_pipeline_spark.streaming.epochs import consolidate, write_delta
from schwab_elt_etl_pipeline_spark.streaming.runner import start_foreach_batch

__all__ = [
    "update_line_df",
    "current_line_df",
    "current_boilerplate",
    "scrub_docs",
    "consolidate_line_df",
    "boilerplate_stream",
]

PASSAGE_TOKENS = 2  # the batch operator's line definition (shared default)


def update_line_df(
    batch: DataFrame,
    lines: ParquetTable,
    docstats: ParquetTable,
    epoch: int,
    passage_tokens: int = PASSAGE_TOKENS,
) -> None:
    """Merge one micro-batch's per-line distinct-doc deltas and its doc
    count into the ledgers (epoch deltas — replays insert nothing)."""
    lp = split_passages(batch, "doc_id", "text", passage_tokens).localCheckpoint(
        eager=True
    )  # feeds both the line deltas and the doc count
    delta = lp.groupBy("passage").agg(F.count_distinct("_id").cast("long").alias("df"))
    write_delta(lines, delta, ["passage"], epoch)
    nd = lp.select("_id").distinct().agg(F.count(F.lit(1)).cast("long").alias("n"))
    write_delta(docstats, nd, [], epoch)


def _fold_lines(lines: DataFrame) -> DataFrame:
    return lines.groupBy("passage").agg(F.sum("df").cast("long").alias("df"))


def _fold_docs(docstats: DataFrame) -> DataFrame:
    return docstats.agg(F.sum("n").cast("long").alias("n"))


def current_line_df(lines: ParquetTable) -> DataFrame:
    """The live (passage, df) table — epoch deltas summed out (exact:
    integer addition over once-per-doc batches)."""
    return _fold_lines(lines.read())


def current_boilerplate(
    lines: ParquetTable,
    docstats: ParquetTable,
    min_docs: int = 2,
    min_docs_per: int | None = 25,
) -> DataFrame:
    """The boilerplate line set the batch operator would compute over every
    document delivered so far: df >= greatest(min_docs, n_docs div per),
    the threshold read from the maintained doc-count ledger as the same
    1-row broadcast scalar."""
    dfc = current_line_df(lines)
    if min_docs_per is None:
        return dfc.filter(F.col("df") >= min_docs).select("passage")
    thr = _fold_docs(docstats.read()).select(
        F.greatest(
            F.lit(min_docs).cast("long"), F.expr(f"n div {int(min_docs_per)}")
        ).alias("_thr")
    )
    return (
        dfc.crossJoin(F.broadcast(thr))
        .filter(F.col("df") >= F.col("_thr"))
        .select("passage")
    )


def scrub_docs(
    docs: DataFrame,
    boiler: DataFrame,
    passage_tokens: int = PASSAGE_TOKENS,
) -> DataFrame:
    """Excise a boilerplate set from documents with the batch operator's
    algebra (unhinted LEFT ANTI — AQE broadcasts a fitting set, shuffles
    an outsized one — + position-ordered rebuild): one excision
    definition across the batch and streaming paths, so scrubbing
    against the drained index is bit-identical to ``boilerplate_scrub``."""
    lp = split_passages(docs, "doc_id", "text", passage_tokens)
    kept = lp.join(boiler, "passage", "left_anti")
    totals = lp.groupBy("_id").agg(F.count(F.lit(1)).alias("n_lines"))
    rebuilt = kept.groupBy("_id").agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("passage_id", "passage"))),
                lambda x: x["passage"],
            ),
            " ",
        ).alias("text"),
    )
    return totals.join(rebuilt, "_id", "left").select(
        F.col("_id").alias("doc_id"),
        F.coalesce("text", F.lit("")).alias("text"),
        F.col("n_lines"),
        (F.col("n_lines") - F.coalesce("n_kept", F.lit(0))).alias("n_removed"),
    )


def consolidate_line_df(lines: ParquetTable, docstats: ParquetTable) -> None:
    """Collapse the ledgers to one base row per line (and one doc total)."""
    consolidate(lines, _fold_lines)
    consolidate(docstats, _fold_docs)


def boilerplate_stream(
    docs: DataFrame,
    lines: ParquetTable,
    docstats: ParquetTable,
    checkpoint_dir: str,
    trigger_seconds: int | None = None,
) -> StreamingQuery:
    """Maintain the line-frequency index incrementally over a document
    stream."""

    def _sink(batch: DataFrame, epoch: int) -> None:
        update_line_df(batch, lines, docstats, epoch=epoch)

    return start_foreach_batch(
        docs, _sink, checkpoint_dir, trigger_seconds, output_mode="append"
    )

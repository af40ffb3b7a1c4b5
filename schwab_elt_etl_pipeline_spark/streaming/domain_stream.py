"""Incrementally maintained per-domain curation stats.

The streaming twin of ``operators/domains.py``: as crawl batches arrive,
per-(domain, canonical page) doc counts and quality sums merge into an
epoch-delta ledger (``streaming/epochs.py``), and
:func:`current_domain_stats` serves the SAME (domain, n_docs, n_pages,
dup_rate, mean_quality) table the batch ``domain_stats`` would compute
over everything ingested so far — so a domain gate
(``domain_quality_gate``) can re-verdict continuously instead of waiting
for a full-corpus recompute.

Ledger grain is the PAGE, not the domain: ``n_pages`` is a distinct count
(not additive), so the ledger keys on (domain, canonical_url, _epoch) and
distinctness falls out of the serve-time groupBy — the same trick every
distinct-ish member of the incremental family uses (gram novelty, URL
keepers). Doc counts and integer quality sums ARE additive, so they ride
the same rows and fold in any order.

All pieces share the batch operator's kernels (``canonical_url``,
``registrable_domain``, and ``domain_stats``'s division expressions) so
the domain rule and the stat arithmetic cannot drift between the paths —
the stream ≡ batch pin in tests/test_streaming_domain.py is exact.

Malformed URLs (NULL canonical, e.g. quarantined port tails) contribute
nothing: the batch operator never sees them either (the catalog query
feeds it canonicalized rows), so identity holds with the quarantine
applied on BOTH paths.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from schwab_elt_etl_pipeline_spark.operators.domains import (
    registrable_domain,
)
from schwab_elt_etl_pipeline_spark.operators.urls import canonical_url
from schwab_elt_etl_pipeline_spark.sources.warehouse import ParquetTable
from schwab_elt_etl_pipeline_spark.streaming.epochs import consolidate, write_delta
from schwab_elt_etl_pipeline_spark.streaming.runner import (
    start_foreach_batch,
)

__all__ = [
    "update_domain_stats",
    "current_domain_stats",
    "consolidate_domain_stats",
    "domain_stream",
]


def update_domain_stats(
    batch: DataFrame,
    ledger: ParquetTable,
    epoch: int,
    url_col: str = "url",
    quality_weight_col: str = "q_weight",
    domain_expr: Callable[[Column], Column] = registrable_domain,
) -> None:
    """Merge one micro-batch's per-(domain, page) deltas into the ledger
    (an epoch delta — replays insert nothing). Rows whose URL
    quarantines to NULL are dropped, mirroring the batch path's
    canonicalize-then-gate order.

    ``domain_expr`` is the registrable-domain KERNEL (host Column ->
    domain Column) — the heuristic core by default, or
    ``operators/psl.py registrable_domain_psl`` for real public-suffix
    semantics; pass the SAME kernel the batch ``domain_stats`` caller
    uses or the stream ≡ batch identity breaks on multi-label suffixes."""
    delta = (
        batch.select(
            canonical_url(url_col).alias("canonical_url"),
            F.col(quality_weight_col).alias("_w"),
        )
        .where(F.col("canonical_url").isNotNull())
        .withColumn(
            "domain",
            domain_expr(
                F.try_parse_url(F.col("canonical_url"), F.lit("HOST"))
            ),
        )
        .groupBy("domain", "canonical_url")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("_w").cast("long").alias("q_sum"),
        )
    )
    write_delta(ledger, delta, ["domain", "canonical_url"], epoch)


def _fold_pages(ledger: DataFrame) -> DataFrame:
    return ledger.groupBy("domain", "canonical_url").agg(
        F.sum("n_docs").cast("long").alias("n_docs"),
        F.sum("q_sum").cast("long").alias("q_sum"),
    )


def current_domain_stats(
    ledger: ParquetTable, quality_scale: int = 1
) -> DataFrame:
    """The live per-domain stats — page-grain epoch deltas folded (exact
    integer algebra), then the batch operator's exact division
    expressions. Bit-identical to ``domain_stats`` over the canonicalized
    union of all ingested batches."""
    return (
        _fold_pages(ledger.read())
        .groupBy("domain")
        .agg(
            F.sum("n_docs").cast("long").alias("n_docs"),
            F.count(F.lit(1)).alias("n_pages"),
            F.sum("q_sum").cast("long").alias("_q_sum"),
        )
        .select(
            "domain",
            "n_docs",
            "n_pages",
            (
                (F.col("n_docs") - F.col("n_pages")).cast("double")
                / F.col("n_docs")
            ).alias("dup_rate"),
            (
                F.col("_q_sum").cast("double")
                / (F.col("n_docs") * F.lit(quality_scale))
            ).alias("mean_quality"),
        )
    )


def consolidate_domain_stats(
    ledger: ParquetTable, keep_versions: int = 2
) -> int:
    """Collapse the ledger to ONE base row per (domain, page)
    (read-identical — the fold is the one the serve path applies)."""
    version = consolidate(ledger, _fold_pages)
    ledger.vacuum(keep_last=keep_versions)
    return version


def domain_stream(
    docs: DataFrame,
    ledger: ParquetTable,
    checkpoint_dir: str,
    url_col: str = "url",
    quality_weight_col: str = "q_weight",
    trigger_seconds: int | None = None,
    domain_expr: Callable[[Column], Column] = registrable_domain,
) -> StreamingQuery:
    """Maintain the per-domain stats ledger incrementally over a document
    stream."""

    def _sink(batch: DataFrame, epoch: int) -> None:
        update_domain_stats(
            batch,
            ledger,
            epoch=epoch,
            url_col=url_col,
            quality_weight_col=quality_weight_col,
            domain_expr=domain_expr,
        )

    return start_foreach_batch(
        docs, _sink, checkpoint_dir, trigger_seconds, output_mode="append"
    )

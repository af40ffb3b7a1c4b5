"""Incremental domain-stats ledger: stream ≡ batch pin, replay
idempotence, consolidation read-identity (the incremental-index family
contract, applied to the wave-6 domain gate)."""

from __future__ import annotations

import tempfile

import pytest
from pyspark.sql import functions as F

from schwab_elt_etl_pipeline_spark.operators.domains import (
    domain_stats,
    registrable_domain,
)
from schwab_elt_etl_pipeline_spark.operators.urls import canonical_url
from schwab_elt_etl_pipeline_spark.sources.warehouse import ParquetTable
from schwab_elt_etl_pipeline_spark.streaming.domain_stream import (
    consolidate_domain_stats,
    current_domain_stats,
    update_domain_stats,
)

SCHEMA = "doc_id long, url string, q_weight int"

ROWS1 = [
    (0, "https://www.alpha.example.com/a", 10),
    (1, "https://alpha.example.com/a/", 20),  # same canonical page as 0
    (2, "https://alpha.example.com/b", 30),
    (3, "https://blog.beta.co.uk/x", 5),
    (4, "https://beta.co.uk:0/bad", 99),  # quarantined port: contributes 0
]
ROWS2 = [
    (5, "https://alpha.example.com/a?utm_source=f", 40),  # page /a again
    (6, "https://blog.beta.co.uk/y", 7),
    (7, "not a url", 99),  # malformed: contributes nothing
]


def _batch_enriched(spark, rows):
    """The batch path's input: canonicalized + domain-tagged rows with the
    quarantine applied (exactly what the catalog query feeds
    domain_stats)."""
    return (
        spark.createDataFrame(rows, SCHEMA)
        .select(
            canonical_url("url").alias("canonical_url"),
            F.col("q_weight"),
        )
        .where(F.col("canonical_url").isNotNull())
        .select(
            registrable_domain(
                F.try_parse_url(F.col("canonical_url"), F.lit("HOST"))
            ).alias("domain"),
            "canonical_url",
            "q_weight",
        )
    )


def _snap(df):
    return {tuple(r) for r in df.collect()}


def test_incremental_domain_stats_match_batch_operator(spark):
    root = tempfile.mkdtemp(prefix="domledger_")
    ledger = ParquetTable(spark, root)
    update_domain_stats(spark.createDataFrame(ROWS1, SCHEMA), ledger, epoch=0)
    update_domain_stats(spark.createDataFrame(ROWS2, SCHEMA), ledger, epoch=1)

    expected = _snap(
        domain_stats(_batch_enriched(spark, ROWS1 + ROWS2), quality_scale=50)
    )
    got = _snap(current_domain_stats(ledger, quality_scale=50))
    assert got == expected  # exact, floats included (same expressions)

    # sanity on the content itself: dup page /a counted 3 docs / 1 page
    by_dom = {r[0]: r for r in got}
    assert by_dom["example.com"][1] == 4  # n_docs (ids 0,1,2,5)
    assert by_dom["example.com"][2] == 2  # n_pages (/a, /b)
    assert by_dom["beta.co.uk"][1] == 2  # the :0 row never arrived

    n = ledger.read().count()
    update_domain_stats(spark.createDataFrame(ROWS2, SCHEMA), ledger, epoch=1)
    assert ledger.read().count() == n  # replayed epoch inserts nothing

    consolidate_domain_stats(ledger)
    assert _snap(current_domain_stats(ledger, quality_scale=50)) == expected


def test_ledger_with_psl_kernel_matches_batch(spark):
    """The pluggable domain kernel: ledger maintained with the PSL
    registrable-domain (operators/psl.py) serves the same table as the
    batch operator using the same kernel — on hosts where the heuristic
    would bucket differently (user.github.io private suffix, *.ck)."""
    from schwab_elt_etl_pipeline_spark.operators.psl import (
        registrable_domain_psl,
    )

    rows = [
        (0, "https://alice.github.io/p1", 10),
        (1, "https://www.alice.github.io/p1/", 20),  # same canonical page
        (2, "https://bob.github.io/p2", 30),
        (3, "https://shop.example.ck/x", 5),
        (4, "https://www.example.co.uk/y", 7),
    ]
    root = tempfile.mkdtemp(prefix="dompsl_")
    ledger = ParquetTable(spark, root)
    update_domain_stats(
        spark.createDataFrame(rows[:3], SCHEMA), ledger, epoch=0,
        domain_expr=registrable_domain_psl,
    )
    update_domain_stats(
        spark.createDataFrame(rows[3:], SCHEMA), ledger, epoch=1,
        domain_expr=registrable_domain_psl,
    )
    batch = (
        spark.createDataFrame(rows, SCHEMA)
        .select(canonical_url("url").alias("canonical_url"), "q_weight")
        .where(F.col("canonical_url").isNotNull())
        .select(
            registrable_domain_psl(
                F.try_parse_url(F.col("canonical_url"), F.lit("HOST"))
            ).alias("domain"),
            "canonical_url",
            "q_weight",
        )
    )
    expected = _snap(domain_stats(batch, quality_scale=10))
    got = _snap(current_domain_stats(ledger, quality_scale=10))
    assert got == expected
    doms = {r[0] for r in got}
    # PSL semantics visible in the ledger: per-USER github.io domains, the
    # wildcard *.ck taking three labels
    assert {"alice.github.io", "bob.github.io", "shop.example.ck"} <= doms
    assert "github.io" not in doms


@pytest.mark.slow
def test_domain_ledger_invariant_under_batch_splits(spark):
    """However the same rows split into epochs, the served stats equal the
    batch operator over the union — the ledger's associativity claim."""
    rows = ROWS1 + ROWS2
    expected = _snap(domain_stats(_batch_enriched(spark, rows), quality_scale=7))
    for cut in (0, 2, 5, len(rows)):
        root = tempfile.mkdtemp(prefix="domsplit_")
        ledger = ParquetTable(spark, root)
        for ep, part in enumerate((rows[:cut], rows[cut:])):
            if part:
                update_domain_stats(
                    spark.createDataFrame(part, SCHEMA), ledger, epoch=ep
                )
        assert _snap(current_domain_stats(ledger, quality_scale=7)) == expected

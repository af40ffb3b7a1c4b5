"""The epoch-delta ledgers of the streaming legs, driven by direct calls at
explicit epochs (no streaming drain): a delta needs an epoch >= 0, and
consolidation keeps each ledger's served result, on-disk schema and
exactly-once counting, and never drops a delta that lands during it.
"""

from __future__ import annotations

import datetime as dt
import shutil
from dataclasses import dataclass
from typing import Callable

import pytest
from pyspark.sql import functions as F

from schwab_elt_etl_pipeline_spark.operators.rollup import rollup_minutes
from schwab_elt_etl_pipeline_spark.sources.warehouse import (
    ConcurrentWriteConflict,
    ParquetTable,
)
from schwab_elt_etl_pipeline_spark.streaming import (
    acf_stream,
    boilerplate_stream,
    domain_stream,
    lm_stream,
    markov_stream,
    rollup_stream,
    seasonal_stream,
    shard_stream,
)

EV_SCHEMA = (
    "event_id long, user_id long, event_type string, ts timestamp, value double"
)
DOC_SCHEMA = "doc_id long, text string, url string, q_weight int"
KEYS = ["event_type"]


def _events(spark, first_id: int):
    t0 = dt.datetime(2024, 1, 1, 9, 0)
    rows = [
        (
            first_id + i,
            i % 2,
            ("view", "click", "buy")[i % 3],
            t0 + dt.timedelta(minutes=first_id + 7 * i),
            round(1.0 + 0.25 * ((first_id + i) % 5), 2),
        )
        for i in range(6)
    ]
    return spark.createDataFrame(rows, EV_SCHEMA)


def _docs(spark, first_id: int):
    texts = [
        "home about contact the quick brown fox",
        "home about contact a lazy dog sleeps",
        "subscribe now the quick brown fox again",
        "subscribe now another short page",
    ]
    rows = [
        (
            first_id + i,
            t,
            f"https://{('a', 'b')[i % 2]}.example.com/p{(first_id + i) % 3}",
            10 * (i + 1),
        )
        for i, t in enumerate(texts)
    ]
    return spark.createDataFrame(rows, DOC_SCHEMA)


def _stage(stage: ParquetTable, events, epoch: int) -> None:
    """Stage one epoch's rollup partials the way ``run_streaming_rollup``
    does; the stage's on-disk format is spelled out here so these tests pin
    it independently of the module that writes it."""
    partials = rollup_minutes(events, KEYS).withColumn(
        "_epoch", F.lit(epoch).cast("long")
    )
    stage.insert_new(partials, keys=[*KEYS, "bucket_ts", "_epoch"])


@dataclass
class Ledger:
    tables: list[ParquetTable]
    write: Callable  # (batch, epoch=...) -> None
    serve: Callable  # () -> list of DataFrames
    consolidate: Callable  # () -> None
    events: bool  # fed events (else documents)


def _seasonal(spark, root):
    counts = ParquetTable(spark, f"{root}/counts")
    return Ledger(
        [counts],
        lambda b, **kw: seasonal_stream.update_seasonal_counts(b, counts, **kw),
        lambda: [seasonal_stream.current_counts(counts)],
        lambda: seasonal_stream.consolidate_counts(counts),
        True,
    )


def _acf(spark, root):
    tails = ParquetTable(spark, f"{root}/tails")
    moments = ParquetTable(spark, f"{root}/moments")

    def consolidate():
        acf_stream.consolidate_tails(tails, lags=3)
        acf_stream.consolidate_moments(moments)

    return Ledger(
        [tails, moments],
        lambda b, **kw: acf_stream.update_acf_moments(b, tails, moments, lags=3, **kw),
        lambda: [acf_stream.current_moments(moments)],
        consolidate,
        True,
    )


def _markov(spark, root):
    cells = ParquetTable(spark, f"{root}/cells")
    last = ParquetTable(spark, f"{root}/last_seen")

    def consolidate():
        markov_stream.consolidate_cells(cells)
        markov_stream.consolidate_last_seen(last)

    return Ledger(
        [cells, last],
        lambda b, **kw: markov_stream.update_transition_cells(b, cells, last, **kw),
        lambda: [markov_stream.transition_probs(markov_stream.current_cells(cells))],
        consolidate,
        True,
    )


def _lm(spark, root):
    bigram = ParquetTable(spark, f"{root}/bigram")
    unigram = ParquetTable(spark, f"{root}/unigram")
    return Ledger(
        [bigram, unigram],
        lambda b, **kw: lm_stream.update_lm_counts(b, bigram, unigram, **kw),
        lambda: list(lm_stream.current_lm_model(bigram, unigram)),
        lambda: lm_stream.consolidate_lm_counts(bigram, unigram),
        False,
    )


def _rollup_stage(spark, root):
    stage = ParquetTable(spark, f"{root}/stage")
    return Ledger(
        [stage],
        lambda b, epoch: _stage(stage, b, epoch),
        lambda: [rollup_stream.fold_partials(stage.read(), KEYS)],
        lambda: rollup_stream.compact_stage(stage, KEYS),
        True,
    )


def _quantiles(spark, root):
    sketches = ParquetTable(spark, f"{root}/sketches")
    return Ledger(
        [sketches],
        lambda b, **kw: rollup_stream.update_quantile_sketch_table(
            b, sketches, keys=KEYS, **kw
        ),
        lambda: [rollup_stream.read_quantile_estimates(sketches, KEYS)],
        lambda: rollup_stream.consolidate_quantile_sketches(sketches, KEYS),
        True,
    )


def _boilerplate(spark, root):
    lines = ParquetTable(spark, f"{root}/lines")
    docstats = ParquetTable(spark, f"{root}/docstats")
    return Ledger(
        [lines, docstats],
        lambda b, **kw: boilerplate_stream.update_line_df(b, lines, docstats, **kw),
        lambda: [
            boilerplate_stream.current_line_df(lines),
            boilerplate_stream.current_boilerplate(lines, docstats, min_docs_per=3),
        ],
        lambda: boilerplate_stream.consolidate_line_df(lines, docstats),
        False,
    )


def _shard(spark, root):
    stats = ParquetTable(spark, f"{root}/stats")
    return Ledger(
        [stats],
        lambda b, **kw: shard_stream.update_shard_stats(b, stats, **kw),
        lambda: [shard_stream.current_shard_manifest(stats)],
        lambda: shard_stream.consolidate_shard_stats(stats),
        False,
    )


def _domain(spark, root):
    ledger = ParquetTable(spark, f"{root}/domains")
    return Ledger(
        [ledger],
        lambda b, **kw: domain_stream.update_domain_stats(b, ledger, **kw),
        lambda: [domain_stream.current_domain_stats(ledger, quality_scale=10)],
        lambda: domain_stream.consolidate_domain_stats(ledger),
        False,
    )


LEDGERS = {
    "seasonal": _seasonal,
    "acf": _acf,
    "markov": _markov,
    "lm": _lm,
    "rollup_stage": _rollup_stage,
    "quantile_sketches": _quantiles,
    "boilerplate": _boilerplate,
    "shard": _shard,
    "domain": _domain,
}


def _batch(spark, ledger: Ledger, first_id: int):
    return _events(spark, first_id) if ledger.events else _docs(spark, first_id)


def _served(ledger: Ledger) -> list:
    return [sorted(map(tuple, df.collect()), key=repr) for df in ledger.serve()]


# the delta writers whose ``epoch`` is part of the insert key (the rollup
# stage is written inside ``run_streaming_rollup``'s batch function)
WRITERS = [name for name in LEDGERS if name != "rollup_stage"]


@pytest.mark.parametrize("name", WRITERS)
def test_delta_writer_rejects_a_missing_or_negative_epoch(spark, tmp_path, name):
    """A NULL stamp matches a base row (or another NULL delta) under
    ``insert_new``'s null-safe anti-join, so an epoch-less delta would be
    dropped: two direct calls with the same reading counted once."""
    ledger = LEDGERS[name](spark, str(tmp_path))
    batch = _batch(spark, ledger, 0)
    with pytest.raises(TypeError):
        ledger.write(batch)
    for epoch in (None, -1):
        with pytest.raises(ValueError):
            ledger.write(batch, epoch=epoch)
    assert not any(t.exists() for t in ledger.tables)


@pytest.mark.parametrize("name", list(LEDGERS))
def test_consolidation_keeps_the_served_result(spark, tmp_path, name):
    """Consolidating a ledger changes neither what it serves nor its on-disk
    schema, stamps every row with the NULL base marker, and a later delta at
    a reused epoch number still counts: the result equals a ledger that
    never consolidated and took the same delta at a fresh epoch."""
    make = LEDGERS[name]
    ledger = make(spark, str(tmp_path / "ledger"))
    a, b = _batch(spark, ledger, 0), _batch(spark, ledger, 100)
    ledger.write(a, epoch=0)
    ledger.write(b, epoch=1)
    shutil.copytree(tmp_path / "ledger", tmp_path / "unconsolidated")
    reference = make(spark, str(tmp_path / "unconsolidated"))
    served = _served(ledger)
    schemas = [t.read().schema for t in ledger.tables]

    ledger.consolidate()
    assert _served(ledger) == served
    assert [t.read().schema for t in ledger.tables] == schemas
    for t in ledger.tables:
        assert t.read().where(F.col("_epoch").isNotNull()).isEmpty()

    ledger.write(a, epoch=1)  # a restarted stream reuses epoch numbers
    reference.write(a, epoch=2)
    after = _served(ledger)
    assert after == _served(reference)
    assert after != served


def test_consolidation_keeps_a_delta_appended_during_it(spark, tmp_path, monkeypatch):
    """A live batch that lands between the compactor's read and its commit
    appends into the CURRENT version dir without bumping the version, so
    ``base_version`` alone cannot see it; the commit must abort, not drop
    the batch's partials."""
    stage = ParquetTable(spark, str(tmp_path / "stage"))
    ev = _events(spark, 0).limit(1)
    _stage(stage, ev, 0)
    live = ev.withColumn("value", F.lit(9.0))
    fold = rollup_stream.fold_partials

    def fold_during_a_live_batch(staged, keys):
        folded = fold(staged, keys)
        _stage(stage, live, 1)  # the live batch lands mid-consolidation
        return folded

    monkeypatch.setattr(rollup_stream, "fold_partials", fold_during_a_live_batch)
    with pytest.raises(ConcurrentWriteConflict):
        rollup_stream.compact_stage(stage, KEYS)
    assert stage.read().agg(F.sum("n")).first()[0] == 2

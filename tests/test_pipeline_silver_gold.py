"""Golden tests for the flagship pipeline: quotes → OPT/OPTM → VERT/VERT_TS.

Fixture mirrors FIXTURES.md §1: one trading day of sparse tick records, with
deliberate duplicates (A7 MAX dedup), out-of-session rows (P5), null marks
(P9), a price spike (outlier flag W1/W2), and re-run idempotence (J3/J7).
"""

from __future__ import annotations

import datetime as dt
from decimal import Decimal

import pytest
from pyspark.sql import functions as F

from schwab_elt_etl_pipeline_spark.functions.symbols import make_option_symbol
from schwab_elt_etl_pipeline_spark.plans import gold, silver
from schwab_elt_etl_pipeline_spark.schemas import QUOTES_STREAM

DAY = dt.date(2024, 6, 17)
EXPIRY = dt.date(2024, 6, 21)
PT = dt.timezone(dt.timedelta(hours=-7))  # PDT on 2024-06-17


def _ms(hh: int, mm: int, ss: int = 0) -> int:
    """Epoch-ms for a Pacific wall-clock time on DAY."""
    return int(dt.datetime(DAY.year, DAY.month, DAY.day, hh, mm, ss, tzinfo=PT).timestamp() * 1000)


def _sym(strike: int, cp: int) -> str:
    yymmdd = EXPIRY.strftime("%y%m%d")
    return f"SPXW  {yymmdd}{'C' if cp > 0 else 'P'}{strike * 1000:08d}"


@pytest.fixture(scope="module")
def quotes(spark):
    rows = []
    # Underlying path ~5500 over the first 2h (sets strike range 5500±)
    for i, (hh, mm) in enumerate([(6, 30), (7, 0), (7, 30), (8, 0)]):
        rows.append((_ms(hh, mm), "$SPX", None, None, 5495.0 + 5 * i, _ms(hh, mm)))
    # Option marks: strikes 5500/5505/5510 calls, minute ticks 6:30-6:49
    for k, strike in enumerate((5500, 5505, 5510)):
        base = 20.0 - 2.0 * k
        for m in range(20):
            mark = base + 0.1 * m
            if strike == 5500 and m == 10:
                mark = base + 0.1 * m + 5.0  # outlier spike (W1/W2 flag)
            rows.append((_ms(6, 30 + m), _sym(strike, 1), mark, _ms(6, 30 + m), None, None))
    # duplicate tick at same (symbol, T) with lower mark → MAX wins (A7)
    rows.append((_ms(6, 30), _sym(5500, 1), 1.0, _ms(6, 30), None, None))
    # out-of-session rows → excluded by P5
    rows.append((_ms(5, 0), _sym(5500, 1), 99.0, _ms(5, 0), None, None))
    rows.append((_ms(13, 30), _sym(5500, 1), 99.0, _ms(13, 30), None, None))
    # null mark → dropped (P9)
    rows.append((_ms(6, 31), _sym(5510, 1), None, _ms(6, 31), None, None))
    return spark.createDataFrame(rows, QUOTES_STREAM)


def test_silver_builds_opt_and_optm(spark, quotes):
    opt, optm = silver.run_silver(quotes)
    opt_rows = {(r["Strike"], r["CP"]): r["OPT_ID"] for r in opt.collect()}
    assert set(opt_rows) == {(5500, 1), (5505, 1), (5510, 1)}

    optm_rows = optm.collect()
    # 20 ticks per contract in session; dup/out-of-session/null rows excluded
    assert len(optm_rows) == 60
    first = {
        (r["OPT_ID"], r["T"]): r["O"]
        for r in optm_rows
    }
    t0 = dt.datetime(2024, 6, 17, 6, 30)
    # MAX-per-(OPT_ID,T): the 1.0 duplicate lost to 20.0
    assert first[(opt_rows[(5500, 1)], t0)] == Decimal("20.00")


def test_silver_idempotent_rerun(spark, quotes):
    opt, optm = silver.run_silver(quotes)
    opt2, optm2 = silver.run_silver(quotes, opt=opt, optm=optm)
    assert opt2.count() == opt.count()
    assert optm2.count() == optm.count()


@pytest.mark.slow  # r13 verdict #2 re-tier: >=9 s property/reference test; close-gate full suite still runs it
def test_gold_verticals(spark, quotes):
    opt, optm = silver.run_silver(quotes)
    underlying = silver_underlying(quotes)
    min_time = dt.datetime(2024, 6, 17, 6, 30)
    vert, vert_ts = gold.run_gold(
        optm, opt, underlying, min_time=min_time, width=5, opt_range=100
    )
    verts = vert.collect()
    # strikes 5500/5505/5510 calls, W=5 → (5500,5505) and (5505,5510) spreads
    assert {(r["SS"], r["W"]) for r in verts} == {(5500, 5), (5505, 5)}
    assert all(r["CP"] == 1 for r in verts)

    ts = vert_ts.orderBy("VID", "T").collect()
    assert len(ts) > 0
    # clamp invariant: 0 <= O <= W
    assert all(Decimal("0") <= r["O"] <= Decimal("5") for r in ts)
    # spread of parallel ramps is constant 2.00 except around the spike
    o_values = {r["O"] for r in ts}
    assert Decimal("2.00") in o_values
    # the spike row itself was excluded as an outlier: no O=7.00 (clamped 5.00
    # would appear if the spike survived into the 5500/5505 spread)
    vid_5500 = [r for r in ts if any(
        v["VID"] == r["VID"] and v["SS"] == 5500 for v in verts)]
    assert all(r["O"] <= Decimal("2.50") for r in vid_5500)

    # idempotent re-run produces no new rows
    vert2, vert_ts2 = gold.run_gold(
        optm, opt, underlying, min_time=min_time, width=5, opt_range=100,
        vert=vert, vert_ts=vert_ts,
    )
    assert vert2.count() == vert.count()
    assert vert_ts2.count() == vert_ts.count()


def silver_underlying(quotes):
    from schwab_elt_etl_pipeline_spark.plans.silver import parse_underlying

    return parse_underlying(quotes)


def test_gold_with_second_precision_ticks(spark):
    """Real quote times are NOT minute-aligned; the gapfill grid is. Gold must
    carry off-grid marks onto the grid (as-of LOCF), not drop them — with an
    equality-join gapfill every leg price here would be NULL and VERT_TS
    would be empty or garbage."""
    rows = []
    for i, (hh, mm) in enumerate([(6, 30), (7, 0), (7, 30), (8, 0)]):
        rows.append((_ms(hh, mm), "$SPX", None, None, 5495.0 + 5 * i, _ms(hh, mm)))
    # option ticks at :17 seconds past each minute — never on a grid point
    for k, strike in enumerate((5500, 5505)):
        base = 20.0 - 2.0 * k
        for m in range(10):
            ms = _ms(6, 30 + m) + 17_000
            rows.append((ms, _sym(strike, 1), base + 0.1 * m, ms, None, None))
    quotes = spark.createDataFrame(rows, QUOTES_STREAM)
    opt, optm = silver.run_silver(quotes)
    underlying = silver_underlying(quotes)
    vert, vert_ts = gold.run_gold(
        optm, opt, underlying,
        min_time=dt.datetime(2024, 6, 17, 6, 30), width=5, opt_range=100,
    )
    ts = vert_ts.collect()
    assert len(ts) > 0
    # both legs ramp in lockstep → every non-null spread price is 2.00
    priced = [r["O"] for r in ts if r["O"] is not None]
    assert priced and all(o == Decimal("2.00") for o in priced)


def test_strike_range_falls_back_when_window_empty(spark):
    """Underlying marks all AFTER min_time+2h: the 2-hour window aggregate is
    Row(None, None); strike_range must fall back to the full series instead
    of returning None and crashing run_gold's lo-opt_range arithmetic."""
    rows = [
        (_ms(9, 0), "$SPX", None, None, 5500.0, _ms(9, 0)),
        (_ms(9, 30), "$SPX", None, None, 5510.0, _ms(9, 30)),
    ]
    quotes = spark.createDataFrame(rows, QUOTES_STREAM)
    underlying = silver_underlying(quotes)
    lo, hi = gold.strike_range(underlying, dt.datetime(2024, 6, 17, 6, 30))
    assert (lo, hi) == (5500, 5510)

    empty = underlying.filter("1=0")
    with pytest.raises(ValueError, match="no marks"):
        gold.strike_range(empty, dt.datetime(2024, 6, 17, 6, 30))


def _persistent_rdd_ids(spark):
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())


@pytest.mark.slow  # r13 verdict #2 re-tier: >=9 s property/reference test; close-gate full suite still runs it
def test_gold_scope_releases_caches(spark, quotes):
    """gold_scope must leave NO retained RDD blocks after exit, and run_gold
    must not persist at all — the persist-hygiene contract for the streaming
    hot loop (storage memory may not accumulate across micro-batches).

    The assertion is on the DELTA of persistent RDD ids, not the absolute
    count: the session is shared across the whole suite and earlier tests
    may legitimately leak localCheckpoint blocks that clearCache() does not
    unpersist, so a global ==0 would be order-dependent (it failed under the
    fast-path deselection ordering while passing in isolation)."""
    spark.catalog.clearCache()
    baseline = _persistent_rdd_ids(spark)
    opt, optm = silver.run_silver(quotes)
    underlying = silver_underlying(quotes)
    min_time = dt.datetime(2024, 6, 17, 6, 30)

    vert, vert_ts = gold.run_gold(
        optm, opt, underlying, min_time=min_time, width=5, opt_range=100
    )
    vert.collect()
    assert _persistent_rdd_ids(spark) - baseline == set()

    with gold.gold_scope(
        optm, opt, underlying, min_time=min_time, width=5, opt_range=100
    ) as (v_all, ts_all):
        n_vert, n_ts = v_all.count(), ts_all.count()
        assert n_vert > 0 and n_ts > 0
        assert len(_persistent_rdd_ids(spark) - baseline) > 0  # in scope
    assert _persistent_rdd_ids(spark) - baseline == set()  # released

    # scope output matches the lazy variant
    assert n_vert == vert.count() and n_ts == vert_ts.count()


#: Spark jobs one steady-state ``apply_medallion_batch`` may launch on the
#: fixture below. The code before the fixed-cost cut launched 57 (a
#: localCheckpoint, a 2-job count() and an append per insert_new, two
#: isEmpty probes, and a second anti-join of each Gold table); it now
#: launches 35-36, and AQE re-planning may add one.
MEDALLION_BATCH_JOB_CEILING = 40


def test_medallion_batch_job_ceiling(spark, quotes, tmp_path):
    """A steady-state micro-batch (every table exists, the batch brings new
    ticks) stays under a committed Spark-job ceiling: a job count does not
    move with host load, unlike the batch's wall-clock."""
    from schwab_elt_etl_pipeline_spark.session import CODEGEN_CACHE_ENTRIES
    from schwab_elt_etl_pipeline_spark.sources.warehouse import ParquetTable
    from schwab_elt_etl_pipeline_spark.streaming.pipeline import apply_medallion_batch
    from schwab_elt_etl_pipeline_spark.testing.jobs import jobs_launched

    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == str(CODEGEN_CACHE_ENTRIES)
    names = ("opt", "optm", "underlying", "vert", "vert_ts")
    tables = [ParquetTable(spark, str(tmp_path / n)) for n in names]
    tick_ms = F.coalesce(F.col("38"), F.col("35"))
    split = _ms(6, 40)
    apply_medallion_batch(quotes.filter(tick_ms < split), *tables)

    second = quotes.filter(tick_ms >= split)
    jobs = jobs_launched(spark, lambda: apply_medallion_batch(second, *tables))
    assert jobs <= MEDALLION_BATCH_JOB_CEILING

    rows = dict(zip(names, (t.read().count() for t in tables)))
    assert rows["optm"] == 60  # the whole fixture's Silver marks
    assert rows["vert"] == 2 and rows["vert_ts"] > 0

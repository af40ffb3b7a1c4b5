"""Gold: OPTM mark series → VERT spread definitions + VERT_TS priced series.

Re-expresses ``SPX.SP_PROCESS_VERTS @D, @MinTime, @W``
(docs/sql_server.md:399-586) as one declarative DataFrame DAG:

  1. strike range from the underlying's first 2 hours:
     ``ROUND(MIN(mark)/5)*5 … ROUND(MAX(mark)/5)*5`` ± opt_range
     (A8, docs/sql_server.md:429-434, F11 bucketing, F20 DATEADD);
  2. densify each leg's series over the session grid with LOCF
     (T9 — the reference calls the missing ``SP_OPTION_TIMESERIES_BACKFILL``;
     semantics per SURVEY T9);
  3. pair short/long legs W strikes apart at the same (T, CP, Expiry):
     put spreads short the higher strike, call spreads short the lower
     (J5, docs/sql_server.md:458-476 — written FULL OUTER there but reduced
     to inner by its WHERE clause; implemented as inner, SURVEY §7.3.5);
  4. outlier flag from 5-row trailing/leading averages per leg pair
     (W1/W2, docs/sql_server.md:484-502);
  5. VERT definitions: distinct (SID, LID) pairs with deterministic VID
     (docs/sql_server.md:511-520);
  6. net price = short minus long, clamped to [0, W], outliers and
     after-hours rows excluded (F10/P5, docs/sql_server.md:527-546);
  7. 10-row rolling average AVG_R per VID (W3, docs/sql_server.md:562-568);
  8. MAX-pair dedup per (VID, T) (A10, docs/sql_server.md:553-575).

The builders return candidate rows. The reference's J3 anti-joins against
the existing VERT / VERT_TS (docs/sql_server.md:511-520,553-575) belong to
the write: the caller hands each output to ``ParquetTable.insert_new`` keyed
on (SID, LID) and (VID, T), which creates a missing table on its first write
and otherwise anti-joins once. :func:`gold_scope` is the one build path.

Scale notes: the leg self-join is an equi-join on (T, CP, Expiry) with a
residual band predicate on strikes — Catalyst plans a shuffled hash join on the
equi keys; both sides are the same densified series, partitioned identically,
so AQE reuses the exchange. The window trio shares one (SID,LID) sort. Nothing
collects to the driver except the 2-row strike-range aggregate.
"""

from __future__ import annotations

import contextlib
import datetime as dt

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from schwab_elt_etl_pipeline_spark.functions.scalars import clamp
from schwab_elt_etl_pipeline_spark.operators.gapfill import gapfill_locf
from schwab_elt_etl_pipeline_spark.operators.merge import surrogate_key
from schwab_elt_etl_pipeline_spark.operators.windows import with_outlier_flag
from schwab_elt_etl_pipeline_spark.plans.silver import MARKET_CLOSE


def strike_range(
    underlying: DataFrame, min_time: dt.datetime, hours: int = 2, step: int = 5
) -> tuple[int, int]:
    """Bucketed MIN/MAX of the underlying over [min_time, min_time + hours)
    (docs/sql_server.md:429-434). The only driver-side collect in the plan —
    a 1-row aggregate.

    If the underlying has no marks inside the window (e.g. option ticks start
    before the first $SPX tick of the day), the range falls back to the whole
    series at-or-after ``min_time``, then to the whole series — aggregating an
    empty filter yields Row(lo=None, hi=None), and propagating None would
    crash the caller's ``lo - opt_range`` arithmetic mid-micro-batch.
    Raises ``ValueError`` only when ``underlying`` itself is empty.
    """

    def _minmax(df: DataFrame):
        return df.agg(
            (F.round(F.min("Mark") / step, 0) * step).cast("int").alias("lo"),
            (F.round(F.max("Mark") / step, 0) * step).cast("int").alias("hi"),
        ).first()

    candidates = (
        underlying.filter(
            (F.col("T") >= F.lit(min_time))
            & (F.col("T") < F.lit(min_time + dt.timedelta(hours=hours)))
        ),
        underlying.filter(F.col("T") >= F.lit(min_time)),
        underlying,
    )
    for df in candidates:
        row = _minmax(df)
        if row["lo"] is not None and row["hi"] is not None:
            return row["lo"], row["hi"]
    raise ValueError("strike_range: underlying has no marks to derive a range from")


def densify_legs(
    optm: DataFrame,
    opt: DataFrame,
    min_time: dt.datetime,
    strike_lo: int,
    strike_hi: int,
    step: str = "interval 1 minute",
    session_end: str = MARKET_CLOSE,
) -> DataFrame:
    """T9: continuous per-contract series on a regular grid, LOCF-filled,
    restricted to strikes in [strike_lo, strike_hi] and T in
    [@MinTime, session_end] (docs/sql_server.md:443-450, SURVEY T9)."""
    end_ts = dt.datetime.combine(min_time.date(), dt.time.fromisoformat(session_end))
    legs = (
        optm.join(F.broadcast(opt), on="OPT_ID", how="inner")
        .filter(F.col("Strike").between(strike_lo, strike_hi))
        .filter((F.col("T") >= F.lit(min_time)) & (F.col("T") <= F.lit(end_ts)))
        .select("OPT_ID", "Strike", "CP", "Expiry", "T", F.col("O").cast("double").alias("O"))
        # gapfill reads legs twice (bounds + observations) WITHIN one plan —
        # AQE ReuseExchange dedups the scan+join at runtime, so no persist
        # (and no storage-memory footprint on a long-running driver)
    )
    return gapfill_locf(
        legs,
        entity=["OPT_ID", "Strike", "CP", "Expiry"],
        ts="T",
        values=["O"],
        step=step,
        grid_start="date_trunc('minute', _min_ts)",
        grid_end=f"timestamp_ntz'{end_ts.isoformat(sep=' ')}'",
    )


def pair_legs(dense: DataFrame, width: int) -> DataFrame:
    """J5: short/long leg pairing (docs/sql_server.md:458-476).

    Same T, CP, Expiry; put (CP=-1) shorts the higher strike
    (S.SS = L.SS + W), call (CP=+1) shorts the lower (S.SS = L.SS - W).
    Implemented as an equi-join on (T, CP, Expiry) with the strike offset as a
    residual condition — hash-joinable, unlike a pure theta join.
    """
    s = dense.select(
        F.col("OPT_ID").alias("SID"),
        F.col("Strike").alias("SS"),
        "CP",
        "Expiry",
        "T",
        F.col("O").alias("SO"),
    )
    long_strike = F.when(F.col("CP") == -1, F.col("SS") - width).otherwise(F.col("SS") + width)
    s = s.withColumn("LSTRIKE", long_strike)
    l = dense.select(
        F.col("OPT_ID").alias("LID"),
        F.col("Strike").alias("LSTRIKE"),
        F.col("CP").alias("CP"),
        F.col("Expiry").alias("Expiry"),
        F.col("T").alias("T"),
        F.col("O").alias("LO"),
    )
    return s.join(l, on=["T", "CP", "Expiry", "LSTRIKE"], how="inner").select(
        "SID", "LID", "SS", "CP", "Expiry", "T", "SO", "LO"
    )


def build_verts(pairs: DataFrame, width: int) -> DataFrame:
    """VERT definitions — the distinct (SID, LID) pairs of ``pairs``
    (docs/sql_server.md:511-520). VID = xxhash64(SID, LID) (SURVEY §4.2)."""
    return (
        pairs.select("SID", "LID", "SS", "CP", "Expiry")
        .distinct()
        .withColumn("W", F.lit(width))
        .withColumn("VID", surrogate_key("SID", "LID"))
        .select("VID", "SID", "LID", "SS", "W", "CP", "Expiry")
    )


def build_vert_ts(
    pairs: DataFrame,
    vert: DataFrame,
    width: int,
    outlier_threshold: float = 0.5,
) -> DataFrame:
    """Steps 4, 6-8: priced spread series (docs/sql_server.md:484-575).

    Net price ``O = short − long`` clamped to [0, W]; rows flagged as outliers
    (OI=1) are excluded (docs/sql_server.md:541-542); AVG_R is the 10-row
    rolling average per VID; a final MAX-pair dedup leaves one row per
    (VID, T).
    """
    priced = pairs.withColumn("NET", F.col("SO") - F.col("LO"))
    flagged = with_outlier_flag(
        priced, value="NET", partition=["SID", "LID"], order="T", threshold=outlier_threshold
    )
    clean = (
        flagged.filter(F.col("OI") != 1)
        .withColumn("O", clamp(F.col("NET"), 0.0, float(width)).cast("decimal(9,2)"))
        .join(
            F.broadcast(vert.select("VID", "SID", "LID")), on=["SID", "LID"], how="inner"
        )
    )
    w_roll = Window.partitionBy("VID").orderBy("T").rowsBetween(-10, 0)
    rolled = clean.withColumn(
        "AVG_R", F.avg(F.col("O").cast("double")).over(w_roll).cast("decimal(9,2)")
    )
    return (
        rolled.groupBy("VID", "T")
        .agg(F.max("O").alias("O"), F.max("AVG_R").alias("AVG_R"))  # A10
        .select("VID", "T", "O", "AVG_R")
    )


@contextlib.contextmanager
def gold_scope(
    optm: DataFrame,
    opt: DataFrame,
    underlying: DataFrame,
    min_time: dt.datetime,
    width: int,
    opt_range: int = 100,
):
    """``SP_PROCESS_VERTS`` for one day: yields the day's (VERT, VERT_TS)
    rows — every spread definition and every priced (VID, T) row the day
    produces, not yet anti-joined against existing tables. The caller
    (the streaming pipeline and the backfill, through
    ``apply_medallion_batch``) hands each straight to
    ``ParquetTable.insert_new``, whose anti-join is then the only one.

    The diamond intermediates (dense legs; leg pairs — each consumed by
    both writes) are persisted for the duration of the block and
    UNPERSISTED on exit. Run every consuming action (writes/collects)
    inside the block. On a long-running driver (the streaming Gold
    maintenance loop calls this once per touched day per micro-batch)
    un-released caches would accumulate storage memory without bound —
    this scope is the discipline that prevents it.
    """
    lo, hi = strike_range(underlying, min_time)
    dense = densify_legs(optm, opt, min_time, lo - opt_range, hi + opt_range).persist()
    pairs = pair_legs(dense, width).persist()
    try:
        vert = build_verts(pairs, width)
        yield vert, build_vert_ts(pairs, vert, width)
    finally:
        pairs.unpersist()
        dense.unpersist()

"""Silver: raw quote ticks → OPT contract master + OPTM mark time series.

Re-expresses ``SPX.SP_IMPORT_PARQUET_OPT_DATA`` (docs/sql_server.md:233-334):

  1. parse option symbols (CROSS APPLY ParseSPXSymbol_ITVF → native exprs, F2)
     and epoch-ms → Pacific wall-clock (EpochMsToPST_ITVF → F4);
  2. drop the underlying and malformed rows
     (``symbol <> '$SPX'``, null guards — docs/sql_server.md:251,272-274,293-295);
  3. insert-new contracts into OPT keyed by (Strike, CP, Expiry) with a
     deterministic surrogate OPT_ID (docs/sql_server.md:261-274; SURVEY §4.2);
  4. collapse duplicate ticks with MAX(mark) per (OPT_ID, T) inside the
     06:30-13:00 session window (docs/sql_server.md:297-309);
  5. insert-only MERGE into OPTM on (OPT_ID, T) (docs/sql_server.md:317-329).

Scale notes: OPT is tiny relative to ticks (10³-10⁴ contracts vs 10⁹ ticks) —
the OPT_ID resolution join broadcasts. The MAX-per-(OPT_ID,T) aggregation gets
a map-side partial aggregate for free; ticks should arrive partitioned by date
so the session filter prunes files before the scan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from schwab_elt_etl_pipeline_spark.functions.symbols import parse_option_symbol
from schwab_elt_etl_pipeline_spark.functions.timeutils import (
    epoch_ms_to_tz_naive,
    time_of_day_between,
)
from schwab_elt_etl_pipeline_spark.operators.merge import insert_new, merge_upsert, surrogate_key

MARKET_OPEN = "06:30:00"
MARKET_CLOSE = "13:00:00"


def parse_quotes(quotes: DataFrame) -> DataFrame:
    """Steps 1-2: parsed, filtered option marks with Pacific wall-clock T.

    Output: (Strike int, CP short, Expiry date, T timestamp_ntz, Mark double).
    """
    parsed = (
        quotes.filter(F.col("symbol") != "$SPX")  # P3, docs/sql_server.md:251
        .filter(F.col("37").isNotNull() & F.col("38").isNotNull())  # P4 :294-295
        .withColumn("opt", parse_option_symbol("symbol"))
        .select(
            F.col("opt.Strike").alias("Strike"),
            F.col("opt.CP").alias("CP"),
            F.col("opt.Expiry").alias("Expiry"),
            epoch_ms_to_tz_naive(F.col("38")).alias("T"),
            F.col("37").alias("Mark"),
        )
        # zero/null guards, docs/sql_server.md:272-274
        .filter(
            (F.col("Strike") != 0)
            & F.col("Strike").isNotNull()
            & F.col("CP").isNotNull()
            & F.col("Expiry").isNotNull()
        )
    )
    return parsed


def parse_underlying(quotes: DataFrame) -> DataFrame:
    """Underlying ($SPX) marks with wall-clock T — the strike-range input
    (docs/sql_server.md:429-434). Output: (T timestamp_ntz, Mark double)."""
    return (
        quotes.filter(F.col("symbol") == "$SPX")
        .filter(F.col("3").isNotNull() & F.col("35").isNotNull())
        .select(
            epoch_ms_to_tz_naive(F.col("35")).alias("T"),
            F.col("3").alias("Mark"),
        )
    )


def build_opt(parsed: DataFrame, opt: DataFrame | None = None) -> DataFrame:
    """Step 3: contract master upsert — the batch's distinct contracts.

    OPT_ID is ``xxhash64(Strike, CP, Expiry)`` (stable across runs; SURVEY
    §4.2). With ``opt`` (the existing master as a DataFrame) only the
    contracts it lacks are returned. A warehouse writer passes no ``opt``:
    ``ParquetTable.insert_new`` keyed on (Strike, CP, Expiry) does the
    anti-join itself.
    """
    contracts = (
        parsed.select("Strike", "CP", "Expiry")
        .distinct()  # A2, docs/sql_server.md:244-253
        .withColumn("OPT_ID", surrogate_key("Strike", "CP", "Expiry"))
        .select("OPT_ID", "Strike", "CP", "Expiry")
    )
    if opt is None:
        return contracts
    return insert_new(contracts, opt, keys=["Strike", "CP", "Expiry"])


def build_optm_increment(
    parsed: DataFrame,
    opt: DataFrame,
    session_start: str = MARKET_OPEN,
    session_end: str = MARKET_CLOSE,
) -> DataFrame:
    """Steps 4-5 source side: deduped marks keyed by OPT_ID within the session.

    Output: (OPT_ID, T, O decimal(9,2)) — unique on (OPT_ID, T).
    """
    in_session = parsed.filter(time_of_day_between("T", session_start, session_end))  # P5 :307
    resolved = in_session.join(
        F.broadcast(opt.select("OPT_ID", "Strike", "CP", "Expiry")),
        on=["Strike", "CP", "Expiry"],
        how="inner",  # J4, docs/sql_server.md:297-309
    )
    return (
        resolved.groupBy("OPT_ID", "T")
        .agg(F.max("Mark").alias("Mark"))  # A7 MAX on tick collision
        .select("OPT_ID", "T", F.col("Mark").cast("decimal(9,2)").alias("O"))
    )


def run_silver(
    quotes: DataFrame,
    opt: DataFrame | None = None,
    optm: DataFrame | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Full Silver pass: returns the updated (OPT, OPTM) tables; OPTM is
    an insert-only MERGE on (OPT_ID, T) (J7, docs/sql_server.md:317-329)."""
    parsed = parse_quotes(quotes)
    new_opt = build_opt(parsed, opt)
    opt_all = new_opt if opt is None else opt.unionByName(new_opt)
    increment = build_optm_increment(parsed, opt_all)
    if optm is None:
        return opt_all, increment
    merged = merge_upsert(increment, optm, keys=["OPT_ID", "T"], insert_only=True)
    return opt_all, merged

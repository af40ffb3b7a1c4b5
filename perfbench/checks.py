"""Output checks. They run outside every timed region.

A check returns a list of failure messages; an empty list is a pass.
"""

from __future__ import annotations

import hashlib
import json
import os
from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

RECORDED = os.path.join(os.path.dirname(os.path.abspath(__file__)), "fingerprints.json")


def table_stats(tables: dict) -> dict[str, dict]:
    """Per table, in one Spark job: its fingerprint (row count plus the sum
    of every row's ``xxhash64`` over all columns, an order-insensitive hash)
    and the figures :func:`silver` and :func:`gold` check."""
    none = {"cents": "long", "keys": "long", "lo": "decimal(9,2)", "hi": "decimal(9,2)"}

    def stats(name: str, df: DataFrame) -> DataFrame:
        extra = {k: F.lit(None).cast(t) for k, t in none.items()}
        if name == "optm":
            extra["cents"] = F.sum(F.col("O") * 100).cast("long")
        if name == "vert_ts":
            extra.update(keys=F.count_distinct("VID", "T"), lo=F.min("O"), hi=F.max("O"))
        return df.agg(
            F.lit(name).alias("table"),
            F.count(F.lit(1)).alias("rows"),
            F.coalesce(F.sum(F.xxhash64(*df.columns).cast("decimal(38,0)")), F.lit(0))
            .cast("string")
            .alias("hash"),
            *[v.alias(k) for k, v in extra.items()],
        )

    frames = [stats(name, table.read()) for name, table in tables.items()]
    return {r["table"]: r.asDict() for r in reduce(DataFrame.unionByName, frames).collect()}


def fingerprints(stats: dict) -> dict:
    return {name: {"rows": s["rows"], "hash": s["hash"]} for name, s in stats.items()}


def recorded(workload: str, seed: int) -> dict | None:
    """The fingerprints recorded for ``seed``, or None for an unrecorded
    seed."""
    try:
        with open(RECORDED) as fh:
            return json.load(fh).get(workload, {}).get(str(seed))
    except FileNotFoundError:
        return None


def silver(stats: dict, counts) -> list[str]:
    """Silver rows equal what the generator produced."""
    got = {
        "opt": stats["opt"]["rows"],
        "underlying": stats["underlying"]["rows"],
        "optm (rows, mark cents)": (stats["optm"]["rows"], stats["optm"]["cents"]),
    }
    want = {
        "opt": counts.contracts,
        "underlying": counts.underlying_marks,
        "optm (rows, mark cents)": (counts.optm_keys, counts.optm_mark_cents),
    }
    return [f"{k} = {got[k]}, generator made {want[k]}" for k in got if got[k] != want[k]]


def gold(stats: dict, width: int) -> list[str]:
    """Gold ``(VID, T)`` keys are unique and every price lies in [0, W]."""
    ts = stats["vert_ts"]
    fails = []
    if ts["rows"] == 0:
        fails.append("VERT_TS is empty")
    elif not 0 <= ts["lo"] <= ts["hi"] <= width:
        fails.append(f"VERT_TS O spans [{ts['lo']}, {ts['hi']}], outside [0, {width}]")
    if ts["keys"] != ts["rows"]:
        fails.append(f"VERT_TS has {ts['rows']} rows but {ts['keys']} distinct (VID, T)")
    return fails


def table_state(tables: dict, names: tuple[str, ...]) -> dict:
    """Committed version and data files per table, read from disk."""
    return {
        n: (tables[n].current_version(), sorted(tables[n].data_files())) for n in names
    }


def canonical_hash(cols: list[str], rows: list[tuple]) -> str:
    """Order-insensitive hash of a result in the DuckDB oracle's canonical
    form (columns by name, rows sorted by their stringified values)."""
    from schwab_elt_etl_pipeline_spark.testing.oracle import _canon_rows

    digest = hashlib.sha256()
    for row in _canon_rows(cols, rows):
        digest.update("\x1f".join(row).encode())
        digest.update(b"\x1e")
    return f"{len(rows)}:{digest.hexdigest()[:16]}"

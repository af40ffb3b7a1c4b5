"""Seeded input generators for the benchmark.

Two input families, both pure functions of ``seed``:

* LEVELONE ticks for the medallion workloads: a 1,200-contract SPX option
  universe (200 strikes x C/P x 3 expiries) plus a ``$SPX`` underlying tick
  every 20th row, all inside the 06:30-13:00 Pacific session, over one or
  more trading days. Every count the output checks need (contracts,
  in-session (contract, T) keys, underlying marks) is known by construction
  and returned in :class:`TickCounts`.
* TPC-H-shaped tables plus ``events`` for the catalog workload, with the
  schemas and value domains the catalog queries filter on.

Run directly to write several trading days of one seed as Bronze,
partitioned by ``date``, and print their counts:
``python3 perfbench/gen.py --seed 7 --days 3 --ticks-per-day 20000 --out DIR``.
"""

from __future__ import annotations

import argparse
import datetime as dt
import json
import os
from dataclasses import asdict, dataclass

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

STRIKES = np.arange(5000, 6000, 5)  # 200 strikes
EXPIRIES = ("240621", "240719", "240816")
CONTRACTS = len(STRIKES) * 2 * len(EXPIRIES)  # 1,200
UNDERLYING_EVERY = 20
SPOT_SWING = 12.0
#: one in DUP_EVERY option ticks repeats the previous tick's (contract, T)
#: with another mark, so Silver's MAX-per-key dedup has work to do
DUP_EVERY = 25
#: June is PDT: 06:30 Pacific is 13:30 UTC
SESSION_OPEN_UTC = dt.time(13, 30)
SESSION_MS = 6 * 3600_000 + 30 * 60_000 - 1  # strictly before 13:00:00 PT
FIRST_DAY = dt.date(2024, 6, 17)  # a Monday

TICK_SCHEMA = pa.schema(
    [
        ("received_at", pa.int64()),
        ("symbol", pa.string()),
        ("37", pa.float64()),
        ("38", pa.int64()),
        ("3", pa.float64()),
        ("35", pa.int64()),
    ]
)


@dataclass(frozen=True)
class TickCounts:
    """What the generator produced, known without reading the output back."""

    ticks: int
    days: int
    contracts: int
    optm_keys: int
    #: sum over OPTM keys of the MAX mark, in cents (Silver's ``O`` column)
    optm_mark_cents: int
    underlying_marks: int


def _rng(seed: int) -> np.random.Generator:
    """The generator for ``seed``; any integer works, negative ones too."""
    return np.random.default_rng(seed % 2**64)


def trading_days(n: int) -> list[dt.date]:
    days, d = [], FIRST_DAY
    while len(days) < n:
        if d.weekday() < 5:
            days.append(d)
        d += dt.timedelta(days=1)
    return days


def _symbols() -> np.ndarray:
    out = []
    for exp in EXPIRIES:
        for cp in "CP":
            out.extend(f"SPXW  {exp}{cp}{k * 1000:08d}" for k in STRIKES)
    return np.array(out, dtype=object)


def tick_day(rng: np.random.Generator, day: dt.date, n: int) -> pa.Table:
    """One day's ticks in arrival order.

    Option ticks get strictly increasing quote times, so every (contract, T)
    key is distinct except the planned repeats (one in ``DUP_EVERY``).
    """
    symbols = _symbols()
    strikes = np.tile(STRIKES, 2 * len(EXPIRIES))
    is_call = np.tile(np.repeat([True, False], len(STRIKES)), len(EXPIRIES))
    open_ms = int(
        dt.datetime.combine(day, SESSION_OPEN_UTC, dt.timezone.utc).timestamp() * 1000
    )
    quote_ms = open_ms + np.linspace(0, SESSION_MS, n).astype(np.int64)
    under = np.arange(n) % UNDERLYING_EVERY == 0
    # the day's drift is ~SPOT_SWING points whatever n is, so every seed
    # gets a strike range, and so a Gold workload, of about the same size
    spot = 5500.0 + np.cumsum(rng.normal(0.0, SPOT_SWING / np.sqrt(n), n))
    contract = rng.integers(0, CONTRACTS, n)
    opt_idx = np.flatnonzero(~under)
    dups = opt_idx[1:][np.arange(1, len(opt_idx)) % DUP_EVERY == 0]
    prev = opt_idx[np.searchsorted(opt_idx, dups) - 1]
    contract[dups] = contract[prev]
    quote_ms[dups] = quote_ms[prev]
    k = strikes[contract]
    intrinsic = np.where(is_call[contract], spot - k, k - spot).clip(min=0.0)
    mark = np.round(intrinsic + 2.0 + rng.gamma(2.0, 1.5, n), 2)
    received = quote_ms + rng.integers(5, 50, n)
    return pa.table(
        {
            "received_at": received,
            "symbol": np.where(under, "$SPX", symbols[contract]),
            "37": pa.array(np.where(under, np.nan, mark), mask=under),
            "38": pa.array(quote_ms, mask=under),
            "3": pa.array(np.round(spot, 2), mask=~under),
            "35": pa.array(quote_ms, mask=~under),
        },
        schema=TICK_SCHEMA,
    )


def _counts(batches: list[pa.Table], days: int) -> TickCounts:
    """Counts of what Silver must hold after ingesting ``batches`` in order.

    Silver is insert-only: a key already committed by an earlier batch keeps
    its mark, so a key's mark is the MAX over the ticks of the first batch
    that carries it.
    """
    df = pd.concat(
        [t.to_pandas().assign(batch=i) for i, t in enumerate(batches)], ignore_index=True
    )
    under = df["symbol"] == "$SPX"
    opt = df[~under]
    first = opt.groupby(["symbol", "38"])["batch"].transform("min")
    best = opt[opt["batch"] == first].groupby(["symbol", "38"])["37"].max()
    return TickCounts(
        ticks=len(df),
        days=days,
        contracts=opt["symbol"].nunique(),
        optm_keys=len(best),
        optm_mark_cents=int(np.round(best.to_numpy() * 100).sum()),
        underlying_marks=df.loc[under, "35"].nunique(),
    )


def write_stream_shards(seed: int, ticks: int, shards: int, out: str) -> TickCounts:
    """One trading day as ``shards`` parquet files in arrival order. Each
    file's modification time is set one second after the previous one's, so
    the file source, which orders by modification time, reads them in
    arrival order, one micro-batch per file."""
    day = tick_day(_rng(seed), FIRST_DAY, ticks)
    os.makedirs(out, exist_ok=True)
    bounds = np.linspace(0, ticks, shards + 1).astype(int)
    first_mtime = dt.datetime.combine(FIRST_DAY, SESSION_OPEN_UTC, dt.timezone.utc).timestamp()
    parts = []
    for i in range(shards):
        parts.append(day.slice(bounds[i], bounds[i + 1] - bounds[i]))
        path = os.path.join(out, f"part-{i:05d}.parquet")
        pq.write_table(parts[-1], path)
        os.utime(path, (first_mtime + i, first_mtime + i))
    return _counts(parts, days=1)


def write_bronze(seed: int, days: int, ticks_per_day: int, out: str) -> TickCounts:
    """``days`` trading days as Bronze partitioned by ingest ``date``."""
    rng = _rng(seed)
    tables = []
    for day in trading_days(days):
        t = tick_day(rng, day, ticks_per_day)
        part = os.path.join(out, f"date={day.isoformat()}")
        os.makedirs(part, exist_ok=True)
        pq.write_table(t, os.path.join(part, "part-00000.parquet"))
        tables.append(t)
    return _counts(tables, days=len(tables))


def write_catalog_tables(seed: int, out: str, orders: int = 15_000) -> dict[str, int]:
    """TPC-H-shaped tables plus ``events`` at roughly 1/100 of TPC-H SF1.

    Keys are dense and unique, so top-k tiebreakers are total orders.
    Returns row counts per table.
    """
    rng = _rng(seed)
    n_cust, n_part, n_supp = orders // 10, orders // 7, max(orders // 150, 10)
    tables: dict[str, pa.Table] = {}
    tables["region"] = pa.table(
        {
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        }
    )
    tables["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    segments = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    tables["customer"] = pa.table(
        {
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
            "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
            "c_mktsegment": segments[rng.integers(0, 5, n_cust)],
        }
    )
    tables["supplier"] = pa.table(
        {
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
            "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2),
        }
    )
    adjectives = np.array(["blue", "cold", "hot", "new", "old", "red", "small"])
    nouns = np.array(["anvil", "bolt", "gear", "gizmo", "plate", "ring", "widget"])
    types = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"])
    tables["part"] = pa.table(
        {
            "p_partkey": np.arange(n_part, dtype=np.int64),
            "p_name": np.char.add(
                np.char.add(adjectives[rng.integers(0, 7, n_part)], " "),
                nouns[rng.integers(0, 7, n_part)],
            ),
            "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
            "p_type": types[rng.integers(0, 6, n_part)],
            "p_size": rng.integers(1, 51, n_part).astype(np.int32),
            "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 2),
        }
    )
    epoch = np.datetime64("1995-01-01")
    odate = epoch + rng.integers(0, 2404, orders).astype("timedelta64[D]")
    tables["orders"] = pa.table(
        {
            "o_orderkey": np.arange(orders, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, orders).astype(np.int64),
            "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, orders)],
            "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, orders), 2),
            "o_orderdate": odate.astype("datetime64[us]"),
            "o_orderpriority": np.array(
                ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
            )[rng.integers(0, 5, orders)],
        }
    )
    lines = rng.integers(1, 8, orders)
    n_line = int(lines.sum())
    l_order = np.repeat(np.arange(orders, dtype=np.int64), lines)
    l_number = (np.arange(n_line) - np.repeat(np.cumsum(lines) - lines, lines) + 1)
    qty = rng.integers(1, 51, n_line).astype(np.float64)
    l_part = rng.integers(0, n_part, n_line).astype(np.int64)
    tables["lineitem"] = pa.table(
        {
            "l_orderkey": l_order,
            "l_partkey": l_part,
            "l_suppkey": rng.integers(0, n_supp, n_line).astype(np.int64),
            "l_linenumber": l_number.astype(np.int32),
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * tables["part"]["p_retailprice"].to_numpy()[l_part], 2),
            "l_discount": rng.integers(0, 11, n_line) / 100.0,
            "l_tax": rng.integers(0, 9, n_line) / 100.0,
            "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)],
            "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_line)],
            "l_shipdate": (
                np.repeat(odate, lines) + rng.integers(1, 122, n_line).astype("timedelta64[D]")
            ).astype("datetime64[us]"),
        }
    )
    n_ev = orders * 2 // 3
    ts = np.datetime64("2024-01-01T00:00:00", "us") + np.sort(
        rng.integers(0, 30 * 86400 * 10**6, n_ev)
    ).astype("timedelta64[us]")
    tables["events"] = pa.table(
        {
            "event_id": np.arange(n_ev, dtype=np.int64),
            "ts": ts,
            "user_id": rng.integers(0, 150, n_ev).astype(np.int64),
            "event_type": np.array(["click", "error", "purchase", "signup", "view"])[
                rng.integers(0, 5, n_ev)
            ],
            "value": np.round(rng.uniform(0.01, 490.0, n_ev), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
        }
    )
    os.makedirs(out, exist_ok=True)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out, f"{name}.parquet"))
    return {name: t.num_rows for name, t in tables.items()}


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--days", type=int, default=1)
    ap.add_argument("--ticks-per-day", type=int, default=20_000)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()
    counts = write_bronze(args.seed, args.days, args.ticks_per_day, args.out)
    print(json.dumps(asdict(counts)))


if __name__ == "__main__":
    main()

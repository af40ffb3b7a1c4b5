"""The benchmark's workloads.

Each workload writes its inputs from the seed (:meth:`generate`), warms the
plans it will time (:meth:`warm`, part of set-up), then runs closed-loop
passes (:meth:`run_pass`): one client, the next operation only after the
previous one returned. A pass returns its timings, its op count and the
output-check failures found after it; checks never run inside a timed region.
"""

from __future__ import annotations

import os
import statistics
import time

import checks
import gen
from procstat import Meter
from spans import Tracer

WAREHOUSE_TABLES = ("opt", "optm", "underlying", "vert", "vert_ts")
SILVER_TABLES = ("opt", "optm", "underlying")


class MedallionStream:
    """One trading day of LEVELONE ticks, pre-written as parquet shards,
    drained Bronze -> Silver -> Gold by ``run_streaming_medallion`` at one
    shard per ``availableNow`` micro-batch; then the same day is replayed
    from Bronze by ``backfill_medallion(rebuild_gold=True)``: Silver inserts
    nothing, and the day's Gold is deleted and rebuilt in one large call.
    Each pass writes into a fresh warehouse."""

    name = "medallion_stream"
    TICKS = 16_000
    SHARDS = 2
    WARM_TICKS = 2_000
    WIDTH = 5

    def __init__(self, seed: int):
        self.seed = seed

    def generate(self) -> None:
        self.counts = gen.write_stream_shards(self.seed, self.TICKS, self.SHARDS, "ticks")
        gen.write_stream_shards(self.seed + 1, self.WARM_TICKS, 1, "warm_ticks")

    def _tables(self, spark, root: str) -> dict:
        from schwab_elt_etl_pipeline_spark.sources.warehouse import ParquetTable

        return {n: ParquetTable(spark, f"{root}/{n}") for n in WAREHOUSE_TABLES}

    def _drain(self, spark, source: str, tables: dict, root: str):
        from schwab_elt_etl_pipeline_spark.streaming.pipeline import run_streaming_medallion
        from schwab_elt_etl_pipeline_spark.streaming.quotes import read_quote_stream

        stream = read_quote_stream(spark, source, max_files_per_trigger=1)
        query = run_streaming_medallion(
            stream, *tables.values(), f"{root}/_checkpoint", width=self.WIDTH
        )
        query.awaitTermination()
        if query.exception() is not None:
            raise RuntimeError(f"stream failed: {query.exception()}")
        return [p for p in query.recentProgress if p["numInputRows"] > 0]

    def _replay(self, spark, source: str, tables: dict) -> None:
        from schwab_elt_etl_pipeline_spark.plans.backfill import backfill_medallion
        from schwab_elt_etl_pipeline_spark.schemas import QUOTES_STREAM

        bronze = spark.read.schema(QUOTES_STREAM).parquet(source)
        day = gen.FIRST_DAY
        backfill_medallion(
            bronze, *tables.values(), day, day, width=self.WIDTH, rebuild_gold=True
        )

    def warm(self, spark) -> None:
        self._drain(spark, "warm_ticks", self._tables(spark, "warehouse_warm"), "warehouse_warm")

    def run_pass(self, spark, i: int, tracer: Tracer) -> dict:
        root = f"warehouse{i}"
        tables = self._tables(spark, root)
        with Meter() as drain:
            progress = self._drain(spark, "ticks", tables, root)
        stats = checks.table_stats(tables)
        fails = checks.silver(stats, self.counts) + checks.gold(stats, self.WIDTH)
        silver_before = checks.table_state(tables, SILVER_TABLES)

        with tracer.span("op.replay", op=f"replay-{i}"):
            with Meter() as replay:
                self._replay(spark, "ticks", tables)
        if checks.table_state(tables, SILVER_TABLES) != silver_before:
            fails.append("the replay wrote Silver rows")
        gold = checks.table_stats({n: tables[n] for n in ("vert", "vert_ts")})
        fails += checks.gold(gold, self.WIDTH)

        durations = [p["durationMs"] for p in progress]
        return {
            "ops": len(progress) + 1,
            "net_s": drain.net_s + replay.net_s,
            "drain": drain,
            "replay": replay,
            "batch_s": [d["triggerExecution"] / 1e3 for d in durations],
            "add_batch_s": [d.get("addBatch", 0) / 1e3 for d in durations],
            "fails": fails,
            "fingerprints": {
                "drain": checks.fingerprints(stats),
                "replay": checks.fingerprints(gold),
            },
            "warehouse": {
                n: (len(t.data_files()), sum(os.path.getsize(f) for f in t.data_files()))
                for n, t in tables.items()
            },
        }

    def summary(self, passes: list[dict]) -> dict:
        """End-to-end metrics under the workload's own names and the shared
        ones. Times are net of host CPU steal (see :class:`procstat.Meter`);
        micro-batches take their drain's steal share. ``wall.*`` are raw."""
        med = statistics.median
        share = med(p["drain"].steal_share for p in passes)
        raw_batch = med(b for p in passes for b in p["batch_s"])
        n_batch = sum(len(p["batch_s"]) for p in passes)
        drain = med(p["drain"].net_s for p in passes)
        replay = med(p["replay"].net_s for p in passes)
        ticks, n = self.counts.ticks, len(passes)
        return {
            "stream.ticks_per_s": (ticks / drain, "1/s", n),
            "stream.batch_s.p50": (raw_batch * (1 - share), "s", n_batch),
            "backfill.replay_ticks_per_s": (ticks / replay, "1/s", n),
            "throughput_per_s": (ticks / drain, "1/s", n),
            "latency_s.p50": (raw_batch * (1 - share), "s", n_batch),
            "bulk_s": (replay, "s", n),
            "wall.drain_s": (med(p["drain"].wall_s for p in passes), "s", n),
            "wall.batch_s.p50": (raw_batch, "s", n_batch),
            "wall.replay_s": (med(p["replay"].wall_s for p in passes), "s", n),
            "host.steal_share": (share, "ratio", n),
            "cpu_s": (med(p["drain"].cpu_s + p["replay"].cpu_s for p in passes), "s", n),
        }


#: Headline catalog specs whose inputs are TPC-H tables and ``events``,
#: which the generator writes: an aggregate, a 3-way and a 5-way join with
#: top-k, a band self-join, time bucketing and a rolling window. The headline
#: specs over ``documents`` and ``embeddings``, those that build inline data,
#: and the rest of the TPC-H ones are left out so that warm-up and a few
#: passes fit a run of about half a minute on four cores (all 50 take over a
#: minute per pass).
CATALOG_SPECS = (
    "j5_self_band_join",
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_region_revenue",
    "t_tumbling_candles",
    "w_rolling_zscore",
)


class CatalogRead:
    """Headline catalog specs, sorted by name, each built and run into the
    ``noop`` sink with caches cleared after every query (``bench.py``'s
    loop). Read-only: no warehouse writes."""

    name = "catalog_read"
    TABLES_DIR = "tables"

    def __init__(self, seed: int):
        self.seed = seed

    def generate(self) -> None:
        self.rows = gen.write_catalog_tables(self.seed, self.TABLES_DIR)
        from schwab_elt_etl_pipeline_spark.catalog import all_specs

        by_name = {s.name: s for s in all_specs()}
        self.specs = [by_name[n] for n in CATALOG_SPECS]

    def warm(self, spark) -> None:
        """Run every spec once, collecting its result for :meth:`check`."""
        self.results = {}
        for spec in self.specs:
            df = spec.build(spark, self.TABLES_DIR)
            self.results[spec.name] = checks.canonical_hash(
                df.columns, [tuple(r) for r in df.collect()]
            )
            spark.catalog.clearCache()

    def run_pass(self, spark, i: int, tracer: Tracer) -> dict:
        build, execute, meters = [], [], []
        for spec in self.specs:
            with Meter() as meter, tracer.span("op.query", op=f"{spec.name}-{i}") as op:
                start = time.perf_counter()
                with tracer.span("catalog.build"):
                    df = spec.build(spark, self.TABLES_DIR)
                built = time.perf_counter()
                with tracer.span("catalog.exec"):
                    df.write.format("noop").mode("overwrite").save()
                done = time.perf_counter()
                spark.catalog.clearCache()
            meters.append(meter)
            build.append(built - start)
            execute.append(done - built)
            if op is not None:
                with tracer.paused():
                    plan = df._jdf.queryExecution().executedPlan().toString().splitlines()
                op["plan_nodes"] = len(plan)
                op["exchanges"] = sum("Exchange" in line for line in plan)
        totals = [b + e for b, e in zip(build, execute)]
        return {
            "ops": len(self.specs),
            "net_s": sum(m.net_s for m in meters),
            "query_s": totals,
            "query_cpu_s": [m.cpu_s for m in meters],
            "query_net_s": [m.net_s for m in meters],
            "fails": [],
        }

    def check(self, spark) -> list[str]:
        """Every spec's result, collected during warm-up, equals its DuckDB
        oracle's, compared in the oracle's canonical form."""
        import duckdb

        con = duckdb.connect()
        for table in self.rows:
            path = os.path.abspath(f"{self.TABLES_DIR}/{table}.parquet")
            con.execute(f"CREATE VIEW {table} AS SELECT * FROM read_parquet('{path}')")
        fails = []
        for spec in self.specs:
            cur = con.execute(spec.oracle)
            want = checks.canonical_hash([d[0] for d in cur.description], cur.fetchall())
            if self.results[spec.name] != want:
                fails.append(f"{spec.name}: spark {self.results[spec.name]} != oracle {want}")
        con.close()
        return fails

    def summary(self, passes: list[dict]) -> dict:
        """Per query, its best pass (``bench.py``'s rule: host noise then
        taxes a pass, not the result); the metrics are over those bests.
        Times are net of host CPU steal (see :class:`procstat.Meter`);
        ``wall.*`` are raw."""
        def best(key: str) -> list[float]:
            return sorted(map(min, zip(*(p[key] for p in passes))))

        net, wall = best("query_net_s"), best("query_s")
        n = len(net)
        return {
            "catalog.total_s": (sum(net), "s", n),
            "catalog.query_s.p50": (statistics.median(net), "s", n),
            "catalog.query_s.p90": (statistics.quantiles(net, n=10)[-1], "s", n),
            "throughput_per_s": (n / sum(net), "1/s", n),
            "latency_s.p50": (statistics.median(net), "s", n),
            "bulk_s": (sum(net), "s", n),
            "wall.total_s": (sum(wall), "s", n),
            "wall.query_s.p50": (statistics.median(wall), "s", n),
            "cpu_s": (sum(best("query_cpu_s")), "s", n),
        }


WORKLOADS = {w.name: w for w in (MedallionStream, CatalogRead)}

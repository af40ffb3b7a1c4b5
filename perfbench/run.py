"""The repository's benchmark: one seeded workload per run, end-to-end
metrics by default, per-layer metrics with ``--trace 1``.

    python3 perfbench/run.py --workload medallion_stream --seed 1 --seconds 20 --trace 0

Run it from the repository root. It works in a scratch directory of its own
under ``.perfbench_work/`` (Spark's warehouse, Derby log, local and temp
dirs all land there) and removes it at exit. Human-readable lines, each
metric with its unit and sample count, go to standard output first; the last
line is one JSON object with ``correct``, ``attempted``, ``failed`` and
``metrics``. The exit code is 0 only when every output check passed.

See ``perfbench/README.md`` for the workloads, metrics and layer map.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shlex
import shutil
import statistics
import sys
import time
from collections import defaultdict

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "schwab_elt_etl_pipeline_spark"
STARTED = time.perf_counter()


def cores() -> int:
    return len(os.sched_getaffinity(0))


def prepare_process(work: str) -> None:
    """Point every file Spark writes into ``work`` and size the session to
    the host, before the JVM starts."""
    for sub in ("tmp", "local"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.chdir(work)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["SPARK_GRAFT_CPUS"] = str(cores())
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "2g")
    java_tmp = "-Djava.io.tmpdir=" + os.path.join(work, "tmp")
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        [
            "--conf spark.ui.showConsoleProgress=false",
            "--conf " + shlex.quote("spark.driver.extraJavaOptions=" + java_tmp),
            "pyspark-shell",
        ]
    )


def load_sentinel(spark) -> float:
    """``bench.py``'s host-load probe, scaled down: best of three sums over
    10M longs. Run metadata, not a metric."""
    best = float("inf")
    for _ in range(3):
        start = time.perf_counter()
        spark.range(0, 10_000_000, 1, 8).selectExpr("sum(cast(id as double) * id)").collect()
        best = min(best, time.perf_counter() - start)
    return best


def stop_spark(spark) -> None:
    """Stop the session, then close the JVM's stdin (the gateway exits on
    EOF) and wait for it to end."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait()


def layer_metrics(tracer, wl, traced: list[dict], untraced: list[dict], n_cores: int) -> dict:
    """Per-layer metrics from the traced passes, per op unless named
    otherwise, each as (value, unit, samples)."""
    from spans import layer_of

    spans = tracer.spans
    ops = [s for s in spans if s["name"].startswith("op.")]
    n_ops = max(len(ops), 1)
    by_name = defaultdict(list)
    for s in spans:
        by_name[s["name"]].append(s)

    def dur(name):
        return [s["end"] - s["start"] for s in by_name[name]]

    def per_op(values):
        return sum(values) / n_ops

    starts = dur("session.get_spark")
    out = {
        "session.start_s": (sum(starts), "s", len(starts)),
        "trace.ops": (len(ops), "count", len(ops)),
        "driver.py4j_calls": (per_op(s["py4j"] for s in ops), "count", len(ops)),
        "driver.actions": (per_op(s["actions"] for s in ops), "count", len(ops)),
    }
    queries = by_name["op.query"]
    out["catalog.build_s"] = (per_op(dur("catalog.build")), "s", len(queries))
    out["catalog.exec_s"] = (per_op(dur("catalog.exec")), "s", len(queries))
    out["catalog.plan_nodes"] = (per_op(s.get("plan_nodes", 0) for s in queries), "count", len(queries))
    out["catalog.exchanges"] = (per_op(s.get("exchanges", 0) for s in queries), "count", len(queries))

    batches = [b for p in traced for b in p.get("batch_s", [])]
    adds = [a for p in traced for a in p.get("add_batch_s", [])]
    med = statistics.median
    out["streaming.batches"] = (len(batches) / len(traced), "count", len(traced))
    out["streaming.add_batch_s"] = (med(adds) if adds else 0.0, "s", len(adds))
    overhead = [b - a for b, a in zip(batches, adds)]
    out["streaming.trigger_overhead_s"] = (med(overhead) if overhead else 0.0, "s", len(overhead))

    silver = [s["end"] - s["start"] for s in spans if s["name"].startswith("plans.silver.")]
    out["plans.silver.build_s"] = (per_op(silver), "s", len(silver))
    out["plans.gold.strike_range_s"] = (per_op(dur("plans.gold.strike_range")), "s", len(dur("plans.gold.strike_range")))
    scopes = dur("plans.gold.scope")
    out["plans.gold.scope_s"] = (per_op(scopes), "s", len(scopes))
    out["plans.gold.days_rebuilt"] = (len(scopes) / n_ops, "count", len(ops))
    applies = dur("streaming.pipeline.apply")
    out["pipeline.apply_s"] = (sum(applies) / len(applies) if applies else 0.0, "s", len(applies))
    replays = dur("plans.backfill.backfill_medallion")
    out["plans.backfill.call_s"] = (sum(replays) / len(replays) if replays else 0.0, "s", len(replays))

    from workloads import WAREHOUSE_TABLES

    last = traced[-1].get("warehouse", {})
    ticks = getattr(getattr(wl, "counts", None), "ticks", 0)
    for t in WAREHOUSE_TABLES:
        ins = [s for s in by_name["warehouse.insert_new"] if s.get("table") == t]
        ovw = [s for s in by_name["warehouse.overwrite_versioned"] if s.get("table") == t]
        out[f"warehouse.insert_new_s.{t}"] = (per_op(s["end"] - s["start"] for s in ins), "s", len(ins))
        out[f"warehouse.rows_inserted.{t}"] = (per_op(s.get("rows") or 0 for s in ins), "count", len(ins))
        out[f"warehouse.overwrite_s.{t}"] = (per_op(s["end"] - s["start"] for s in ovw), "s", len(ovw))
        out[f"warehouse.files.{t}"] = (last.get(t, (0, 0))[0], "count", 1 if last else 0)
    stored = sum(b for _, b in last.values())
    out["warehouse.bytes_per_tick"] = (stored / ticks if ticks else 0.0, "B", 1 if last else 0)

    totals = defaultdict(float)
    for s in ops:
        for key, value in s.get("spark", {}).items():
            totals[key] += value
    for key in ("jobs", "tasks", "executor_run_s", "executor_cpu_s",
                "shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes"):
        unit = "s" if key.endswith("_s") else ("B" if key.endswith("bytes") else "count")
        out[f"spark.{key}"] = (totals[key] / n_ops, unit, len(ops))
    op_wall = sum(s["end"] - s["start"] for s in ops)
    util = totals["executor_run_s"] / (op_wall * n_cores) if op_wall else 0.0
    out["spark.core_utilisation"] = (util, "ratio", len(ops))

    selfs = tracer.self_times()
    layer_self = defaultdict(float)
    for s in spans:
        layer_self[layer_of(s["name"])] += selfs[s["id"]]
    for layer in ("streaming", "pipeline", "plans.silver", "plans.gold",
                  "plans.backfill", "warehouse", "catalog", "benchmark"):
        out[f"self_s.{layer}"] = (layer_self[layer] / n_ops, "s", len(ops))

    per_op_t = [p["net_s"] / p["ops"] for p in traced]
    per_op_u = [p["net_s"] / p["ops"] for p in untraced]
    out["trace.overhead_s"] = (med(per_op_t) - med(per_op_u), "s", min(len(per_op_t), len(per_op_u)))
    return out


def run(args, work: str) -> tuple[dict, dict, dict]:
    import procstat
    import workloads
    from spans import StageDeltas, Tracer, instrument

    wl = workloads.WORKLOADS[args.workload](args.seed)
    meta = {"workload": args.workload, "seed": args.seed, "nproc": cores(),
            "python": platform.python_version()}
    start = time.perf_counter()
    wl.generate()
    meta["generate_s"] = time.perf_counter() - start

    tracer = Tracer(enabled=False)
    if args.trace:
        instrument(tracer)
    from schwab_elt_etl_pipeline_spark import session

    spark = None
    try:
        with procstat.Meter() as setup:
            tracer.enabled = bool(args.trace)  # a span for session start only
            spark = session.get_spark(app_name=f"perfbench-{args.workload}")
            tracer.enabled = False
            wl.warm(spark)
        meta["spark_version"] = spark.version
        meta["sentinel_before_s"] = load_sentinel(spark)

        stages = StageDeltas(spark, tracer) if args.trace else None
        if stages is not None:
            def attach(rec):
                rec["spark"] = stages.delta()
            tracer.on_op_end = attach

        # Closed loop until --seconds have passed; a traced run alternates
        # untraced and traced passes so their difference is the overhead.
        passes, deadline, i = [], time.perf_counter() + args.seconds, 0
        while True:
            traced = bool(args.trace) and i % 2 == 1
            tracer.enabled = traced
            if stages is not None and traced:
                stages.delta()
            result = wl.run_pass(spark, i, tracer)
            result["traced"] = traced
            passes.append(result)
            i += 1
            if time.perf_counter() >= deadline and (not args.trace or i >= 2):
                break
        tracer.enabled = False
        run_fails = wl.check(spark) if hasattr(wl, "check") else []
        run_fails += consistent_fingerprints(passes, args.workload, args.seed)
        meta["sentinel_after_s"] = load_sentinel(spark)
        meta["peak_rss_mb_by_pid"] = procstat.peak_rss_mb()
    finally:
        if spark is not None:
            stop_spark(spark)

    timed = [p for p in passes if not p["traced"]]
    named = wl.summary(timed)
    attempted = sum(p["ops"] for p in passes)
    failed = min(attempted, sum(p["ops"] for p in passes if p["fails"]) + len(run_fails))
    fails = [f for p in passes for f in p["fails"]] + run_fails
    named["setup_s"] = (setup.net_s, "s", 1)
    named["wall.setup_s"] = (setup.wall_s, "s", 1)
    named["peak_rss_mb"] = (sum(meta["peak_rss_mb_by_pid"].values()), "MB", 1)
    named["error_rate"] = (failed / attempted, "ratio", attempted)
    meta["fails"] = fails
    meta["fingerprints"] = passes[0].get("fingerprints")
    if args.trace:
        tracer.write(os.path.join(ROOT, ".perfbench_work", f"spans-{args.workload}-{args.seed}.jsonl"))
        layers = layer_metrics(tracer, wl, [p for p in passes if p["traced"]], timed, cores())
    else:
        layers = {}
    return {"attempted": attempted, "failed": failed, "correct": not fails}, named, {**meta, "layers": layers}


def consistent_fingerprints(passes: list[dict], workload: str, seed: int) -> list[str]:
    """Every pass of a run saw the same inputs, so every pass must leave the
    same tables; the first must match the fingerprints recorded for the
    seed, where there are any."""
    import checks

    prints = [p["fingerprints"] for p in passes if "fingerprints" in p]
    if not prints:
        return []
    fails = [f"pass {i} fingerprints differ from pass 0" for i, fp in enumerate(prints) if fp != prints[0]]
    want = checks.recorded(workload, seed)
    if want is not None and want != prints[0]:
        fails.append(f"fingerprints differ from those recorded for seed {seed}")
    return fails


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=("medallion_stream", "catalog_read"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: no {PACKAGE}/ next to perfbench/; run from a full checkout",
              file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, HERE]
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    prepare_process(work)
    try:
        outcome, named, meta = run(args, work)
    finally:
        os.chdir(ROOT)
        shutil.rmtree(work, ignore_errors=True)

    layers = meta.pop("layers")
    for name, (value, unit, n) in sorted({**named, **layers}.items()):
        print(f"{name} = {value:.6g} {unit} (n={n})")
    meta["process_s"] = time.perf_counter() - STARTED
    print("# meta " + json.dumps(meta, default=str))
    for fail in meta["fails"]:
        print(f"# CHECK FAILED: {fail}")
    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
    source = layers if args.trace else named
    metrics = {m["name"]: {"value": source[m["name"]][0], "unit": m["unit"]} for m in wanted}
    print(json.dumps({**outcome, "metrics": metrics}), flush=True)
    return 0 if outcome["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())

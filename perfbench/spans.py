"""Span tracer and counters for the traced benchmark run.

Everything here wraps the engine from the outside: public functions are
replaced, for the length of a traced run, by wrappers that record a span
(name, start, end, parent span, op id) and the counters below. Nothing in the
engine package is edited, and an untraced run installs nothing.

Counters, attributed to the thread that caused them (foreachBatch callbacks
run on a py4j callback thread, not the main thread):

* ``py4j`` — every ``send_command`` round-trip from Python to the JVM;
* ``actions`` — outermost DataFrame actions and writer saves.

Executor-side work is read per op from the JVM status store
(:class:`StageDeltas`), with both counters paused so the reading is not
charged to the engine.
"""

from __future__ import annotations

import contextlib
import functools
import itertools
import json
import sys
import threading
import time
from collections import defaultdict
from collections.abc import Callable, Iterator

#: engine layer of each span name prefix, longest prefix first
LAYERS = (
    ("session", "session"),
    ("streaming.pipeline", "pipeline"),
    ("streaming", "streaming"),
    ("plans.silver", "plans.silver"),
    ("plans.gold", "plans.gold"),
    ("plans.backfill", "plans.backfill"),
    ("warehouse", "warehouse"),
    ("catalog", "catalog"),
    ("op", "benchmark"),
)

_DF_ACTIONS = (
    "collect", "count", "first", "take", "head", "isEmpty", "toPandas",
    "toLocalIterator", "localCheckpoint", "checkpoint", "foreach",
    "foreachPartition",
)
_WRITER_ACTIONS = ("save", "parquet", "saveAsTable", "insertInto")


def layer_of(name: str) -> str:
    for prefix, layer in LAYERS:
        if name == prefix or name.startswith(prefix + "."):
            return layer
    return "other"


class Tracer:
    """In-memory span recorder. Disabled, every method is a cheap no-op."""

    def __init__(self, enabled: bool = False):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        #: called with each finished op span (one started with ``op=``)
        self.on_op_end: Callable[[dict], None] | None = None

    # -- per-thread state ---------------------------------------------------
    def _state(self):
        st = self._local
        if not hasattr(st, "stack"):
            st.stack, st.py4j, st.actions, st.paused, st.in_action = [], 0, 0, 0, 0
        return st

    def count_py4j(self) -> None:
        st = self._state()
        if not st.paused:
            st.py4j += 1

    @contextlib.contextmanager
    def paused(self) -> Iterator[None]:
        """Stop counting on this thread (for the tracer's own JVM reads)."""
        st = self._state()
        st.paused += 1
        try:
            yield
        finally:
            st.paused -= 1

    # -- spans --------------------------------------------------------------
    @contextlib.contextmanager
    def span(self, name: str, op: str | None = None, **attrs) -> Iterator[dict | None]:
        """Record ``name`` around the block. ``op`` starts a new op id; child
        spans inherit their parent's."""
        if not self.enabled:
            yield None
            return
        st = self._state()
        parent = st.stack[-1] if st.stack else None
        rec = {
            "id": next(self._ids),
            "name": name,
            "parent": parent["id"] if parent else None,
            "op": op if op is not None else (parent["op"] if parent else None),
            "thread": threading.get_ident(),
            **attrs,
        }
        st.stack.append(rec)
        py4j0, actions0 = st.py4j, st.actions
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            rec["py4j"] = st.py4j - py4j0
            rec["actions"] = st.actions - actions0
            st.stack.pop()
            if op is not None and self.on_op_end is not None:
                self.on_op_end(rec)
            self.spans.append(rec)

    # -- installing wrappers (for the rest of the process) ----------------
    def _replace_everywhere(self, orig: object, new: object, package: str) -> None:
        """Swap ``orig`` for ``new`` in every loaded module of ``package``
        that bound it by name (``from x import f`` copies the binding)."""
        for mod in list(sys.modules.values()):
            if mod is None or not getattr(mod, "__name__", "").startswith(package):
                continue
            for attr, value in list(vars(mod).items()):
                if value is orig:
                    setattr(mod, attr, new)

    def wrap_function(self, module, attr: str, name: str, package: str) -> None:
        orig = getattr(module, attr)

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            with self.span(name):
                return orig(*args, **kwargs)

        self._replace_everywhere(orig, wrapper, package)

    def wrap_context(self, module, attr: str, name: str, package: str) -> None:
        """Like :meth:`wrap_function` for a function returning a context
        manager: the span covers the whole ``with`` block."""
        orig = getattr(module, attr)

        @functools.wraps(orig)
        @contextlib.contextmanager
        def wrapper(*args, **kwargs):
            with self.span(name), orig(*args, **kwargs) as value:
                yield value

        self._replace_everywhere(orig, wrapper, package)

    def wrap_method(self, cls, attr: str, name: str, table_of: Callable, rows: bool = False) -> None:
        """Wrap a method; ``table_of(self)`` labels the span's table and a
        ``rows`` method records its integer return value."""
        orig = getattr(cls, attr)

        @functools.wraps(orig)
        def wrapper(obj, *args, **kwargs):
            with self.span(name, table=table_of(obj)) as rec:
                out = orig(obj, *args, **kwargs)
                if rows and rec is not None:
                    rec["rows"] = out
                return out

        setattr(cls, attr, wrapper)

    def count_actions(self) -> None:
        """Count outermost DataFrame actions and py4j round-trips."""
        from py4j import clientserver, java_gateway
        from pyspark.sql import DataFrame, DataFrameWriter

        for conn in (clientserver.ClientServerConnection, java_gateway.GatewayConnection):
            orig_send = conn.send_command

            def send_command(obj, *args, _orig=orig_send, **kwargs):
                self.count_py4j()
                return _orig(obj, *args, **kwargs)

            conn.send_command = send_command
        for cls, names in ((DataFrame, _DF_ACTIONS), (DataFrameWriter, _WRITER_ACTIONS)):
            for attr in names:
                orig = getattr(cls, attr)

                @functools.wraps(orig)
                def action(obj, *args, _orig=orig, **kwargs):
                    st = self._state()
                    if not st.in_action and not st.paused:
                        st.actions += 1
                    st.in_action += 1
                    try:
                        return _orig(obj, *args, **kwargs)
                    finally:
                        st.in_action -= 1

                setattr(cls, attr, action)

    # -- output -------------------------------------------------------------
    def self_times(self) -> dict[int, float]:
        """Span id -> duration minus the time its child spans cover. Children
        run on their parent's thread, one after another, so they never
        overlap and their durations add."""
        child = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        return {s["id"]: s["end"] - s["start"] - child[s["id"]] for s in self.spans}

    def write(self, path: str) -> None:
        selfs = self.self_times()
        with open(path, "w") as fh:
            for s in sorted(self.spans, key=lambda s: s["start"]):
                fh.write(json.dumps({**s, "self": selfs[s["id"]]}, default=str) + "\n")


def instrument(tracer: Tracer) -> None:
    """Wrap the engine's public functions, layer by layer."""
    from schwab_elt_etl_pipeline_spark import session
    from schwab_elt_etl_pipeline_spark.plans import backfill, gold, silver
    from schwab_elt_etl_pipeline_spark.sources import warehouse
    from schwab_elt_etl_pipeline_spark.streaming import pipeline, quotes, runner

    pkg = "schwab_elt_etl_pipeline_spark"
    tracer.count_actions()
    tracer.wrap_function(session, "get_spark", "session.get_spark", pkg)
    tracer.wrap_function(quotes, "read_quote_stream", "streaming.quotes.read_quote_stream", pkg)
    tracer.wrap_function(pipeline, "run_streaming_medallion", "streaming.pipeline.run_streaming_medallion", pkg)
    tracer.wrap_function(pipeline, "apply_medallion_batch", "streaming.pipeline.apply", pkg)
    for attr in ("parse_quotes", "parse_underlying", "build_opt", "build_optm_increment"):
        tracer.wrap_function(silver, attr, f"plans.silver.{attr}", pkg)
    for attr in ("strike_range", "densify_legs", "pair_legs", "build_verts", "build_vert_ts"):
        tracer.wrap_function(gold, attr, f"plans.gold.{attr}", pkg)
    tracer.wrap_context(gold, "gold_scope", "plans.gold.scope", pkg)
    tracer.wrap_function(backfill, "backfill_medallion", "plans.backfill.backfill_medallion", pkg)

    orig_start = runner.start_foreach_batch

    def start_foreach_batch(stream, process_batch, *args, **kwargs):
        def traced_batch(batch, batch_id):
            with tracer.span("op.stream_batch", op=f"batch-{batch_id}"):
                with tracer.span("streaming.runner.process_batch"):
                    process_batch(batch, batch_id)

        with tracer.span("streaming.runner.start_foreach_batch"):
            return orig_start(stream, traced_batch, *args, **kwargs)

    tracer._replace_everywhere(orig_start, start_foreach_batch, pkg)

    def table_of(tbl) -> str:
        return tbl.path.rsplit("/", 1)[-1]

    cls = warehouse.ParquetTable
    tracer.wrap_method(cls, "insert_new", "warehouse.insert_new", table_of, rows=True)
    tracer.wrap_method(cls, "overwrite_versioned", "warehouse.overwrite_versioned", table_of)
    tracer.wrap_method(cls, "append", "warehouse.append", table_of)
    tracer.wrap_method(cls, "read", "warehouse.read", table_of)


class StageDeltas:
    """Executor-side totals of the jobs and stages that finished since the
    previous call, read from the JVM's application status store. It works
    with the UI disabled. Stages are read newest first and the walk stops
    at the newest id already seen, so a call costs py4j round-trips in
    proportion to the new stages only; the store keeps
    ``spark.ui.retainedStages`` (default 1000) stages, far more than one op
    runs."""

    FIELDS = {
        "tasks": "numCompleteTasks",
        "executor_run_s": "executorRunTime",  # ms
        "executor_cpu_s": "executorCpuTime",  # ns
        "shuffle_write_bytes": "shuffleWriteBytes",
        "shuffle_read_bytes": "shuffleReadBytes",
        "spill_bytes": ("memoryBytesSpilled", "diskBytesSpilled"),
    }

    def __init__(self, spark, tracer: Tracer):
        self._tracer = tracer
        self._store = spark.sparkContext._jsc.sc().statusStore()
        self._jvm = spark.sparkContext._jvm
        self._gateway = spark.sparkContext._gateway
        self._last_stage = self._last_job = -1
        self.delta()  # everything before now belongs to no op

    def delta(self) -> dict[str, float]:
        out = dict.fromkeys(("jobs", *self.FIELDS), 0.0)
        empty = self._jvm.java.util.ArrayList()
        with self._tracer.paused():
            jobs = self._store.jobsList(empty).iterator()
            newest = self._last_job
            while jobs.hasNext():
                job_id = jobs.next().jobId()
                if job_id <= self._last_job:
                    break
                newest = max(newest, job_id)
                out["jobs"] += 1
            self._last_job = newest
            no_quantiles = self._gateway.new_array(self._jvm.double, 0)
            stages = self._store.stageList(empty, False, False, no_quantiles, empty).iterator()
            newest = self._last_stage
            while stages.hasNext():
                stage = stages.next()
                stage_id = stage.stageId()
                if stage_id <= self._last_stage:
                    break
                newest = max(newest, stage_id)
                for key, getter in self.FIELDS.items():
                    getters = getter if isinstance(getter, tuple) else (getter,)
                    out[key] += sum(getattr(stage, g)() for g in getters)
            self._last_stage = newest
        out["executor_run_s"] /= 1e3
        out["executor_cpu_s"] /= 1e9
        return out

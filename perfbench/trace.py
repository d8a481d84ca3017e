"""Tracing from outside the engine.

``Tracer.install`` wraps, from the benchmark's side only, the public
functions of the engine's layers (``functions.*``, ``operators.*``,
``sources.*``) and py4j's ``JavaClient.send_command``. While the tracer is
active each wrapped call records a span (name, layer, start, end, parent,
query-run id); py4j calls are counted and timed on the span that issued
them instead of becoming spans of their own, since a pass makes tens of
thousands of them. Spans stay in memory until ``dump``.

``SparkStats`` reads what Spark itself recorded for a query run: per-stage
task metrics from the application status store and per-operator SQL
metrics from the SQL status store, for the jobs, stages and SQL executions
the run created.
"""

from __future__ import annotations

import contextlib
import functools
import inspect
import json
import re
import threading
import time
from collections import defaultdict

FUNCTION_MODULES = (
    "box", "polygon", "projection", "set_", "span", "temporal", "tgeometry",
    "tpoint",
)
OPERATOR_MODULES = (
    "basket", "bloomjoin", "bpe", "components", "dedup", "entities", "events",
    "governance", "graph", "multimodal", "pipeline", "range_join",
    "retrieval", "similarity", "skewjoin", "skyline", "text", "tpoint_pairs",
)
# operator modules reported one by one; the rest count in operators.s only
REPORTED_OPERATORS = (
    "dedup", "similarity", "text", "retrieval", "pipeline", "graph", "entities",
)


class Span:
    __slots__ = ("name", "layer", "start", "end", "parent", "run",
                 "child_s", "py4j_calls", "py4j_s")

    def __init__(self, name, layer, start, parent, run):
        self.name, self.layer, self.start = name, layer, start
        self.parent, self.run = parent, run
        self.end = None
        self.child_s = self.py4j_calls = self.py4j_s = 0

    def self_s(self) -> float:
        return self.end - self.start - self.child_s


class Tracer:
    def __init__(self):
        self.spans: list[Span] = []
        self.run = None
        self.active = False
        self._stack: list[Span] = []
        self._thread = threading.get_ident()
        self._undo: list[tuple] = []
        self.py4j_calls = 0
        self.py4j_s = 0.0

    # -- spans ---------------------------------------------------------
    def open(self, name: str, layer: str) -> Span | None:
        if not self.active or threading.get_ident() != self._thread:
            return None
        parent = self._stack[-1] if self._stack else None
        sp = Span(name, layer, time.perf_counter(),
                  None if parent is None else id(parent), self.run)
        self._stack.append(sp)
        self.spans.append(sp)
        return sp

    def close(self, sp: Span | None) -> None:
        if sp is None:
            return
        sp.end = time.perf_counter()
        self._stack.pop()
        if self._stack:
            self._stack[-1].child_s += sp.end - sp.start

    @contextlib.contextmanager
    def span(self, name: str, layer: str):
        sp = self.open(name, layer)
        try:
            yield sp
        finally:
            self.close(sp)

    # -- wrappers ------------------------------------------------------
    def _wrap(self, fn, name: str, layer: str):
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            sp = tracer.open(name, layer)
            try:
                return fn(*args, **kwargs)
            finally:
                tracer.close(sp)

        return traced

    def _patch_module(self, mod, layer: str) -> None:
        for name, obj in list(vars(mod).items()):
            # pandas/Python UDF objects carry evalType; callers read their
            # attributes, so they stay unwrapped
            if (name.startswith("_") or not inspect.isfunction(obj)
                    or obj.__module__ != mod.__name__
                    or hasattr(obj, "evalType")):
                continue
            self._undo.append((mod, name, obj))
            setattr(mod, name, self._wrap(obj, f"{layer}.{name}", layer))

    def install(self) -> None:
        import importlib

        from py4j.clientserver import JavaClient

        for m in FUNCTION_MODULES:
            self._patch_module(
                importlib.import_module(f"mobilityduck_spark.functions.{m}"),
                "functions")
        for m in OPERATOR_MODULES:
            self._patch_module(
                importlib.import_module(f"mobilityduck_spark.operators.{m}"),
                f"operators.{m}")
        for m in ("tables", "berlinmod"):
            self._patch_module(
                importlib.import_module(f"mobilityduck_spark.sources.{m}"),
                "sources")

        orig = JavaClient.send_command
        tracer = self

        @functools.wraps(orig)
        def send_command(client, *args, **kwargs):
            if not tracer.active or threading.get_ident() != tracer._thread:
                return orig(client, *args, **kwargs)
            t0 = time.perf_counter()
            try:
                return orig(client, *args, **kwargs)
            finally:
                dt = time.perf_counter() - t0
                tracer.py4j_calls += 1
                tracer.py4j_s += dt
                if tracer._stack:
                    top = tracer._stack[-1]
                    top.py4j_calls += 1
                    top.py4j_s += dt

        self._undo.append((JavaClient, "send_command", orig))
        JavaClient.send_command = send_command

    def uninstall(self) -> None:
        while self._undo:
            owner, name, obj = self._undo.pop()
            setattr(owner, name, obj)

    # -- reporting -----------------------------------------------------
    def layer_totals(self, runs: set) -> dict:
        """Per-layer call counts and self times over the spans of ``runs``;
        ``sources.load_s`` is inclusive."""
        tot: dict = defaultdict(float)
        for sp in self.spans:
            if sp.run not in runs or sp.end is None:
                continue
            self_s = sp.self_s()
            tot[f"{sp.layer}.s"] += self_s
            if sp.layer.startswith("operators."):
                tot["operators.calls"] += 1
                tot["operators.s"] += self_s
            else:
                tot[f"{sp.layer}.calls"] += 1
            if sp.name == "sources.load":
                tot["sources.load_calls"] += 1
                tot["sources.load_s"] += sp.end - sp.start
        keys = ["functions.calls", "functions.s", "operators.calls",
                "operators.s", "sources.load_calls", "sources.load_s"]
        keys += [f"operators.{m}.s" for m in REPORTED_OPERATORS]
        return {k: tot[k] for k in keys}

    @contextlib.contextmanager
    def paused(self):
        """Stop recording while the benchmark reads its own counters."""
        was, self.active = self.active, False
        try:
            yield
        finally:
            self.active = was

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for sp in self.spans:
                f.write(json.dumps({
                    "id": id(sp), "name": sp.name, "layer": sp.layer,
                    "start": sp.start, "end": sp.end, "parent": sp.parent,
                    "run": sp.run, "py4j_calls": sp.py4j_calls,
                    "py4j_s": sp.py4j_s,
                }) + "\n")


def no_span(name: str, layer: str):
    """Stand-in for ``Tracer.span`` in untraced passes."""
    return contextlib.nullcontext()


# -------------------------------------------------------------- Spark side
_SIZE = {"B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40}
_TIME = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0, "ns": 1e-9}
_VALUE = re.compile(r"^\s*([-0-9.,]+)\s*([A-Za-z]*)")


def metric_value(text: str) -> float:
    """Parse a formatted SQL metric ('3 ms', '1.5 MiB', '1,204', or the
    'total (min, med, max ...)' two-line form) into seconds, bytes or a
    plain number; the total is taken from the multi-line form."""
    line = text.strip().splitlines()[-1]
    m = _VALUE.match(line)
    if not m:
        return 0.0
    num = float(m.group(1).replace(",", ""))
    unit = m.group(2)
    return num * _SIZE.get(unit, _TIME.get(unit, 1.0))


_NODE_METRICS = {
    "time to run Python workers": "sql.python_eval_s",
    "peak memory": "sql.peak_mem_mb",
}
_SCAN_METRICS = dict(_NODE_METRICS, **{"number of output rows": "sql.scan_rows"})


class SparkStats:
    """Counters of the jobs, stages and SQL executions a query run made,
    read from Spark's status stores right after the run."""

    STAGE_FIELDS = (
        ("exec.executor_run_s", "executorRunTime", 1e-3),
        ("exec.executor_cpu_s", "executorCpuTime", 1e-9),
        ("exec.gc_s", "jvmGcTime", 1e-3),
        ("exec.shuffle_write_mb", "shuffleWriteBytes", 1e-6),
        ("exec.shuffle_read_mb", "shuffleReadBytes", 1e-6),
        ("exec.spill_mb", "diskBytesSpilled", 1e-6),
        ("exec.input_mb", "inputBytes", 1e-6),
    )

    def __init__(self, spark):
        self.spark = spark
        self.jsc = spark.sparkContext._jsc.sc()
        self.dag = self.jsc.dagScheduler()
        self.store = self.jsc.statusStore()
        self.sql_store = spark._jsparkSession.sharedState().statusStore()
        self.next_exec = 0

    def counters(self) -> tuple[int, int]:
        """(jobs, stages) created so far in this application."""
        return self.dag.numTotalJobs(), self.dag.nextStageId()

    def wait(self) -> None:
        self.jsc.listenerBus().waitUntilEmpty()

    def new_executions(self) -> list[int]:
        """Ids of the SQL executions recorded since the previous call."""
        found, misses, eid = [], 0, self.next_exec
        while misses < 3:
            if self.sql_store.execution(eid).isDefined():
                found.append(eid)
                self.next_exec = eid + 1
                misses = 0
            else:
                misses += 1
            eid += 1
        return found

    def stages(self, lo: int, hi: int) -> dict:
        out: dict = defaultdict(float)
        for sid in range(lo, hi):
            try:
                d = self.store.lastStageAttempt(sid)
            except Exception:  # stage never registered with the store
                continue
            out["exec.tasks"] += d.numCompleteTasks() + d.numFailedTasks()
            for key, getter, scale in self.STAGE_FIELDS:
                out[key] += getattr(d, getter)() * scale
        return out

    def sql(self, execution_ids: list[int]) -> dict:
        out: dict = defaultdict(float)
        for eid in execution_ids:
            metrics = self.sql_store.executionMetrics(eid)
            nodes = self.sql_store.planGraph(eid).allNodes()
            for i in range(nodes.size()):
                node = nodes.apply(i)
                name = node.name()
                if name == "BroadcastExchange":
                    out["sql.broadcasts"] += 1
                elif name == "Exchange":
                    out["sql.exchanges"] += 1
                wanted = _SCAN_METRICS if name.startswith("Scan") else _NODE_METRICS
                ms = node.metrics()
                for k in range(ms.size()):
                    m = ms.apply(k)
                    key = wanted.get(m.name())
                    if key is None:
                        continue
                    v = metrics.get(m.accumulatorId())
                    if v.isDefined():
                        val = metric_value(v.get())
                        out[key] += val * 1e-6 if key.endswith("_mb") else val
        return out

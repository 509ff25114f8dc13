"""Per-layer tracing for the benchmark, measured from outside the package.

Three sources feed the trace:

- wrappers the harness puts around the package's public driver-side
  entry points (``sources``, ``geometry``, ``operators`` and
  ``session.load_table``), each call recorded as a span;
- Spark's core status store (jobs and stages: times, tasks, CPU, GC,
  shuffle and result bytes), read through py4j with the UI disabled;
- Spark's SQL status store (the Python-worker metrics of every SQL
  execution a query ran, eager ones included).

Spans live in memory; ``QueryTrace.metrics`` turns one query's spans
into the per-layer metrics, including each layer's self time.
"""

from __future__ import annotations

import functools
import importlib
import inspect
import pkgutil
import re
import sys
import threading
import time
from collections import Counter, defaultdict
from dataclasses import dataclass, field

from py4j.protocol import Py4JJavaError

PKG = "wrf_to_geodataframe_spark"
WRAPPED = ("sources", "geometry", "operators")

# span layer -> the layer its self time is charged to
SELF_LAYER = {
    "query": "harness",
    "suite.build": "suite",
    "session.load_table": "session",
    "sources.read": "sources",
    "sources.write": "sources",
    "geometry": "geometry",
    "operators": "operators",
    "spark.plan": "spark.plan",
    "spark.run": "spark.driver",
    "spark.job": "spark.scheduler",
    "spark.stage": "spark.executor",
    "result.fetch": "result",
}
SELF_METRICS = sorted({f"self.{v}_s" for v in SELF_LAYER.values()})
SPARK_SPANS = ("spark.job", "spark.stage", "result.fetch")

# display name of each Python-worker SQL metric -> the metric it feeds
PY_METRICS = {
    "time to run Python workers": "python_worker.run_s",
    "time to start Python workers": "python_worker.boot_s",
    "data sent to Python workers": "python_worker.bytes_sent",
    "data returned from Python workers": "python_worker.bytes_received",
}
_UNITS = {
    "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
    "B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40, "PiB": 2**50,
}
_VALUE = re.compile(r"([0-9][0-9,]*(?:\.[0-9]+)?)\s*([A-Za-z]+)")


def parse_sql_metric(text: str | None) -> float:
    """Value of one formatted SQL metric ('4.7 s', '783.3 KiB', or the
    multi-line 'total (min, med, max ...)' form), in seconds or bytes."""
    if not text:
        return 0.0
    m = _VALUE.match(text.rsplit("\n", 1)[-1].strip())
    if not m or m.group(2) not in _UNITS:
        raise ValueError(f"unparsed SQL metric {text!r}")
    return float(m.group(1).replace(",", "")) * _UNITS[m.group(2)]


@dataclass
class Span:
    name: str
    layer: str
    start: float
    end: float = 0.0
    parent: int | None = None
    depth: int = 0


@dataclass
class QueryTrace:
    """The spans of one query execution; index 0 is the ``query`` span."""

    query: str
    spans: list[Span] = field(default_factory=list)
    counts: dict[str, float] = field(default_factory=dict)
    _stack: list[int] = field(default_factory=list)
    _open_layers: Counter = field(default_factory=Counter)

    def open(self, name: str, layer: str) -> int:
        parent = self._stack[-1] if self._stack else None
        depth = self.spans[parent].depth + 1 if parent is not None else 0
        self.spans.append(Span(name, layer, time.time(), parent=parent, depth=depth))
        self._stack.append(len(self.spans) - 1)
        self._open_layers[layer.split(".")[0]] += 1
        return len(self.spans) - 1

    def close(self, sid: int) -> None:
        assert self._stack and self._stack[-1] == sid, "spans must nest"
        self._stack.pop()
        s = self.spans[sid]
        s.end = time.time()
        self._open_layers[s.layer.split(".")[0]] -= 1

    def inside(self, layer: str) -> bool:
        return self._open_layers[layer.split(".")[0]] > 0

    def add(self, name: str, layer: str, start: float, end: float, parent: int) -> int:
        """Add a finished span (Spark jobs and stages), clamped to its parent."""
        p = self.spans[parent]
        start = min(max(start, p.start), p.end)
        self.spans.append(Span(name, layer, start, min(max(end, start), p.end),
                               parent=parent, depth=p.depth + 1))
        return len(self.spans) - 1

    def deepest_at(self, t: float) -> int:
        """The deepest driver-side span open at time ``t`` (the query span
        at worst); Spark's own spans are never parents of a job."""
        best = 0
        for i, s in enumerate(self.spans):
            if (s.start <= t <= s.end and s.depth > self.spans[best].depth
                    and s.layer not in SPARK_SPANS):
                best = i
        return best

    def _covered(self, layer: str) -> float:
        """Wall time covered by spans of ``layer`` (nested ones counted once)."""
        ivs = sorted((s.start, s.end) for s in self.spans if s.layer == layer)
        total, cur_a, cur_b = 0.0, None, None
        for a, b in ivs:
            if cur_b is None or a > cur_b:
                total += (cur_b - cur_a) if cur_b is not None else 0.0
                cur_a, cur_b = a, b
            else:
                cur_b = max(cur_b, b)
        return total + ((cur_b - cur_a) if cur_b is not None else 0.0)

    def self_times(self) -> dict[str, float]:
        """Charge every instant of the query's wall to the deepest span
        open then (earliest-opened on ties), so the layers sum to the wall."""
        bounds = sorted({t for s in self.spans for t in (s.start, s.end)})
        out: dict[str, float] = defaultdict(float)
        for a, b in zip(bounds, bounds[1:]):
            owner = None
            for s in self.spans:
                if s.start <= a and s.end >= b and (owner is None or s.depth > owner.depth):
                    owner = s
            if owner is not None:
                out[f"self.{SELF_LAYER[owner.layer]}_s"] += b - a
        return {k: out.get(k, 0.0) for k in SELF_METRICS}

    def metrics(self) -> dict[str, float]:
        by_layer = defaultdict(list)
        for s in self.spans:
            by_layer[s.layer].append(s)
        m = dict(self.counts)
        m["suite.build_s"] = self._covered("suite.build")
        m["spark.plan_s"] = self._covered("spark.plan")
        m["result.fetch_s"] = self._covered("result.fetch")
        m["session.load_table_s"] = self._covered("session.load_table")
        m["session.load_table_calls"] = len(by_layer["session.load_table"])
        m["sources.read_s"] = self._covered("sources.read")
        m["sources.write_s"] = self._covered("sources.write")
        m["geometry.driver_s"] = self._covered("geometry")
        m["operators.driver_s"] = self._covered("operators")
        m.update(self.self_times())
        return m

    def to_json(self, qid: str) -> list[dict]:
        return [
            {"id": i, "name": s.name, "layer": s.layer, "start": s.start,
             "end": s.end, "parent": s.parent, "query": qid}
            for i, s in enumerate(self.spans)
        ]


class Tracer:
    """Owns the wrappers; records into the current ``QueryTrace`` only
    on the thread that runs the queries."""

    def __init__(self) -> None:
        self.current: QueryTrace | None = None
        self.own_s = 0.0  # time spent in the wrappers' own bookkeeping
        self._thread = threading.get_ident()

    def _recording(self) -> QueryTrace | None:
        if self.current is None or threading.get_ident() != self._thread:
            return None
        return self.current

    def wrap(self, fn, name: str, layer: str):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            qt = self._recording()
            if qt is None or qt.inside(layer):
                return fn(*args, **kwargs)
            t_in = time.perf_counter()
            sid = qt.open(name, layer)
            t_call = time.perf_counter()
            try:
                return fn(*args, **kwargs)
            finally:
                t_ret = time.perf_counter()
                qt.close(sid)
                self.own_s += (t_call - t_in) + (time.perf_counter() - t_ret)

        return traced

    def install(self) -> int:
        """Import every module of the wrapped layers, wrap each public
        function they define plus ``session.load_table``, and rebind every
        name in the package that refers to one.  Returns the count wrapped.

        ``functools.wraps`` keeps ``__module__``/``__qualname__``, and the
        defining module's attribute is the wrapper, so cloudpickle still
        pickles a wrapped function by reference: workers get the original.
        """
        for layer in WRAPPED:
            pkg = importlib.import_module(f"{PKG}.{layer}")
            for info in pkgutil.iter_modules(pkg.__path__):
                importlib.import_module(f"{PKG}.{layer}.{info.name}")
        repl: dict[int, tuple[object, object]] = {}
        for modname, mod in list(sys.modules.items()):
            parts = modname.split(".")
            if len(parts) < 3 or parts[0] != PKG or parts[1] not in WRAPPED:
                continue
            for attr, obj in list(vars(mod).items()):
                if attr.startswith("_") or not inspect.isfunction(obj) or obj.__module__ != modname:
                    continue
                layer = parts[1]
                if layer == "sources":
                    writes = attr.startswith(("write_", "encode_")) or attr.endswith("_encode")
                    layer = "sources.write" if writes else "sources.read"
                repl[id(obj)] = (obj, self.wrap(obj, ".".join(parts[1:] + [attr]), layer))
        session = sys.modules[f"{PKG}.session"]
        lt = session.load_table
        repl[id(lt)] = (lt, self.wrap(lt, "session.load_table", "session.load_table"))
        for modname, mod in list(sys.modules.items()):
            if modname != PKG and not modname.startswith(PKG + "."):
                continue
            for attr, obj in list(vars(mod).items()):
                hit = repl.get(id(obj))
                if hit is not None and hit[0] is obj:
                    setattr(mod, attr, hit[1])
        return len(repl)


class SparkStores:
    """Reads Spark's status stores (no UI port needed), one query at a time."""

    def __init__(self, spark) -> None:
        sc = spark.sparkContext
        self._sc = sc
        self._core = sc._jsc.sc()
        self._conv = sc._jvm.scala.jdk.javaapi.CollectionConverters
        self._store = self._core.statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._next_exec = self._count_executions()

    def _count_executions(self) -> int:
        n = 0
        for ex in self._conv.asJava(self._sql.executionsList()):
            n = max(n, ex.executionId() + 1)
        return n

    def drain(self) -> None:
        """Wait until the listener bus has applied every event posted so far."""
        self._core.listenerBus().waitUntilEmpty()

    @staticmethod
    def _ms(opt) -> float | None:
        return opt.get().getTime() / 1000.0 if opt.isDefined() else None

    def record(self, qt: QueryTrace, group: str, build_sid: int, run_sid: int,
               collect_end: float) -> None:
        """Add job/stage/fetch spans and the Spark counters to ``qt``."""
        self.drain()
        c = defaultdict(float)
        jobs = []
        for jid in sorted(self._sc.statusTracker().getJobIdsForGroup(group)):
            j = self._store.job(jid)
            sub = self._ms(j.submissionTime())
            end = self._ms(j.completionTime())
            jobs.append((jid, sub, end if end is not None else collect_end,
                         list(self._conv.asJava(j.stageIds()))))
            c["spark.skipped_stages"] += j.numSkippedStages()
        c["spark.jobs"] = len(jobs)
        run = qt.spans[run_sid]
        stage_parent: dict[int, int] = {}
        last_run_end, run_jobs = None, []
        for jid, sub, end, stage_ids in jobs:
            sub = sub if sub is not None else end
            parent = qt.deepest_at(sub)
            if parent == 0:  # ms rounding can land a job just outside its caller
                parent = run_sid if sub >= run.start - 0.002 else build_sid
            jsid = qt.add(f"spark.job {jid}", "spark.job", sub, end, parent)
            if qt.spans[jsid].start >= run.start:
                run_jobs.append(stage_ids)
                last_run_end = max(last_run_end or end, end)
            elif _under(qt, jsid, build_sid):
                c["suite.build_jobs"] += 1
            for sid in stage_ids:
                stage_parent.setdefault(sid, jsid)
        result_stages = {max(s) for s in run_jobs if s}
        for sid, jsid in sorted(stage_parent.items()):
            try:
                st = self._store.lastStageAttempt(sid)
            except Py4JJavaError:  # listed by a job but never submitted
                continue
            if str(st.status()) == "SKIPPED":
                continue
            c["spark.stages"] += 1
            c["spark.tasks"] += st.numTasks()
            c["spark.failed_tasks"] += st.numFailedTasks()
            c["spark.executor_run_s"] += st.executorRunTime() / 1e3
            c["spark.executor_cpu_s"] += st.executorCpuTime() / 1e9
            c["spark.gc_s"] += st.jvmGcTime() / 1e3
            c["spark.input_bytes"] += st.inputBytes()
            c["shuffle.read_bytes"] += st.shuffleReadBytes()
            c["shuffle.write_bytes"] += st.shuffleWriteBytes()
            c["shuffle.spill_bytes"] += st.diskBytesSpilled()
            if sid in result_stages:
                c["result.bytes"] += st.resultSize()
            s0, s1 = self._ms(st.submissionTime()), self._ms(st.completionTime())
            if s0 is not None:
                qt.add(f"spark.stage {sid}", "spark.stage", s0, s1 if s1 is not None else s0, jsid)
        fetch_start = last_run_end if last_run_end is not None else run.start
        qt.add("result.fetch", "result.fetch", fetch_start, collect_end, run_sid)
        for name in PY_METRICS.values():
            c[name] = 0.0
        self._python_metrics(c)
        for k in ("spark.jobs", "spark.stages", "spark.skipped_stages", "spark.tasks",
                  "spark.failed_tasks", "suite.build_jobs"):
            c[k] = int(c[k])
        qt.counts.update(c)

    def _python_metrics(self, c: dict) -> None:
        """Sum the Python-worker SQL metrics of every execution started
        since the previous call (the query's own, eager ones included)."""
        misses, eid = 0, self._next_exec
        while misses < 8:
            opt = self._sql.execution(eid)
            eid += 1
            if not opt.isDefined():
                misses += 1
                continue
            misses = 0
            self._next_exec = eid
            ex = opt.get()
            wanted = {}
            for m in self._conv.asJava(ex.metrics()):
                if m.name() in PY_METRICS:
                    wanted[m.accumulatorId()] = PY_METRICS[m.name()]
            if not wanted:
                continue
            values = self._conv.asJava(self._sql.executionMetrics(ex.executionId()))
            for acc, name in wanted.items():
                c[name] += parse_sql_metric(values.get(acc))


def _under(qt: QueryTrace, sid: int, ancestor: int) -> bool:
    p = qt.spans[sid].parent
    while p is not None:
        if p == ancestor:
            return True
        p = qt.spans[p].parent
    return False

"""Spans, layer wrappers and Spark status-store readings for the traced run.

Nothing here edits the ``kafka_graphs_spark`` package on disk: the traced
run swaps the layer entry points for timing wrappers in the loaded modules
(every module attribute that *is* the original function is replaced, so
``from ... import sized_cache`` call sites are covered too). Spark's side is
read from outside, through ``sc._jsc.sc().statusStore()`` (jobs, stages,
RDD storage) and ``sharedState().statusStore()`` (SQL executions and their
Python-worker metrics).
"""

from __future__ import annotations

import functools
import itertools
import json
import os
import re
import statistics
import sys
import threading
import time
from dataclasses import asdict, dataclass, field
from typing import Optional


@dataclass
class Span:
    name: str
    start: float  # epoch seconds
    end: float
    parent: Optional[int]
    trace_id: str
    span_id: int
    attrs: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    """In-memory span recorder. Disabled tracers record nothing, so the
    untraced run pays one attribute check per wrapped call."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self.counts: dict[str, int] = {}
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()

    def _stack(self) -> list:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def count(self, name: str, n: int = 1) -> None:
        if self.enabled:
            with self._lock:
                self.counts[name] = self.counts.get(name, 0) + n

    def span(self, name: str, trace_id: Optional[str] = None, **attrs):
        return _SpanCtx(self, name, trace_id, attrs)

    def self_times(self) -> dict[int, float]:
        """span_id → duration minus the part of it covered by child spans."""
        kids: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                kids.setdefault(s.parent, []).append(s)
        out = {}
        for s in self.spans:
            covered = _union_len([(c.start, c.end) for c in kids.get(s.span_id, [])])
            out[s.span_id] = max(0.0, s.dur - covered)
        return out

    def write(self, path: str) -> None:
        selfs = self.self_times()
        with open(path, "w") as f:
            for s in self.spans:
                rec = asdict(s)
                rec["self_s"] = round(selfs[s.span_id], 6)
                f.write(json.dumps(rec, default=str) + "\n")


class _SpanCtx:
    def __init__(self, tracer: Tracer, name: str, trace_id, attrs):
        self.t, self.name, self.trace_id, self.attrs = tracer, name, trace_id, attrs
        self.span: Optional[Span] = None

    def __enter__(self):
        if not self.t.enabled:
            return self
        st = self.t._stack()
        parent = st[-1] if st else None
        tid = self.trace_id or (parent.trace_id if parent else self.name)
        self.span = Span(self.name, time.time(), 0.0, parent.span_id if parent else None,
                         tid, next(self.t._ids), dict(self.attrs))
        st.append(self.span)
        return self

    def __exit__(self, exc_type, exc, tb):
        if self.span is None:
            return False
        self.span.end = time.time()
        if exc_type is not None:
            self.span.attrs["error"] = exc_type.__name__
        self.t._stack().pop()
        with self.t._lock:
            self.t.spans.append(self.span)
        return False


def _union_len(intervals) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


# ---------------------------------------------------------------------------
# layer wrappers (traced run only)
# ---------------------------------------------------------------------------

#: (module, attribute path, span name). Functions are replaced wherever a
#: loaded package module holds them; methods are replaced on their class.
LAYER_ENTRY_POINTS = [
    ("kafka_graphs_spark.library._loop", "ChainLoop.advance", "loop.advance"),
    ("kafka_graphs_spark.library._loop", "ChainLoop.chain", "loop.chain"),
    ("kafka_graphs_spark.library._loop", "sized_cache", "loop.sized_cache"),
    ("kafka_graphs_spark.library._loop", "eager_checkpoint", "loop.eager_checkpoint"),
    ("kafka_graphs_spark.library._loop", "lazy_checkpoint", "loop.lazy_checkpoint"),
    ("kafka_graphs_spark.library._loop", "AdaptiveLoopConf.tune", "loop.conf_tune"),
    ("kafka_graphs_spark.pregel.runtime", "pregel", "pregel"),
    ("kafka_graphs_spark.streaming.aggregations", "summary_bulk_aggregation",
     "streaming.summary_bulk_aggregation"),
] + [
    ("kafka_graphs_spark.service", f"GraphService.{h}", f"service.handler.{h}")
    for h in ("import_graph", "prepare_graph", "configure", "run_algorithm",
              "state", "result", "delete")
]


def install_wrappers(tracer: Tracer) -> None:
    import importlib

    for mod_name, attr, span_name in LAYER_ENTRY_POINTS:
        mod = importlib.import_module(mod_name)
        if "." in attr:
            cls_name, meth = attr.split(".")
            cls = getattr(mod, cls_name)
            setattr(cls, meth, _wrap(tracer, getattr(cls, meth), span_name))
            continue
        orig = getattr(mod, attr)
        wrapped = _wrap(tracer, orig, span_name)
        for m in list(sys.modules.values()):
            if getattr(m, "__name__", "").startswith("kafka_graphs_spark"):
                for k, v in list(vars(m).items()):
                    if v is orig:
                        setattr(m, k, wrapped)


def _wrap(tracer: Tracer, fn, span_name: str):
    @functools.wraps(fn)
    def wrapper(*a, **kw):
        if not tracer.enabled:
            return fn(*a, **kw)
        tracer.count(span_name)
        with tracer.span(span_name) as ctx:
            out = fn(*a, **kw)
            steps = getattr(out, "superstep", None)  # PregelResult
            if isinstance(steps, int) and ctx.span is not None:
                ctx.span.attrs["supersteps"] = steps
            return out

    return wrapper


# ---------------------------------------------------------------------------
# Spark status store
# ---------------------------------------------------------------------------

class SparkStatus:
    """Jobs, stages and SQL executions of this SparkContext as dicts."""

    def __init__(self, spark):
        sc = spark.sparkContext
        jvm = sc._jvm
        self._store = sc._jsc.sc().statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._gw = sc._gateway
        self._jvm = jvm
        mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        scala_mod = getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$")
        mapper.registerModule(scala_mod.__getattr__("MODULE$"))
        self._mapper = mapper

    def _json(self, obj):
        return json.loads(self._mapper.writeValueAsString(obj))

    def jobs(self) -> list[dict]:
        return self._json(self._store.jobsList(None))

    def stages(self) -> list[dict]:
        empty = self._gw.new_array(self._jvm.double, 0)
        return self._json(self._store.stageList(None, False, False, empty, None))

    def executions(self) -> list[dict]:
        return self._json(self._sql.executionsList())

    def storage_bytes(self) -> int:
        rdds = self._json(self._store.rddList(True))
        return sum(int(r.get("memoryUsed", 0)) + int(r.get("diskUsed", 0)) for r in rdds)


class StorageSampler:
    """Peak cached/checkpointed block bytes, sampled once a second."""

    def __init__(self, status: SparkStatus, period: float = 1.0):
        self.peak = 0
        self._status, self._period = status, period
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def start(self) -> "StorageSampler":
        self._thread.start()
        return self

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=30)

    def _run(self):
        while not self._stop.wait(self._period):
            try:
                self.peak = max(self.peak, self._status.storage_bytes())
            except Exception:  # the context may be stopping; keep the peak so far
                return


_PY_METRICS = {
    "data sent to Python workers": "python.sent_bytes",
    "data returned from Python workers": "python.returned_bytes",
    "time to run Python workers": "python.run_s",
    "time to start Python workers": "python.start_s",
}
_SIZE = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}
_TIME = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}
_VALUE_RE = re.compile(r"([0-9][0-9.,]*)\s*(B|KiB|MiB|GiB|TiB|ms|s|m|h)\b")


def parse_sql_metric(text: str) -> float:
    """Total of a formatted SQL metric value ('1.2 s', '16.5 KiB', or the
    multi-task 'total (min, med, max ...)\\n3.0 MiB (...)' form)."""
    body = text.split("\n", 1)[1] if "\n" in text else text
    m = _VALUE_RE.search(body)
    if not m:
        return 0.0
    num = float(m.group(1).replace(",", ""))
    unit = m.group(2)
    return num * (_SIZE.get(unit) or _TIME[unit])


def spark_window_metrics(jobs, stages, execs, t0: float, t1: float, slots: int) -> dict:
    """Spark scheduler, executor and Python-boundary figures for the jobs and
    SQL executions submitted in [t0, t1] (epoch seconds)."""
    lo, hi = t0 * 1000, t1 * 1000
    win = [j for j in jobs if j.get("submissionTime") and lo <= j["submissionTime"] <= hi]
    ivals = [(j["submissionTime"] / 1000, (j.get("completionTime") or hi) / 1000) for j in win]
    in_jobs = _union_len(ivals)
    busy = sum(e - s for s, e in ivals)
    stage_ids = {sid for j in win for sid in j.get("stageIds", [])}
    done = [s for s in stages if s["stageId"] in stage_ids and s.get("status") == "COMPLETE"]
    run_s = sum(s.get("executorRunTime", 0) for s in done) / 1000
    out = {
        "spark.jobs": len(win),
        "spark.stages": len(done),
        "spark.tasks": sum(s.get("numTasks", 0) for s in done),
        "spark.in_jobs_s": in_jobs,
        "spark.between_jobs_s": max(0.0, (t1 - t0) - in_jobs),
        "spark.jobs_overlap_avg": busy / in_jobs if in_jobs > 0 else 0.0,
        "spark.slot_util": run_s / ((t1 - t0) * slots) if t1 > t0 else 0.0,
        "spark.executor_run_s": run_s,
        "spark.executor_cpu_s": sum(s.get("executorCpuTime", 0) for s in done) / 1e9,
        "spark.gc_s": sum(s.get("jvmGcTime", 0) for s in done) / 1000,
        "spark.shuffle_read_bytes": sum(s.get("shuffleReadBytes", 0) for s in done),
        "spark.shuffle_write_bytes": sum(s.get("shuffleWriteBytes", 0) for s in done),
        "spark.input_bytes": sum(s.get("inputBytes", 0) for s in done),
        "spark.spill_bytes": sum(s.get("memoryBytesSpilled", 0) + s.get("diskBytesSpilled", 0)
                                 for s in done),
    }
    wexec = [e for e in execs if e.get("submissionTime") and lo <= e["submissionTime"] <= hi]
    out["spark.sql_executions"] = len(wexec)
    py = dict.fromkeys(_PY_METRICS.values(), 0.0)
    for e in wexec:
        names = {m["accumulatorId"]: m["name"] for m in e.get("metrics") or []}
        for acc, text in (e.get("metricValues") or {}).items():
            key = _PY_METRICS.get(names.get(int(acc)))
            if key:
                py[key] += parse_sql_metric(text)
    out.update(py)
    return out


def job_window(jobs, t0: float, t1: float) -> tuple[int, float]:
    """(jobs submitted in [t0, t1], wall of that window covered by no job)."""
    lo, hi = t0 * 1000, t1 * 1000
    win = [j for j in jobs if j.get("submissionTime") and lo <= j["submissionTime"] <= hi]
    ivals = [(j["submissionTime"] / 1000, (j.get("completionTime") or hi) / 1000) for j in win]
    return len(win), max(0.0, (t1 - t0) - _union_len(ivals))


# ---------------------------------------------------------------------------
# resident memory and CPU time of the process tree, from /proc
# ---------------------------------------------------------------------------

def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(d))
    return kids


def _hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def tree_hwm_mb(root: int) -> float:
    """Sum of ``VmHWM`` (peak resident memory) over ``root`` and its live
    descendants: the Python driver, the JVM, and the Python daemon and its
    reused workers. Read once at the end of a run; short-lived launcher
    processes that have exited by then do not count."""
    kids = _children()
    todo, seen, total = [root], set(), 0
    while todo:
        pid = todo.pop()
        if pid in seen:
            continue
        seen.add(pid)
        todo.extend(kids.get(pid, []))
        total += _hwm_kb(pid)
    return total / 1024


def tree_cpu_s(root: int) -> float:
    """user + system CPU seconds of ``root`` and its live descendants, with
    those of the children each of them has waited for (ended Python workers)."""
    kids = _children()
    todo, total = [root], 0
    while todo:
        pid = todo.pop()
        todo.extend(kids.get(pid, []))
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        total += sum(int(x) for x in fields[11:15])
    return total / os.sysconf("SC_CLK_TCK")


def _start_ticks(pid: int) -> Optional[int]:
    """Start time of a live (non-zombie) process, or None once it has ended."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
    except OSError:
        return None
    return None if fields[0] in ("Z", "X") else int(fields[19])


def descendants(root: int) -> list[tuple[int, int]]:
    """(pid, start time) of every live process under ``root``; the start time
    tells a process from a later one that reuses its pid."""
    kids = _children()
    todo, out = list(kids.get(root, [])), []
    while todo:
        pid = todo.pop()
        todo.extend(kids.get(pid, []))
        start = _start_ticks(pid)
        if start is not None:
            out.append((pid, start))
    return out


def wait_ended(procs: list[tuple[int, int]], timeout: float) -> list[tuple[int, int]]:
    """Wait up to ``timeout`` seconds for ``procs`` to end; the ones still running."""
    deadline = time.time() + timeout
    while True:
        procs = [(p, s) for p, s in procs if _start_ticks(p) == s]
        if not procs or time.time() >= deadline:
            return procs
        time.sleep(0.05)


def host_cpu_ticks() -> list[int]:
    """The machine-wide ``cpu`` line of /proc/stat (user … steal)."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def median(xs, default=0.0):
    xs = list(xs)
    return statistics.median(xs) if xs else default

"""Tracing for the benchmark's traced run, measured from outside the
package: nothing in ``datar_polars_spark`` is edited.

* Spans: the public entry points of ``sources`` (``read_parquet``), the
  ``operators`` verbs and the ``scale`` operations are wrapped while a
  traced pass runs. Each call records a span (layer, name, start, end,
  parent). Spans stay in memory and are written when the run ends.
* Spark's own status stores, which work with ``spark.ui.enabled=false``:
  job-group job and stage metrics from the app status store, per-node
  SQL metrics (scan, Python worker) from the SQL status store, and the
  Catalyst phase times from ``QueryExecution.tracker()``.
"""

from __future__ import annotations

import contextlib
import functools
import inspect
import json
import re
import sys
import time
from pathlib import Path

from py4j.protocol import Py4JJavaError

# The active tracer while a traced pass runs, else None. Wrappers look
# it up on every call, so a wrapper that reaches a Python worker (where
# this is always None) passes straight through.
TRACER = None


class Tracer:
    """Span recorder for one process; spans nest by call order, since
    the benchmark drives Spark from a single thread."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._stack: list[int] = []

    def begin(self, layer: str, name: str, **attrs) -> int:
        sid = len(self.spans)
        self.spans.append({
            "id": sid,
            "parent": self._stack[-1] if self._stack else None,
            "layer": layer,
            "name": name,
            "start": time.perf_counter(),
            "end": None,
            **attrs,
        })
        self._stack.append(sid)
        return sid

    def end(self, sid: int) -> None:
        self.spans[sid]["end"] = time.perf_counter()
        # pop through sid: a wrapped call that raised mid-way may have
        # left inner spans open
        while self._stack and self._stack.pop() != sid:
            pass

    @contextlib.contextmanager
    def span(self, layer: str, name: str, **attrs):
        sid = self.begin(layer, name, **attrs)
        try:
            yield self.spans[sid]
        finally:
            self.end(sid)

    def write(self, path: Path) -> None:
        path.parent.mkdir(parents=True, exist_ok=True)
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(s) + "\n")


# ---------------------------------------------------------------------------
# span arithmetic
# ---------------------------------------------------------------------------

def children_of(spans: list[dict]) -> dict[int, list[dict]]:
    kids: dict[int, list[dict]] = {}
    for s in spans:
        if s["parent"] is not None:
            kids.setdefault(s["parent"], []).append(s)
    return kids


def self_time(span: dict, kids: dict[int, list[dict]]) -> float:
    """Span duration minus the part of it its child spans cover."""
    ivs = sorted((c["start"], c["end"]) for c in kids.get(span["id"], ()))
    covered, cur_s, cur_e = 0.0, None, None
    for s, e in ivs:
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                covered += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        covered += cur_e - cur_s
    return (span["end"] - span["start"]) - covered


def outermost(spans: list[dict], layer: str) -> list[dict]:
    """Spans of ``layer`` with no ancestor of the same layer."""
    by_id = {s["id"]: s for s in spans}
    out = []
    for s in spans:
        if s["layer"] != layer:
            continue
        p = s["parent"]
        while p is not None and by_id[p]["layer"] != layer:
            p = by_id[p]["parent"]
        if p is None:
            out.append(s)
    return out


# ---------------------------------------------------------------------------
# wrapping the package's entry points
# ---------------------------------------------------------------------------

class _Traced:
    """Callable stand-in for a package function; records a span when a
    tracer is active, else calls straight through."""

    def __init__(self, fn, layer: str, name: str):
        functools.update_wrapper(self, fn)
        self.fn, self.layer, self.name = fn, layer, name

    def __call__(self, *args, **kwargs):
        tr = TRACER
        if tr is None:
            return self.fn(*args, **kwargs)
        sid = tr.begin(self.layer, self.name)
        try:
            return self.fn(*args, **kwargs)
        finally:
            tr.end(sid)


class Patches:
    """Install and remove the span wrappers.

    Verbs (``@verb``/``@verb2``) keep their wrapper object: the wrapped
    implementation sits in the wrapper's ``fn`` closure cell, which
    every call path (direct call and ``>>`` pipe) reads, so the cell is
    swapped. Plain functions are replaced, by identity, in every module
    of the package and in ``__spark_entry__``, which hold them under
    their imported names."""

    def __init__(self) -> None:
        self._cells: list[tuple[object, object]] = []
        self._attrs: list[tuple[object, str, object]] = []

    def install(self) -> None:
        import datar_polars_spark.operators as ops_pkg
        import datar_polars_spark.scale as scale_pkg
        import datar_polars_spark.sources as sources_mod

        plain: dict[int, tuple[object, str, str]] = {}
        seen_cells: set[int] = set()

        def add(fn, layer: str, name: str) -> None:
            cell = _verb_cell(fn)
            if cell is not None:
                if id(cell) not in seen_cells:
                    seen_cells.add(id(cell))
                    inner = cell.cell_contents
                    self._cells.append((cell, inner))
                    cell.cell_contents = _Traced(inner, layer, name)
            elif inspect.isfunction(fn):
                plain.setdefault(id(fn), (fn, layer, name))

        add(sources_mod.read_parquet, "sources", "read_parquet")
        for mod_name, mod in _submodules(ops_pkg):
            for name, obj in vars(mod).items():
                if getattr(obj, "__verb__", False) and getattr(obj, "__module__", "") == mod_name:
                    add(obj, "operators", name)
        for mod_name, mod in _submodules(scale_pkg):
            for name, obj in vars(mod).items():
                if name.startswith("_") or not callable(obj):
                    continue
                if getattr(obj, "__module__", "") == mod_name:
                    add(obj, "scale", name)

        wrappers = {k: _Traced(fn, layer, name) for k, (fn, layer, name) in plain.items()}
        for mname, mod in list(sys.modules.items()):
            if mod is None or not (
                mname.startswith("datar_polars_spark") or mname == "__spark_entry__"
            ):
                continue
            for attr, val in list(vars(mod).items()):
                w = wrappers.get(id(val))
                if w is not None and val is w.fn:
                    self._attrs.append((mod, attr, val))
                    setattr(mod, attr, w)

    def remove(self) -> None:
        for cell, inner in reversed(self._cells):
            cell.cell_contents = inner
        for mod, attr, val in reversed(self._attrs):
            setattr(mod, attr, val)
        self._cells.clear()
        self._attrs.clear()


def _verb_cell(fn):
    if not getattr(fn, "__verb__", False) or fn.__closure__ is None:
        return None
    names = fn.__code__.co_freevars
    return fn.__closure__[names.index("fn")] if "fn" in names else None


def _submodules(pkg):
    import importlib
    import pkgutil

    for info in pkgutil.iter_modules(pkg.__path__):
        full = f"{pkg.__name__}.{info.name}"
        yield full, importlib.import_module(full)


# ---------------------------------------------------------------------------
# Spark status stores
# ---------------------------------------------------------------------------

_SIZE_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}
_TIME_UNITS = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}
_TOTAL_RE = re.compile(r"^\s*([-\d.,]+)\s*([A-Za-z]*)")


def parse_metric(text: str) -> float:
    """Total of a formatted SQL metric value: '1,234', '10.2 MiB',
    '1.5 s', or the 'total (min, med, max ...)\\n<total> (...)' form.
    Sizes come back in bytes and times in seconds."""
    if text is None:
        return 0.0
    if "\n" in text:
        text = text.split("\n", 1)[1]
    m = _TOTAL_RE.match(text)
    if not m:
        return 0.0
    num = float(m.group(1).replace(",", ""))
    unit = m.group(2)
    if unit in _SIZE_UNITS:
        return num * _SIZE_UNITS[unit]
    if unit in _TIME_UNITS:
        return num * _TIME_UNITS[unit]
    return num


def _seq(scala_seq):
    it = scala_seq.iterator()
    while it.hasNext():
        yield it.next()


PYTHON_METRICS = {
    "time to run Python workers": "kernel_s",
    "time to start Python workers": "kernel_boot_s",
    "time to initialize Python workers": "kernel_init_s",
    "data sent to Python workers": "kernel_bytes_sent",
    "data returned from Python workers": "kernel_bytes_received",
}


class SparkProbe:
    """Reads Spark's status stores for the traced run."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self._jsc = self.sc._jsc.sc()
        self._store = self._jsc.statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._sql_seen = int(self._sql.executionsCount())

    def sync(self) -> None:
        """Wait until the listener bus has delivered every event, so the
        stores reflect every job that has ended."""
        self._jsc.listenerBus().waitUntilEmpty()

    def set_group(self, group: str) -> None:
        self.sc.setJobGroup(group, group)

    def clear_group(self) -> None:
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        self.sc.setLocalProperty("spark.job.description", None)

    def group_jobs(self, group: str) -> dict:
        """Job, stage and task totals of the jobs in ``group``."""
        out = dict(jobs=0, job_s=0.0, stages=0, tasks=0, task_s=0.0, gc_s=0.0,
                   shuffle_write_bytes=0, shuffle_read_bytes=0, fetch_wait_s=0.0,
                   spill_bytes=0, peak_mem_bytes=0)
        for jid in self.sc.statusTracker().getJobIdsForGroup(group):
            jd = self._store.job(int(jid))
            out["jobs"] += 1
            sub, done = jd.submissionTime(), jd.completionTime()
            if sub.isDefined() and done.isDefined():
                out["job_s"] += (done.get().getTime() - sub.get().getTime()) / 1e3
            for sid in _seq(jd.stageIds()):
                try:
                    sd = self._store.lastStageAttempt(int(sid))
                except Py4JJavaError:  # stage evicted from the store
                    continue
                ran = int(sd.numCompleteTasks())
                if ran == 0:
                    continue
                out["stages"] += 1
                out["tasks"] += ran
                out["task_s"] += sd.executorRunTime() / 1e3
                out["gc_s"] += sd.jvmGcTime() / 1e3
                out["shuffle_write_bytes"] += int(sd.shuffleWriteBytes())
                out["shuffle_read_bytes"] += int(sd.shuffleReadBytes())
                out["fetch_wait_s"] += sd.shuffleFetchWaitTime() / 1e3
                out["spill_bytes"] += int(sd.memoryBytesSpilled()) + int(sd.diskBytesSpilled())
                out["peak_mem_bytes"] = max(out["peak_mem_bytes"], int(sd.peakExecutionMemory()))
        return out

    def new_sql_metrics(self, path_marker: str | None = None) -> dict:
        """Scan and Python-worker metrics of the SQL executions that
        ended since the previous call. ``index_read_bytes`` counts file
        bytes of scans whose description contains ``path_marker``."""
        out = {k: 0.0 for k in PYTHON_METRICS.values()}
        out.update(kernel_rows=0.0, scan_s=0.0, scan_rows=0.0, index_read_bytes=0.0)
        n = int(self._sql.executionsCount())
        if n <= self._sql_seen:
            return out
        for ex in _seq(self._sql.executionsList(self._sql_seen, n - self._sql_seen)):
            eid = ex.executionId()
            vals = self._sql.executionMetrics(eid)

            def val(m):
                v = vals.get(m.accumulatorId())
                return parse_metric(v.get()) if v.isDefined() else 0.0

            for node in _seq(self._sql.planGraph(eid).allNodes()):
                name = node.name()
                is_scan = name.startswith("Scan ")
                metrics = list(_seq(node.metrics()))
                names = [m.name() for m in metrics]
                is_py = any(n_ in PYTHON_METRICS for n_ in names)
                if not (is_scan or is_py):
                    continue
                for m, mname in zip(metrics, names):
                    if is_py and mname in PYTHON_METRICS:
                        out[PYTHON_METRICS[mname]] += val(m)
                    elif is_py and mname == "number of output rows":
                        out["kernel_rows"] += val(m)
                    elif is_scan and mname == "scan time":
                        out["scan_s"] += val(m)
                    elif is_scan and mname == "number of output rows":
                        out["scan_rows"] += val(m)
                    elif is_scan and mname == "size of files read" and path_marker and path_marker in node.desc():
                        out["index_read_bytes"] += val(m)
        self._sql_seen = n
        return out

    @staticmethod
    def catalyst(df) -> dict:
        """Force optimization and planning of ``df``'s own query
        execution and return the tracker's phase times in seconds."""
        qe = df._jdf.queryExecution()
        qe.executedPlan()
        phases = qe.tracker().phases()
        out = {}
        for p in ("analysis", "optimization", "planning"):
            o = phases.get(p)
            out[p] = o.get().durationMs() / 1e3 if o.isDefined() else 0.0
        return out

    def heap_used_mb(self) -> float:
        jvm = self.sc._jvm
        jvm.java.lang.System.gc()
        bean = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
        return bean.getHeapMemoryUsage().getUsed() / 2**20

    def cached_rdds(self) -> int:
        return int(self.sc._jsc.getPersistentRDDs().size())

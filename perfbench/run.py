"""Closed-loop benchmark of datar_polars_spark.

One client in one process issues the operations of a workload one after
another on a local Spark session (``local[N]``, N = min(4, cores)), and
runs every operation to a full-result ``noop`` sink, so Catalyst cannot
drop the final sorts, windows and aggregates a ``count()`` would let it
prune. Outputs are checked after the timed passes (untimed).

Run from the root of a checkout:

    python3 perfbench/run.py --workload olap --seed 1 --seconds 10 --trace 0

``--trace 0`` prints the end-to-end metrics:

* ``setup_s``: import + SparkSession start + input registration,
  median of three set-ups: the first launches the JVM, the other two
  stop the session and start a new one in the same JVM. Input
  generation is excluded.
* ``first_pass_s``: the first full pass in the fresh session, with
  Python-worker start, codegen and memo fill.
* ``pass_s``: median of the steady passes that follow, run until
  ``--seconds`` have passed (at least one; two on olap).
* ``peak_rss_mb``: peak RSS of the process tree (Python driver, JVM and
  Python workers) during the passes.

``--trace 1`` runs traced passes alternating with untraced ones (at
least one of each) and prints the per-layer metrics (see perfbench/tracing.py): plan build,
Catalyst, JVM execution, scale kernels, index I/O, memory, per-op
times, ``trace.overhead_s`` (traced minus untraced pass time) and, on
olap, ``bridge.count_pass_s`` (the same pass timed with ``count()``).

The last stdout line is the result object; the line before it holds the
run's context (cores, loadavg, per-op times, check results). Both are
also written under perfbench/out/.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import threading
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
SETUPS = 3
SHUFFLE_PARTITIONS = 8
DRIVER_MEMORY = "2g"


def local_cores() -> int:
    try:
        n = len(os.sched_getaffinity(0))
    except AttributeError:
        n = os.cpu_count() or 1
    return max(1, min(4, n))


# ---------------------------------------------------------------------------
# session lifecycle
# ---------------------------------------------------------------------------

def start_session(work: Path, cores: int):
    from pyspark.sql import SparkSession

    # -XX:-UsePerfData: no hsperfdata file under the system /tmp
    java_opts = (f"-Djava.io.tmpdir={work / 'tmp'} -Dderby.system.home={work / 'derby'}"
                 " -XX:-UsePerfData")
    spark = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName("perfbench")
        .config("spark.driver.memory", DRIVER_MEMORY)
        .config("spark.driver.extraJavaOptions", java_opts)
        .config("spark.local.dir", str(work / "spark-local"))
        .config("spark.sql.warehouse.dir", str(work / "warehouse"))
        .config("spark.sql.shuffle.partitions", str(SHUFFLE_PARTITIONS))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop the session and its JVM, and wait for the JVM to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        try:
            proc.stdin.close()
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


# ---------------------------------------------------------------------------
# process-tree RSS
# ---------------------------------------------------------------------------

def tree_rss_bytes(root: int) -> int:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(d))
    total, todo, page = 0, [root], os.sysconf("SC_PAGE_SIZE")
    while todo:
        pid = todo.pop()
        try:
            with open(f"/proc/{pid}/statm") as fh:
                total += int(fh.read().split()[1]) * page
        except (OSError, IndexError, ValueError):
            pass
        todo.extend(kids.get(pid, ()))
    return total


class RssMonitor:
    def __init__(self, interval: float = 0.2):
        self.interval, self.peak = interval, 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_bytes(me))
            self._stop.wait(self.interval)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        self.peak = max(self.peak, tree_rss_bytes(os.getpid()))
        return False


def dir_bytes(path: Path) -> tuple[int, int]:
    size = files = 0
    for root, _dirs, names in os.walk(path):
        for n in names:
            try:
                size += os.stat(os.path.join(root, n)).st_size
                files += 1
            except OSError:
                pass
    return size, files


# ---------------------------------------------------------------------------
# passes
# ---------------------------------------------------------------------------

class Context:
    """What a workload's operations and checks read: the session, the
    generated inputs and their seeded parameters, the index location."""

    def __init__(self, spark, data_dir: Path, params: dict, work: Path):
        self.spark, self.data_dir, self.params = spark, data_dir, params
        self.index_path = work / "index" / "idx"
        self.memo: dict = {}


def run_pass(ctx, ops, tracer=None, probe=None, tag: str = "") -> dict:
    """One pass over ``ops``. Untraced it only times each op; traced it
    also records spans and reads Spark's status stores per op."""
    per_op, errors, dfs, layer = {}, {}, {}, {}
    t_pass = time.perf_counter()
    for op in ops:
        t0 = time.perf_counter()
        df = None
        try:
            if tracer is None:
                df = op.build()
                if df is not None:
                    df.write.format("noop").mode("overwrite").save()
            else:
                df = _traced_op(ctx, op, tracer, probe, tag, layer)
        except Exception as exc:  # the op failed; the pass goes on
            errors[op.name] = f"{type(exc).__name__}: {str(exc).strip().splitlines()[0][:300]}"
        per_op[op.name] = time.perf_counter() - t0
        dfs[op.name] = df
    return {
        "s": time.perf_counter() - t_pass,
        "ops": per_op,
        "errors": errors,
        "dfs": dfs,
        "layer": layer,
    }


def _traced_op(ctx, op, tracer, probe, tag, layer):
    """Run one op traced: build span (Python plan build) under a build job
    group, Catalyst phases, then the action under an exec job group;
    after each phase, read the jobs and SQL metrics it produced."""
    def add(key, v):
        layer[key] = layer.get(key, 0) + v

    def take_sql(phase: str) -> None:
        sql = probe.new_sql_metrics(path_marker=str(ctx.index_path))
        for k in KERNEL_KEYS:
            add(f"scale.{k}", sql[k])
        if phase == "exec":
            add("exec.scan_s", sql["scan_s"])
            add("exec.scan_rows", sql["scan_rows"])
        if op.name == "dedup_against_index":
            add("scale.index_read_bytes", sql["index_read_bytes"])

    df = None
    rdds0 = probe.cached_rdds()
    with tracer.span("op", op.name, tag=tag):
        if not op.writes:
            group = f"{tag}:build:{op.name}"
            probe.set_group(group)
            with tracer.span("build", op.name):
                df = op.build()
            probe.sync()
            jobs = probe.group_jobs(group)
            add("build.jobs", jobs["jobs"])
            add("build.job_s", jobs["job_s"])
            take_sql("build")
            with tracer.span("catalyst", op.name):
                for k, v in probe.catalyst(df).items():
                    add(f"catalyst.{k}_s", v)
        group = f"{tag}:exec:{op.name}"
        probe.set_group(group)
        with tracer.span("exec", op.name):
            if op.writes:
                op.build()
            else:
                df.write.format("noop").mode("overwrite").save()
        probe.clear_group()
        probe.sync()
        jobs = probe.group_jobs(group)
        for k in ("jobs", "stages", "tasks", "task_s", "gc_s", "shuffle_write_bytes",
                  "shuffle_read_bytes", "fetch_wait_s", "spill_bytes"):
            add(f"exec.{k}", jobs[k])
        layer["exec.peak_mem_bytes"] = max(layer.get("exec.peak_mem_bytes", 0), jobs["peak_mem_bytes"])
        take_sql("exec")
        if op.name == "dedup_index_build":
            layer["scale.index_write_bytes"], layer["scale.index_files"] = dir_bytes(ctx.index_path)
    # persisted RDDs the op left behind (a per-op view of mem.cached_rdds)
    layer[f"op.{op.name}.cached_rdds_added"] = probe.cached_rdds() - rdds0
    return df


def span_layers(spans: list[dict]) -> dict:
    """Per-layer totals from one traced pass's spans. Nested calls of the
    same layer count once in the inclusive times; operator time is self
    time, so a verb calling another verb is not counted twice."""
    from perfbench.tracing import children_of, outermost, self_time

    kids = children_of(spans)

    def of(layer):
        return [s for s in spans if s["layer"] == layer]

    def dur(ss):
        return sum(s["end"] - s["start"] for s in ss)

    return {
        "build.s": dur(of("build")),
        "exec.s": dur(of("exec")),
        "sources.read_s": dur(outermost(spans, "sources")),
        "sources.read_calls": len(of("sources")),
        "operators.self_s": sum(self_time(s, kids) for s in of("operators")),
        "operators.calls": len(of("operators")),
        "scale.call_s": dur(outermost(spans, "scale")),
        "scale.calls": len(of("scale")),
    }


# ---------------------------------------------------------------------------
# metrics
# ---------------------------------------------------------------------------

def per_layer_units() -> dict[str, str]:
    with open(ROOT / "BENCHMARK.json") as fh:
        spec = json.load(fh)
    return {m["name"]: m["unit"] for m in spec["per_layer"]}


def med(xs):
    return statistics.median(xs) if xs else 0.0


def main(argv=None) -> int:
    from perfbench.workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)

    missing = [p for p in ("datar_polars_spark/__init__.py", "__spark_entry__.py", "BENCHMARK.json")
               if not (ROOT / p).is_file()]
    if missing:
        print(f"perfbench: not a checkout of the package; missing {missing}", file=sys.stderr)
        return 2

    t_run = time.perf_counter()
    cores = local_cores()
    info: dict = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "nproc": os.cpu_count(), "local_n": cores, "shuffle_partitions": SHUFFLE_PARTITIONS,
        "loadavg_start": os.getloadavg(),
    }
    # every file the run writes (Spark local dirs, temp dirs the package
    # creates, the dedup index) stays under this directory
    work = HERE / "work" / f"{args.workload}-{os.getpid()}"
    for sub in ("tmp", "spark-local", "index"):
        (work / sub).mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(work / "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    tempfile.tempdir = str(work / "tmp")

    spark = None
    try:
        from perfbench import gen

        data_dir, params, gen_s, cached = gen.ensure(args.workload, args.seed, HERE / "data")
        info.update(gen_s=gen_s, gen_cached=cached, rows=params["rows"])

        t0 = time.perf_counter()
        import pyspark.sql  # noqa: F401

        import __spark_entry__  # noqa: F401
        import datar_polars_spark  # noqa: F401
        import datar_polars_spark.scale  # noqa: F401
        import_s = time.perf_counter() - t0

        from perfbench import tracing

        wl = WORKLOADS[args.workload]()
        # the first set-up launches the JVM; the others stop the session
        # and start a new SparkContext in the same JVM
        setup = []
        for _ in range(SETUPS):
            if spark is not None:
                spark.stop()
            t0 = time.perf_counter()
            spark = start_session(work, cores)
            wl.register(spark, data_dir)
            setup.append(import_s + time.perf_counter() - t0)
        info.update(import_s=import_s, setup_samples=setup)

        ctx = Context(spark, data_dir, params, work)
        t0 = time.perf_counter()
        wl.prepare(ctx)
        info["prepare_s"] = time.perf_counter() - t0
        ops = wl.ops(ctx)
        tracer = tracing.Tracer() if args.trace else None
        probe = tracing.SparkProbe(spark) if args.trace else None
        patches = tracing.Patches()
        steady, traced, heap, rdds = [], [], [], []

        def traced_pass():
            tracing.TRACER = tracer
            patches.install()
            n0 = len(tracer.spans)
            try:
                p = run_pass(ctx, ops, tracer, probe, tag=f"p{len(traced)}")
            finally:
                patches.remove()
                tracing.TRACER = None
            p["layer"].update(span_layers(tracer.spans[n0:]))
            return p

        def sample_memory():
            heap.append(probe.heap_used_mb())
            rdds.append(probe.cached_rdds())

        with RssMonitor() as rss:
            first = run_pass(ctx, ops)
            local0 = dir_bytes(work)[0]
            t_steady = time.perf_counter()
            # closed loop: passes follow each other until --seconds have
            # passed; a traced run alternates untraced and traced passes
            # and samples JVM memory after each
            min_steady = 1 if args.trace else wl.min_passes
            while len(steady) < min_steady or time.perf_counter() - t_steady < args.seconds:
                steady.append(run_pass(ctx, ops))
                if args.trace:
                    sample_memory()
                    traced.append(traced_pass())
                    sample_memory()
            local_growth = dir_bytes(work)[0] - local0
        peak_rss_mb = rss.peak / 2**20
        bridge = count_pass(ops) if args.trace and args.workload == "olap" else None

        # outputs of the last pass, checked untimed
        all_passes = [first] + steady + traced
        last = (traced or steady)[-1]
        t0 = time.perf_counter()
        checks = wl.check(ctx, {n: df for n, df in last["dfs"].items() if n not in last["errors"]})
        info["check_s"] = time.perf_counter() - t0
        bad_ops = {n for n, (msg, _) in checks.items() if msg is not None}
        attempted = sum(len(p["ops"]) for p in all_passes)
        failed = sum(
            1 for p in all_passes for n in p["ops"] if n in p["errors"] or n in bad_ops
        )
        result_rows = sum(rows for _, rows in checks.values())

        pass_s = med([p["s"] for p in steady])
        op_s = {n: med([p["ops"][n] for p in steady]) for n in first["ops"]}
        info.update(
            first_pass_s=first["s"],
            pass_samples=[p["s"] for p in steady],
            traced_pass_samples=[p["s"] for p in traced],
            op_s=op_s,
            op_first_s=first["ops"],
            errors={i: p["errors"] for i, p in enumerate(all_passes) if p["errors"]},
            checks={n: msg for n, (msg, _) in checks.items()},
            peak_rss_mb=peak_rss_mb,
            loadavg_end=os.getloadavg(),
            run_s=time.perf_counter() - t_run,
        )
        if args.trace:
            metrics = layer_metrics(traced, pass_s, op_s, bridge, heap, rdds, local_growth,
                                    result_rows, failed / attempted)
            units = per_layer_units()
            if set(metrics) != set(units):
                print("perfbench: metric set differs from BENCHMARK.json: "
                      f"{sorted(set(metrics) ^ set(units))}", file=sys.stderr)
                return 3
            out_metrics = {k: {"value": metrics[k], "unit": units[k]} for k in units}
            info["layer_share"] = layer_share(metrics)
            info["memory_after_pass"] = {"heap_mb": heap, "cached_rdds": rdds}
            info["traced_passes"] = [{"s": p["s"], "ops": p["ops"], **p["layer"]} for p in traced]
            if bridge is not None:
                info["bridge_count_op_s"] = bridge["ops"]
        else:
            out_metrics = {
                "setup_s": {"value": med(setup), "unit": "s"},
                "first_pass_s": {"value": first["s"], "unit": "s"},
                "pass_s": {"value": pass_s, "unit": "s"},
                "peak_rss_mb": {"value": peak_rss_mb, "unit": "MB"},
            }
        result = {
            "correct": failed == 0,
            "attempted": attempted,
            "failed": failed,
            "metrics": out_metrics,
        }
        out_dir = HERE / "out"
        out_dir.mkdir(exist_ok=True)
        stem = f"{args.workload}-s{args.seed}-t{args.trace}"
        (out_dir / f"{stem}.json").write_text(
            json.dumps({"info": info, "result": result}, indent=1, default=str))
        if tracer is not None:
            tracer.write(out_dir / f"{stem}.spans.jsonl")
        print(json.dumps({"info": info}, default=str))
        print(json.dumps(result))
        return 0
    finally:
        if spark is not None:
            stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)


def count_pass(ops) -> dict:
    """The olap pass with ``count()`` as the sink: the measure the
    earlier bench.py headline used, kept to bridge its trend."""
    per_op = {}
    t = time.perf_counter()
    for op in ops:
        t0 = time.perf_counter()
        op.build().count()
        per_op[op.name] = time.perf_counter() - t0
    return {"s": time.perf_counter() - t, "ops": per_op}


KERNEL_KEYS = ("kernel_s", "kernel_boot_s", "kernel_init_s", "kernel_bytes_sent",
               "kernel_bytes_received", "kernel_rows")
LAYER_KEYS = (
    "build.s", "build.jobs", "build.job_s", "sources.read_s", "sources.read_calls",
    "operators.self_s", "operators.calls", "scale.call_s", "scale.calls",
    "catalyst.analysis_s", "catalyst.optimization_s", "catalyst.planning_s",
    "exec.s", "exec.jobs", "exec.stages", "exec.tasks", "exec.task_s", "exec.gc_s",
    "exec.scan_s", "exec.scan_rows", "exec.shuffle_write_bytes", "exec.shuffle_read_bytes",
    "exec.fetch_wait_s", "exec.spill_bytes", "exec.peak_mem_bytes",
    "scale.kernel_s", "scale.kernel_boot_s", "scale.kernel_init_s",
    "scale.kernel_bytes_sent", "scale.kernel_bytes_received", "scale.kernel_rows",
    "scale.index_write_bytes", "scale.index_files", "scale.index_read_bytes",
)


def layer_metrics(traced, pass_s, op_s, bridge, heap, rdds, local_growth,
                  result_rows, ops_failed) -> dict:
    """Per-layer metrics: medians over the traced passes, plus per-op
    times and the index op times from the untraced passes."""
    from perfbench.workloads import CURATION, HEADLINE

    m = {k: med([p["layer"].get(k, 0) for p in traced]) for k in LAYER_KEYS}
    m["trace.overhead_s"] = med([p["s"] for p in traced]) - pass_s
    m["bridge.count_pass_s"] = bridge["s"] if bridge else 0.0
    m["exec.result_rows"] = result_rows
    m["exec.scan_rows_per_result_row"] = m["exec.scan_rows"] / result_rows if result_rows else 0.0
    m["scale.index_build_s"] = op_s.get("dedup_index_build", 0.0)
    m["scale.index_match_s"] = op_s.get("dedup_against_index", 0.0)
    m["mem.heap_used_mb"] = heap[-1]
    m["mem.heap_growth_mb_per_pass"] = (heap[-1] - heap[0]) / (len(heap) - 1) if len(heap) > 1 else 0.0
    m["mem.cached_rdds"] = rdds[-1]
    m["mem.local_dir_growth_bytes"] = local_growth
    m["ops_failed"] = ops_failed
    for n in HEADLINE + CURATION:
        m[f"op.{n}.s"] = op_s.get(n, 0.0)
    return {k: float(v) for k, v in m.items()}


def layer_share(m: dict) -> dict:
    """Shares of the traced pass time spent in plan build, Catalyst
    (optimization + planning) and JVM execution, and the Python-worker
    share of task time."""
    cat = m["catalyst.optimization_s"] + m["catalyst.planning_s"]
    total = m["build.s"] + cat + m["exec.s"]
    return {
        "build": m["build.s"] / total if total else 0.0,
        "catalyst": cat / total if total else 0.0,
        "exec": m["exec.s"] / total if total else 0.0,
        "kernel_of_task_time": m["scale.kernel_s"] / m["exec.task_s"] if m["exec.task_s"] else 0.0,
    }


if __name__ == "__main__":
    sys.path.insert(0, str(ROOT))
    sys.exit(main())

"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload graph_loops --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. Each invocation is one fresh process with
one fresh Spark session at ``local[nproc]``. The last stdout line is the
result object ``{"correct", "attempted", "failed", "metrics"}``: end-to-end
metrics with ``--trace 0``, per-layer metrics with ``--trace 1``. The lines
before it name every metric with its unit, and the run's environment. See
``perfbench/README.md`` for the workloads and metric definitions.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import platform
import shutil
import subprocess
import sys
import tempfile
import time
from pathlib import Path

import tracing
from rest import RestClient

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
DATA = HERE / "data"
OUT = ROOT / ".perfbench"
WORKLOADS = ("graph_loops", "ml_batch")
#: input loads per run; setup_s is the median over the setups they give
SETUPS = 3

#: the bounded end-to-end metrics of ``BENCHMARK.json``
END_TO_END = {"setup_s": "s", "pass_cpu_s": "s", "peak_rss_mb": "MB"}
#: wall-clock end-to-end metrics, printed but not bounded: on a shared host
#: they track the hypervisor's steal (see README)
WALL = {"setup_wall_s": "s", "pass_s": "s", "jobs_per_s": "1/s", "latency_p50_s": "s"}

_SPARK = ["spark.jobs", "spark.stages", "spark.tasks", "spark.sql_executions",
          "spark.in_jobs_s", "spark.between_jobs_s", "spark.jobs_overlap_avg",
          "spark.slot_util", "spark.executor_run_s", "spark.executor_cpu_s", "spark.gc_s",
          "spark.shuffle_read_bytes", "spark.shuffle_write_bytes", "spark.input_bytes",
          "spark.spill_bytes", "spark.storage_peak_bytes",
          "python.sent_bytes", "python.returned_bytes", "python.run_s", "python.start_s"]
GRAPH_OPS = ["pagerank5", "sssp", "rest_wcc"]
ML_OPS = ["tfidf", "sp_degrees", "pregel_lcc", "stream_cc"]
#: every per-layer metric -> unit; a workload reports 0 for layers it does not touch
PER_LAYER = {
    "datasets.load_s": "s", "setup.warmup_s": "s",
    "library.pagerank5_s": "s", "library.sssp_s": "s",
    "loop.rounds": "count", "loop.round_s_p50": "s", "loop.checkpoint_s": "s",
    "loop.sized_cache_s": "s", "loop.conf_tunes": "count",
    "pregel.lcc_s": "s", "pregel.supersteps": "count", "pregel.superstep_s": "s",
    "pipeline.tfidf_s": "s", "graph.sp_degrees_s": "s", "streaming.cc_fold_s": "s",
    "service.pass_s": "s",
    **{f"service.{h}_s": "s" for h in ["import", "prepare", "configure", "run", "state",
                                        "halt", "result", "delete"]},
    "service.polls_per_job": "count", "service.wcc.latency_p50_s": "s",
    "service.conf_drift_keys": "count",
    **{m: ("bytes" if m.endswith("_bytes") else "count" if m in
           ("spark.jobs", "spark.stages", "spark.tasks", "spark.sql_executions")
           else "ratio" if m in ("spark.jobs_overlap_avg", "spark.slot_util") else "s")
       for m in _SPARK},
    **{f"{o}.{k}": u for o in GRAPH_OPS + ML_OPS
       for k, u in (("jobs", "count"), ("between_jobs_s", "s"))},
    "trace.overhead_s": "s",
}


def process_start_epoch() -> float:
    """Wall-clock time this process started, from /proc."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return time.time() - (uptime - start_ticks / os.sysconf("SC_CLK_TCK"))


def ram_bytes() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) * 1024
    return 0


def build_session(work: Path, nproc: int, driver_mem_gb: int):
    from pyspark.sql import SparkSession

    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p)
    os.environ["TMPDIR"] = tempfile.tempdir = str(work)
    # for spark-submit's launcher JVM and the driver JVM alike: temp files
    # under the work dir and no hsperfdata file in /tmp, so the run writes
    # only inside its checkout
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={work} -XX:-UsePerfData"
    spark = (
        SparkSession.builder.master(f"local[{nproc}]")
        .appName("perfbench")
        .config("spark.sql.shuffle.partitions", str(nproc))
        .config("spark.default.parallelism", str(nproc))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.driver.memory", f"{driver_mem_gb}g")
        .config("spark.local.dir", str(work / "local"))
        .config("spark.sql.warehouse.dir", str(work / "warehouse"))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # keep every job, stage and SQL execution of a run in the status store
        .config("spark.ui.retainedJobs", "100000")
        .config("spark.ui.retainedStages", "100000")
        .config("spark.sql.ui.retainedExecutions", "100000")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def environment(spark, args, nproc: int, driver_mem_gb: int) -> dict:
    import numpy
    import pyarrow
    import pyspark
    import pyarrow.parquet as pq

    try:
        blas = numpy.show_config(mode="dicts")["Build Dependencies"]["blas"]
        blas = f"{blas.get('name')} {blas.get('version')}"
    except Exception:  # numpy builds without the dict form
        blas = "unknown"
    try:
        commit = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                                text=True, timeout=10).stdout.strip() or "unknown"
    except OSError:
        commit = "unknown"
    tables = {}
    for p in sorted((DATA / "sf0.01").glob("*.parquet")):
        tables[p.stem] = {"rows": pq.ParquetFile(p).metadata.num_rows, "bytes": p.stat().st_size}
    return {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "nproc": nproc, "ram_bytes": ram_bytes(),
        "driver_memory": f"{driver_mem_gb}g", "python": platform.python_version(),
        "pyspark": pyspark.__version__, "pyarrow": pyarrow.__version__,
        "numpy": numpy.__version__, "numpy_blas": blas, "git_commit": commit,
        "inputs": tables,
    }


def geomean(xs) -> float:
    xs = [x for x in xs if x > 0]
    return math.exp(sum(math.log(x) for x in xs) / len(xs)) if xs else 0.0


# ---------------------------------------------------------------------------
# batch workloads
# ---------------------------------------------------------------------------

def stamp() -> tuple[float, float]:
    """(wall, CPU) seconds now; CPU is the process tree's user + system time."""
    return time.time(), tracing.tree_cpu_s(os.getpid())


def since(t0: tuple[float, float]) -> tuple[float, float]:
    t1 = stamp()
    return t1[0] - t0[0], t1[1] - t0[1]


def run_batch(spark, args, tracer, session: tuple, nproc: int, work: Path) -> dict:
    """``session`` is the (wall, CPU) seconds from process start to session ready."""
    import batch
    import checks

    workload = args.workload
    loads, inputs = [], None
    t = stamp()
    source = batch.pick_source(spark, str(DATA), args.seed) if workload == "graph_loops" else None
    prep = since(t)
    for _ in range(SETUPS):
        for df in (inputs or {}).get("cached", []):
            df.unpersist(blocking=True)
        t = stamp()
        with tracer.span("setup.load", trace_id="setup"):
            inputs = batch.load_inputs(spark, workload, str(DATA), nproc, work)
        loads.append(since(t))

    rest = None
    if workload == "graph_loops":
        t = stamp()
        rest = RestClient(spark, work, inputs["edges_file"], nproc, tracer)
        prep = tuple(a + b for a, b in zip(prep, since(t)))
    oracle = checks.Oracle(str(DATA / batch.SF))
    try:
        t = stamp()
        if workload == "graph_loops":
            with tracer.span("setup.warmup", trace_id="setup"):
                batch.warm_up(inputs)
            ops = batch.graph_loops_ops(spark, inputs, oracle, rest, source)
        else:
            ops = batch.ml_batch_ops(spark, inputs, oracle, str(DATA))
        warm = since(t)
        setups = [tuple(sum(x) for x in zip(session, prep, lo, warm)) for lo in loads]
        return measure(spark, args, tracer, nproc, ops, rest, setups,
                       [lo[0] for lo in loads], warm[0], session[0])
    finally:
        if rest is not None:
            rest.close()


def measure(spark, args, tracer, nproc, ops, rest, setups, loads, warm_s, session_s) -> dict:
    import batch

    sc = spark.sparkContext
    workload = args.workload

    walls = {op.name: [] for op in ops}
    windows = {op.name: [] for op in ops}
    sums: dict[str, set] = {op.name: set() for op in ops}
    kept, errors, passes = {}, {}, []
    attempted = failed = 0
    status = tracing.SparkStatus(spark) if args.trace else None
    sampler = tracing.StorageSampler(status).start() if status else None
    t_begin = time.time()
    host0 = tracing.host_cpu_ticks()
    cpu = []
    try:
        while True:
            c0 = tracing.tree_cpu_s(os.getpid())
            p0 = time.time()
            for op in ops:
                attempted += 1
                sc.setJobGroup(op.name, f"perfbench/{workload}/{op.name}")
                t0 = time.time()
                try:
                    with tracer.span(f"op.{op.name}", trace_id=f"pass{len(passes)}"):
                        n, h, out = batch.checksum(op.call())
                except Exception as e:  # a failing op is counted, the run goes on
                    failed += 1
                    errors.setdefault(op.name, f"{type(e).__name__}: {e}"[:500])
                    continue
                t1 = time.time()
                walls[op.name].append(t1 - t0)
                windows[op.name].append((t0, t1))
                sums[op.name].add((n, h))
                kept[op.name] = out
            passes.append(time.time() - p0)
            cpu.append(tracing.tree_cpu_s(os.getpid()) - c0)
            if time.time() - t_begin >= args.seconds:
                break
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        if sampler:
            sampler.stop()
    t_end = time.time()
    host = [b - a for a, b in zip(host0, tracing.host_cpu_ticks())]

    # output checks, outside the timers
    for op in ops:
        if op.name not in kept:
            continue
        err = None
        if len(sums[op.name]) > 1:
            err = f"passes disagree: {sorted(sums[op.name])}"
        else:
            try:
                err = op.check(kept[op.name])
            except Exception as e:
                err = f"check raised {type(e).__name__}: {e}"[:500]
        if err:
            errors.setdefault(op.name, err)
            failed += len(walls[op.name])

    ok_ops = attempted - failed
    result = {
        "attempted": attempted, "failed": failed, "errors": errors,
        "e2e": {
            "setup_s": tracing.median(c for _, c in setups),
            "setup_wall_s": tracing.median(w for w, _ in setups),
            "pass_s": tracing.median(passes),
            "pass_cpu_s": tracing.median(cpu),
            "jobs_per_s": ok_ops / (t_end - t_begin),
            "latency_p50_s": geomean(tracing.median(w) for w in walls.values() if w),
        },
        "detail": {"passes": len(passes), "pass_walls": passes, "pass_cpu_s": cpu,
                   "setups": setups, "op_walls": walls, "session_s": session_s,
                   "host_steal_pct": 100 * host[7] / max(1, sum(host))},
    }
    if args.trace:
        layer = {
            "datasets.load_s": tracing.median(loads),
            "setup.warmup_s": warm_s,
        }
        for op in ops:
            layer[op.layer_metric] = tracing.median(walls[op.name])
        layer.update(loop_metrics(tracer, len(passes)))
        jobs, stages, execs = status.jobs(), status.stages(), status.executions()
        sm = tracing.spark_window_metrics(jobs, stages, execs, t_begin, t_end, nproc)
        layer.update({k: v / len(passes) for k, v in sm.items()
                      if k not in ("spark.jobs_overlap_avg", "spark.slot_util")})
        layer["spark.jobs_overlap_avg"] = sm["spark.jobs_overlap_avg"]
        layer["spark.slot_util"] = sm["spark.slot_util"]
        layer["spark.storage_peak_bytes"] = sampler.peak
        for op in ops:
            n_jobs = [tracing.job_window(jobs, a, b) for a, b in windows[op.name]]
            layer[f"{op.name}.jobs"] = tracing.median(j for j, _ in n_jobs)
            layer[f"{op.name}.between_jobs_s"] = tracing.median(g for _, g in n_jobs)
        if rest is not None:
            for name, walls_ in rest.calls.items():
                layer[f"service.{name}_s"] = tracing.median(walls_)
            layer["service.polls_per_job"] = tracing.median(rest.polls)
            layer["service.wcc.latency_p50_s"] = tracing.median(rest.latencies)
            layer["service.conf_drift_keys"] = rest.conf_drift_keys()
        result["layer"] = layer
    return result


def loop_metrics(tracer, passes: int) -> dict:
    """Loop-engine and Pregel figures from the layer spans, per pass."""
    selfs = tracer.self_times()
    by = {}
    for s in tracer.spans:
        if s.trace_id != "setup":
            by.setdefault(s.name, []).append(s)
    advance = by.get("loop.advance", [])
    pregel = by.get("pregel", [])
    steps = sum(s.attrs.get("supersteps", 0) for s in pregel)
    passes = max(passes, 1)
    return {
        "loop.rounds": (len(advance) + len(by.get("loop.chain", []))) / passes,
        "loop.round_s_p50": tracing.median(s.dur for s in advance),
        "loop.checkpoint_s": sum(selfs[s.span_id] for k in
                                 ("loop.eager_checkpoint", "loop.lazy_checkpoint")
                                 for s in by.get(k, [])) / passes,
        "loop.sized_cache_s": sum(selfs[s.span_id] for s in by.get("loop.sized_cache", []))
        / passes,
        "loop.conf_tunes": len(by.get("loop.conf_tune", [])) / passes,
        "pregel.supersteps": steps / passes,
        "pregel.superstep_s": sum(s.dur for s in pregel) / steps if steps else 0.0,
    }


# ---------------------------------------------------------------------------

def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, default=0)
    p.add_argument("--seconds", type=float, default=10)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    t_proc = process_start_epoch()
    sys.path.insert(0, str(ROOT))
    try:
        import kafka_graphs_spark  # noqa: F401  (the program under test)
        import __spark_entry__  # noqa: F401  (its DuckDB twins)
    except ImportError as e:
        print(f"perfbench: cannot import the program from {ROOT}: {e}", file=sys.stderr)
        return 2
    if not (DATA / "sf0.01" / "events.parquet").exists():
        print(f"perfbench: input tables missing under {DATA}", file=sys.stderr)
        return 2

    nproc = os.cpu_count() or 1
    driver_mem_gb = max(1, min(8, ram_bytes() // (4 << 30)))
    OUT.mkdir(exist_ok=True)
    work = OUT / f"work-{os.getpid()}"
    (work / "local").mkdir(parents=True, exist_ok=True)
    tracer = tracing.Tracer(enabled=bool(args.trace))
    spark = None
    try:
        spark = build_session(work, nproc, driver_mem_gb)
        session = (time.time() - t_proc, tracing.tree_cpu_s(os.getpid()))
        if args.trace:
            tracing.install_wrappers(tracer)
        res = run_batch(spark, args, tracer, session, nproc, work)
        res["e2e"]["peak_rss_mb"] = tracing.tree_hwm_mb(os.getpid())
        env = environment(spark, args, nproc, driver_mem_gb)
    finally:
        try:
            if spark is not None:
                spark.stop()
        finally:
            stop_processes()
            shutil.rmtree(work, ignore_errors=True)
    return report(args, res, env, tracer)


def stop_processes(timeout: float = 30.0) -> None:
    """Stop the Spark JVM and every other process under this one, and wait
    for each to end. PySpark leaves its JVM running after ``spark.stop()``;
    the JVM only exits once it reads EOF on its stdin, which would otherwise
    happen after this process has exited."""
    import signal

    from pyspark import SparkContext

    procs = tracing.descendants(os.getpid())
    gateway = SparkContext._gateway
    jvm = getattr(gateway, "proc", None)
    if jvm is not None:
        try:
            # py4j's connections closed first, so objects freed at exit send nothing
            gateway.shutdown()
        except Exception:  # a JVM that does not answer is killed below
            pass
        try:
            jvm.stdin.close()
            jvm.wait(timeout)
        except (OSError, subprocess.TimeoutExpired):
            jvm.kill()
            jvm.wait()
    SparkContext._gateway = SparkContext._jvm = None
    # the Python daemon and its workers end once the JVM's pipe to them closes
    for sig in (signal.SIGTERM, signal.SIGKILL):
        procs = tracing.wait_ended(procs, timeout if sig == signal.SIGTERM else 10.0)
        for pid, _ in procs:
            try:
                os.kill(pid, sig)
            except OSError:
                pass
    if tracing.wait_ended(procs, 10.0):
        print("perfbench: processes still running after shutdown", file=sys.stderr)


def report(args, res: dict, env: dict, tracer) -> int:
    stamp = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    history = OUT / f"untraced-{args.workload}.jsonl"
    if args.trace:
        tracer.write(str(OUT / f"spans-{stamp}.jsonl"))
        layer = dict.fromkeys(PER_LAYER, 0.0)
        layer.update(res["layer"])
        past = []
        if history.exists():
            past = [json.loads(line)["e2e"] for line in history.read_text().splitlines() if line]
        if past:
            layer["trace.overhead_s"] = res["e2e"]["pass_s"] - tracing.median(
                p["pass_s"] for p in past)
        metrics = {k: {"value": layer[k], "unit": PER_LAYER[k]} for k in PER_LAYER}
    else:
        with history.open("a") as f:
            f.write(json.dumps({"seed": args.seed, "e2e": res["e2e"]}) + "\n")
        metrics = {k: {"value": res["e2e"][k], "unit": u} for k, u in END_TO_END.items()}
    record = {"env": env, "attempted": res["attempted"], "failed": res["failed"],
              "errors": res["errors"], "e2e": res["e2e"], "detail": res["detail"],
              "layer": res.get("layer")}
    (OUT / f"result-{stamp}.json").write_text(json.dumps(record, indent=1, default=str))

    print("env " + json.dumps(env, sort_keys=True))
    # hypervisor steal during the timed window: the main source of run-to-run
    # spread on a shared host (see README)
    print(f"host_steal_pct = {res['detail']['host_steal_pct']:.3g} %")
    for name, err in sorted(res["errors"].items()):
        print(f"FAILED {name}: {err}")
    ratio = res["failed"] / res["attempted"] if res["attempted"] else 1.0
    for k, m in list(metrics.items()) + [("ops_failed_ratio", {"value": ratio, "unit": "ratio"})]:
        print(f"{k} = {m['value']:.6g} {m['unit']}")
    if not args.trace:
        for k, u in WALL.items():
            print(f"{k} = {res['e2e'][k]:.6g} {u} (not bounded)")
    print(json.dumps({
        "correct": res["failed"] == 0 and res["attempted"] > 0,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())

"""Benchmark for the daily-charts engine: one closed-loop client, one process.

Usage, from the repository root:

    python3 perfbench/run.py --workload chart_day --seed 1 --seconds 10 --trace 0

``--workload`` is ``chart_day`` or ``faces`` (see perfbench/README.md).
The run starts one Spark session on ``local[<cpus>]``, builds the
workload's inputs from ``--seed``, then runs operations back to back,
timing each, until at least ``--seconds`` of operation time have passed
and a whole group of operations is done.
Each operation's output is checked against an independent reference
outside the timed region. The last line of standard output is one JSON
object: ``correct``, ``attempted``, ``failed`` and ``metrics``. With
``--trace 0`` the metrics are the end-to-end metrics listed in
BENCHMARK.json; with ``--trace 1`` the run records spans around the
calls into each engine layer, enables the Spark event log, and the
metrics are the per-layer counters.

All scratch state (Spark local dirs, temp files, catalogs, inputs, the
event log) lives under ``.perfbench_work/`` in the repository root and is
deleted at exit. Without the engine next to this directory the run exits
with status 2 and prints no result.
"""

from __future__ import annotations

import time

T0 = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import resource  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import traceback  # noqa: E402

from spans import Tracer, WriteMeter, event_log_file, status_counts  # noqa: E402
from workloads import FACES, WORKLOADS  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
#: driver heap: it starts at HEAP_FLOOR (-Xms), so that collection work does
#: not depend on when the collector chose to grow the heap, and may grow to
#: DRIVER_MEM when what the session keeps does not fit
HEAP_FLOOR = "2g"
DRIVER_MEM = "4g"
#: stop starting operations past this point, whatever --seconds says
HARD_STOP_S = 140.0


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    sys.path.insert(0, ROOT)
    try:
        import __spark_entry__  # noqa: F401
        import daily_top_songs_etl_spark.pipeline  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: the engine is not importable from {ROOT}: {exc}", file=sys.stderr)
        return 2
    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    os.makedirs(work)
    try:
        result = run(args, spec, work, WORKLOADS[args.workload])
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:  # another run is still using it
            pass
    print(json.dumps(result), flush=True)
    return 0


def start_session(work: str, trace: bool):
    """Size the session from outside the engine and keep its files in ``work``."""
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    for d in (tmp, local):
        os.makedirs(d)
    os.environ["TMPDIR"] = tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    conf = {
        "spark.driver.extraJavaOptions": f"-XX:ReservedCodeCacheSize=512m -Xms{HEAP_FLOOR} -Djava.io.tmpdir={tmp}",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        log_dir = os.path.join(work, "eventlog")
        os.makedirs(log_dir)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + log_dir,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    from daily_top_songs_etl_spark.session import get_spark

    spark = get_spark(app_name="perfbench", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def warm_up(spark, arrow: bool) -> None:
    """First job and codegen, and the Arrow Python runner if the workload
    uses it, paid once per session."""
    spark.range(1000).selectExpr("sum(id)").collect()
    if not arrow:
        return

    def identity(batches):
        yield from batches

    spark.range(1024).repartition(spark.sparkContext.defaultParallelism).mapInPandas(
        identity, "id long"
    ).write.mode("overwrite").format("noop").save()


def install_spans(tracer, meter_root: str, modules) -> None:
    """Record a span around every call into the layers the ops reach
    indirectly; the ops open spans for the layers they call themselves.
    Every public function of each engine module in ``modules`` becomes a
    span named after the module."""
    import importlib
    import inspect

    from daily_top_songs_etl_spark import pipeline
    from daily_top_songs_etl_spark.catalog import Catalog

    for layer in modules:
        mod = importlib.import_module(f"daily_top_songs_etl_spark.{layer}")
        for attr, fn in vars(mod).copy().items():
            if inspect.isfunction(fn) and fn.__module__ == mod.__name__ and not attr.startswith("_"):
                tracer.wrap(mod, attr, layer)
    tracer.wrap(pipeline, "maintain", "operators.maintain")
    tracer.wrap(pipeline, "write_csv_mirror", "sources.sinks")
    tracer.wrap(Catalog, "read", "catalog.read")
    tracer.wrap(Catalog, "stage_partition_delta", "catalog.stage_partition_delta")
    meter = WriteMeter(meter_root)
    commit = Catalog.commit_tables

    def commit_tables(self, *args, **kwargs):
        with tracer.span("catalog.commit_tables"):
            out = commit(self, *args, **kwargs)
        with tracer.untimed():  # the walk is not the caller's time
            written, linked, nbytes = meter.delta()
        tracer.extra["catalog.commit_tables.files_written"] += written
        tracer.extra["catalog.commit_tables.files_linked"] += linked
        tracer.extra["catalog.commit_tables.bytes_written"] += nbytes
        return out

    Catalog.commit_tables = commit_tables


def pin_stats(sc) -> tuple[int, int]:
    """(live pinned RDDs, bytes they hold in memory and on disk)."""
    live = len(sc._jsc.getPersistentRDDs())
    held = sum(i.memSize() + i.diskSize() for i in sc._jsc.sc().getRDDStorageInfo())
    return live, held


def peak_rss_mb(sc) -> float:
    jvm_pid = sc._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{jvm_pid}/status") as f:
        jvm_kb = next(int(line.split()[1]) for line in f if line.startswith("VmHWM:"))
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    return (jvm_kb + py_kb) / 1024.0


def tree_cpu_s() -> float:
    """CPU seconds used so far by this process and every process under it
    (the driver JVM and the Python workers it starts), including children
    that have already exited and been waited for."""
    parent, cpu = {}, {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:  # exited while listing
            continue
        pid = int(name)
        parent[pid] = int(fields[1])
        cpu[pid] = sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    me = os.getpid()
    total = 0
    for pid, ticks in cpu.items():
        p = pid
        while p not in (me, 0, 1) and p in parent:
            p = parent[p]
        if p == me:
            total += ticks
    return total / os.sysconf("SC_CLK_TCK")


def stop_session(spark) -> None:
    """Stop Spark, the catalog's deletion thread and the JVM, and wait for them."""
    from pyspark import SparkContext

    from daily_top_songs_etl_spark.catalog import flush_trash

    gateway = SparkContext._gateway
    spark.stop()
    flush_trash(shutdown=True)
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 - a JVM that will not exit is killed
            proc.kill()
            proc.wait()


def run(args, spec: dict, work: str, workload_cls) -> dict:
    spark = start_session(work, bool(args.trace))
    try:
        out = measure(args, spark, work, workload_cls)
    finally:
        stop_session(spark)
    e2e, summary, tracer, selftest, pins = out
    errors = summary["errors"]
    summary["end_to_end"] = e2e
    if summary["warm_error"]:
        errors.append(f"set-up: {summary['warm_error']}")
    if tracer:
        layers = tracer.layers(event_log_file(os.path.join(work, "eventlog")))
        st = layers.get("selftest", {})
        if (st.get("jobs"), st.get("tasks")) != tuple(float(x) for x in selftest):
            errors.append(f"event-log self-test: log says {st.get('jobs')} jobs/{st.get('tasks')} tasks, "
                          f"status tracker says {selftest[0]}/{selftest[1]}")
        layers["pins"] = {"live_rdds": max(p[0] for p in pins), "pinned_bytes": max(p[1] for p in pins)}
        summary["selftest_jobs_tasks"] = list(selftest)
        summary["layers"] = {k: {c: round(v, 4) for c, v in row.items() if v} for k, row in sorted(layers.items())}
        metrics = {}
        for m in spec["per_layer"]:
            layer, counter = m["name"].rsplit(".", 1)
            metrics[m["name"]] = {"value": float(layers.get(layer, {}).get(counter, 0.0)), "unit": m["unit"]}
    else:
        metrics = {m["name"]: {"value": e2e[m["name"]], "unit": m["unit"]} for m in spec["end_to_end"]}
    print(json.dumps(summary), flush=True)
    return {"correct": not errors, "attempted": summary["ops"], "failed": summary["failed"], "metrics": metrics}


def measure(args, spark, work: str, workload_cls):
    """Set up, then run and check the ops; returns the end-to-end numbers,
    the run summary, and for a traced run the tracer, the self-test's
    status-tracker counts and the pin samples."""
    sc = spark.sparkContext
    tracer = None
    if args.trace:
        tracer = Tracer(sc)
    warm_up(spark, arrow=workload_cls.name == "faces")
    session_s = time.perf_counter() - T0
    wl = workload_cls(spark, work, args.seed, tracer)
    t = time.perf_counter()
    wl.setup()
    prep_s = time.perf_counter() - t
    t = time.perf_counter()
    warm_error = wl.warm()
    warm_s = time.perf_counter() - t

    selftest = None
    if tracer:
        from pyspark.sql import functions as F

        install_spans(tracer, wl.meter_root(), sorted(set(FACES.values()) - {"entry.sql"}))
        tracer.active = True
        with tracer.span("selftest") as rec:
            spark.range(0, 10_000, 1, 4).groupBy((F.col("id") % 7).alias("k")).count().collect()
        tracer.active = False
        selftest = status_counts(sc, rec["id"])

    latencies, errors, pins = [], [], []  # errors: one per failed op
    timed = cpu = 0.0
    for i, (label, op) in enumerate(wl.ops()):
        if i and i % wl.pass_len == 0 and (timed >= args.seconds or time.perf_counter() - T0 > HARD_STOP_S):
            break
        err = None
        cpu0 = tree_cpu_s()
        t = time.perf_counter()
        try:
            if tracer:
                tracer.active = True
                with tracer.span("op"):
                    op()
            else:
                op()
        except Exception as exc:  # noqa: BLE001 - a failed op is counted, the run goes on
            err = f"{label}: {type(exc).__name__}: {exc}"
            traceback.print_exc()
        finally:
            if tracer:
                tracer.active = False
        dt_s = time.perf_counter() - t
        cpu += tree_cpu_s() - cpu0
        timed += dt_s
        latencies.append(dt_s)
        if err is None:
            try:
                err = wl.check(i)
            except Exception as exc:  # noqa: BLE001
                err = f"{label}: check raised {type(exc).__name__}: {exc}"
                traceback.print_exc()
        wl.results.pop(i, None)
        if err:
            errors.append(err)
        if tracer:
            pins.append(pin_stats(sc))
        wl.after_op()
        print(f"perfbench: op {i} {label} {dt_s:.3f}s{' ERROR ' + err if err else ''}", file=sys.stderr, flush=True)

    e2e = {
        "op_p50_s": statistics.median(latencies),
        "op_p90_s": statistics.quantiles(latencies, n=10, method="inclusive")[8],
        "ops_per_min": 60.0 * len(latencies) / timed,
        "cpu_s_per_op": cpu / len(latencies),
        "peak_rss_mb": peak_rss_mb(sc),
        "setup_s": session_s + prep_s + warm_s,
    }
    summary = {
        "workload": wl.name, "seed": args.seed, "ops": len(latencies), "failed": len(errors),
        "op_latencies_s": [round(x, 4) for x in latencies], "prep_s": round(prep_s, 4),
        "session_s": round(session_s, 4), "warm_s": round(warm_s, 4), "warm_error": warm_error,
        "errors": errors,
    }
    return e2e, summary, tracer, selftest, pins


if __name__ == "__main__":
    sys.exit(main())

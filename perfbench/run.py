#!/usr/bin/env python3
"""The repository benchmark: run one seeded workload and print its metrics.

    python3 perfbench/run.py --workload dedup_daily --seed 1 --seconds 10 --trace 0

Load model: one client in a closed loop, one op at a time, on Spark
``local[<nproc>]``. A run is:

1. inputs: the seed's key-hash sample of ``perfbench/base`` and the
   DuckDB references for it (both cached per seed, outside every metric);
2. set-up, ``SETUPS`` times: start the engine's session and scan the
   workload's tables once (``setup_s`` is the median). Only the first set-up
   launches the JVM; the others stop the session and build a new
   SparkContext and session in that JVM, so ``setup_s`` leaves out the JVM
   launch and launch-time settings such as ``spark.driver.memory``. A cold
   launch plus scan costs about 11 s on a 4-CPU host, too much to repeat
   within a run's time budget; its time is the artifact's ``setups_s[0]``;
3. a check pass: every op once, its result collected and compared with the
   reference (this also warms the JIT; it is not timed);
4. timed passes over the op list until ``--seconds`` have passed and at
   least the workload's ``min_passes`` are done. One op is the registry
   call plus a ``noop`` write that forces the result; the session cache is
   cleared and any table the op created is dropped between ops.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` wraps the layer
functions in spans, turns on Spark's event log and prints the per-layer
metrics instead. Every run also writes a JSON artifact (host stamps, samples,
spans) under ``.perfbench_work/artifacts``. The last stdout line is
``{"correct", "attempted", "failed", "metrics"}``.
"""

from __future__ import annotations

import argparse
import gc
import glob
import json
import math
import os
import shutil
import statistics
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
sys.path.insert(0, HERE)

import host  # noqa: E402
from inputs import seeded_inputs  # noqa: E402
from make_base import BASE_DIR  # noqa: E402
from reference import References, mismatch  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

SETUPS = 3
END_TO_END = ("setup_s", "pass_s", "op_p50_s", "op_tail_s", "pass_cpu_s", "op_ok_ratio")


def unit_of(metric: str) -> str:
    if metric.endswith("_ratio"):
        return "ratio"
    if metric.endswith("_s"):
        return "s"
    if "bytes" in metric:
        return "bytes"
    return "count"


def tail(values: list[float]) -> tuple[int, float]:
    """The highest whole percentile with at least 10 samples above it
    (nearest rank). Below 20 samples that percentile would fall under the
    median, so the tail is then the maximum."""
    n = len(values)
    pct = math.floor(100 * (n - 10) / n) if n >= 20 else 100
    rank = max(1, math.ceil(pct / 100 * n))
    return pct, sorted(values)[rank - 1]


def reset_session_cache(spark) -> None:
    """Drop cached frames and persisted RDD blocks between ops."""
    spark.catalog.clearCache()
    gc.collect()
    for rdd in list(spark.sparkContext._jsc.getPersistentRDDs().values()):
        rdd.unpersist()


def table_names(spark) -> set[str]:
    return {t.name for t in spark.catalog.listTables()}


def drop_new_tables(spark, before: set[str]) -> None:
    for name in table_names(spark) - before:
        spark.sql(f"DROP TABLE IF EXISTS `{name}`")


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n", 1)[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--base", default=BASE_DIR,
                   help="directory of base tables the seed samples (default: the snapshot)")
    return p.parse_args(argv)


def stop_engine(spark) -> None:
    """Stop the session and the JVM behind it, and wait for them to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    pids = host.tree(proc.pid) if proc is not None else []
    spark.stop()
    if proc is None:
        return
    # Disconnect first, so py4j's finalizer thread stops sending to the JVM
    # before it exits; the gateway JVM exits when its stdin closes.
    gateway.shutdown()
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except Exception:
        proc.kill()
        proc.wait()
    deadline = time.time() + 30
    while time.time() < deadline and any(os.path.exists(f"/proc/{p}") for p in pids[1:]):
        time.sleep(0.1)
    SparkContext._gateway = None
    SparkContext._jvm = None


def main(argv=None) -> int:
    args = parse_args(argv)
    t_start = time.perf_counter()
    phases = {}
    load_1m = os.getloadavg()[0]
    calib = host.calib_sec()
    sys.path.insert(0, ROOT)
    try:
        from bigdatafraude_ml_graphx_spark import catalog, registry, session
    except ImportError as exc:
        print(f"perfbench: cannot import the engine package from {ROOT}: {exc}",
              file=sys.stderr)
        return 2
    workload = WORKLOADS[args.workload]
    missing = [op for op in workload.ops if op not in registry.QUERIES]
    if missing:
        print(f"perfbench: ops missing from the registry: {missing}", file=sys.stderr)
        return 2
    tracer = None
    if args.trace:
        import spans

        tracer = spans.Tracer()
        spans.install(tracer)  # before any work: a missing layer function fails fast
    if load_1m >= 1:
        print(f"perfbench: WARNING 1-minute load at start is {load_1m:.2f} (>= 1); "
              "timings may be inflated", file=sys.stderr)

    sf_dir = seeded_inputs(WORK, args.seed, args.base)
    refs = References(sf_dir, registry.ORACLE,
                      os.path.join(WORK, "ref", os.path.basename(sf_dir)))
    expected = {op: refs.get(op) for op in workload.ops}
    closures = {op: stats for op in workload.ops if (stats := refs.closure_stats(op))}
    refs.close()
    phases["inputs_done"] = time.perf_counter() - t_start

    cores = host.nproc()
    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    for sub in ("warehouse", "local", "tmp", "eventlog"):
        os.makedirs(os.path.join(run_dir, sub), exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "local")
    tempfile.tempdir = os.path.join(run_dir, "tmp")
    # For every JVM the session starts, the launcher included: temp files go
    # under the run dir, and -XX:-UsePerfData stops /tmp/hsperfdata_<user>.
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(filter(None, (
        os.environ.get("JAVA_TOOL_OPTIONS"),
        f"-Djava.io.tmpdir={tempfile.tempdir} -XX:-UsePerfData")))
    conf = {
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        "spark.local.dir": os.path.join(run_dir, "local"),
        "spark.ui.showConsoleProgress": "false",
    }
    if args.trace:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": os.path.join(run_dir, "eventlog"),
            "spark.eventLog.compress": "false",
        })

    spark = None
    try:
        setups = []
        for i in range(SETUPS):
            t0 = time.perf_counter()
            spark = session.get_spark(app_name="perfbench", master=f"local[{cores}]",
                                      extra_conf=conf)
            for table in workload.tables:
                catalog.load_table(spark, sf_dir, table).write.format("noop").mode(
                    "overwrite").save()
            setups.append(time.perf_counter() - t0)
            if i < SETUPS - 1:
                spark.stop()
        spark.sparkContext.setLogLevel("ERROR")
        phases["setup_done"] = time.perf_counter() - t_start
        result = measure(spark, registry, workload, sf_dir, expected, args, tracer)
        result["setups_s"] = setups
        result["metrics"]["setup_s"] = statistics.median(setups)
        spark_version = spark.version
        java_version = spark.sparkContext._jvm.System.getProperty("java.version")
        app_id = spark.sparkContext.applicationId
        phases["passes_done"] = time.perf_counter() - t_start
        stop_engine(spark)
        spark = None
        phases["engine_stopped"] = time.perf_counter() - t_start
        if args.trace:
            report_layers(result, run_dir, app_id, cores, args)
    finally:
        if spark is not None:
            stop_engine(spark)
        shutil.rmtree(run_dir, ignore_errors=True)

    result["phases_s"] = phases
    result["reference_closures"] = closures
    result["host"] = {
        "nproc": cores, "loadavg_1m_at_start": load_1m, "calib_sec": calib,
        "spark_version": spark_version, "java_version": java_version,
        "seed": args.seed, "workload": args.workload, "trace": args.trace,
        "seconds": args.seconds, "base": args.base, "inputs": sf_dir,
    }
    source = result["layers"] if args.trace else result["metrics"]
    printed = {m: {"value": source[m], "unit": unit_of(m)}
               for m in (source if args.trace else END_TO_END)}
    write_artifact(result, args)
    line = {"correct": result["failed"] == 0, "attempted": result["attempted"],
            "failed": result["failed"], "metrics": printed}
    print(json.dumps(line))
    return 0


def measure(spark, registry, workload, sf_dir, expected, args, tracer) -> dict:
    failures = []
    attempted = 0
    check_start = time.perf_counter()

    # Check pass: the op's collected result against the reference.
    for op in workload.ops:
        attempted += 1
        before = table_names(spark)
        try:
            why = mismatch(registry.QUERIES[op](spark, sf_dir).toPandas(), expected[op])
        except Exception as exc:  # an op that raises is a failed op, not a dead run
            why = f"raised {type(exc).__name__}: {str(exc)[:300]}"
        if why:
            failures.append({"op": op, "phase": "check", "why": why})
        reset_session_cache(spark)
        drop_new_tables(spark, before)
    check_done = time.perf_counter()

    from pyspark import SparkContext

    jvm = SparkContext._gateway.proc.pid
    me = os.getpid()
    if tracer:
        tracer.sc = spark.sparkContext
        tracer.active = True
    host.reset_peak_rss(host.tree(jvm) + [me])
    passes, samples = [], []
    started = time.perf_counter()
    while len(passes) < workload.min_passes or time.perf_counter() - started < args.seconds:
        cpu0 = host.cpu_seconds(host.tree(jvm) + [me])
        wall = 0.0
        for op in workload.ops:
            attempted += 1
            before = table_names(spark)
            if tracer:
                tracer.op = f"{len(passes)}:{op}"
            t0 = time.perf_counter()
            try:
                _timed_op(spark, registry.QUERIES[op], sf_dir, tracer)
                dt = time.perf_counter() - t0
                samples.append({"op": op, "pass": len(passes), "wall_s": dt})
                wall += dt
            except Exception as exc:
                failures.append({"op": op, "phase": f"pass {len(passes)}",
                                 "why": f"raised {type(exc).__name__}: {str(exc)[:300]}"})
            reset_session_cache(spark)
            drop_new_tables(spark, before)
        cpu1 = host.cpu_seconds(host.tree(jvm) + [me])
        passes.append({"wall_s": wall, "cpu_s": cpu1 - cpu0})
    # Not an end-to-end metric: the JVM heap grows in steps, so the peak
    # moves by up to a quarter from run to run on the same code and seed.
    peak_rss = host.peak_rss_mb(host.tree(jvm) + [me])
    if tracer:
        tracer.active = False

    times = [s["wall_s"] for s in samples]
    pct, tail_value = tail(times) if times else (100, float("nan"))
    failed = len(failures)
    return {
        "attempted": attempted,
        "failed": failed,
        "failures": failures,
        "passes": passes,
        "samples": samples,
        "op_tail_percentile": pct,
        "op_samples": len(times),
        "tracer": tracer,
        "check_pass_s": check_done - check_start,
        "peak_rss_mb": peak_rss,
        "metrics": {
            "pass_s": statistics.median(p["wall_s"] for p in passes),
            "op_p50_s": statistics.median(times) if times else float("nan"),
            "op_tail_s": tail_value,
            "pass_cpu_s": statistics.median(p["cpu_s"] for p in passes),
            "op_ok_ratio": (attempted - failed) / attempted,
        },
    }


def _timed_op(spark, fn, sf_dir, tracer) -> None:
    """One op: the registry call (build), then a noop write (exec)."""
    if tracer is None:
        fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        return
    with tracer.span("registry.build"):
        df = fn(spark, sf_dir)
    with tracer.span("registry.exec"):
        df.write.format("noop").mode("overwrite").save()


def report_layers(result: dict, run_dir: str, app_id: str, cores: int, args) -> None:
    import spans

    tracer = result.pop("tracer")
    # Spark 4 writes a rolling log: a directory of events_<n>_<app> files.
    logs = sorted(glob.glob(os.path.join(run_dir, "eventlog", f"*{app_id}*", "events_*")),
                  key=lambda p: int(os.path.basename(p).split("_")[1]))
    if not logs:
        raise RuntimeError(f"no event log for {app_id} under {run_dir}")
    counters, intervals = spans.read_event_log(logs)
    n = len(result["passes"])
    result["layers"] = spans.layer_metrics(tracer.spans, counters, intervals, n, cores)
    result["spans"] = spans.span_records(tracer.spans)
    # Jobs each op fires while it is built, per pass.
    per_op: dict = {}
    for s in tracer.spans:
        if s.name == "registry.build":
            op = s.op.split(":", 1)[1]
            jobs = sum(counters[d]["jobs"] for d in spans.descendants(tracer.spans, s)
                       if d in counters)
            per_op[op] = per_op.get(op, 0) + jobs / n
    result["op_build_jobs"] = per_op
    # Tracing overhead: this run's pass_s minus the latest untraced run's.
    base = latest_untraced(args.workload, args.base)
    traced = result["metrics"]["pass_s"]
    untraced = base["metrics"]["pass_s"] if base else None
    result["trace_overhead"] = {
        "overhead_s": traced - untraced if base else None,
        "traced_pass_s": traced,
        "untraced_pass_s": untraced,
        "untraced_seed": base["host"]["seed"] if base else None,
    }
    print(f"perfbench: tracing overhead {traced - untraced:+.3f} s per pass (traced "
          f"{traced:.3f} s, untraced {untraced:.3f} s on seed {base['host']['seed']})"
          if base else "perfbench: tracing overhead unknown: no untraced run of this "
          "workload in this checkout yet")


def latest_untraced(workload: str, base: str):
    """The newest untraced artifact of ``workload`` sampled from ``base``."""
    paths = sorted(glob.glob(os.path.join(WORK, "artifacts", f"{workload}-trace0-*.json")),
                   key=os.path.getmtime, reverse=True)
    for path in paths:
        with open(path) as fh:
            artifact = json.load(fh)
        if artifact["host"].get("base") == base:
            return artifact
    return None


def write_artifact(result: dict, args) -> None:
    out = os.path.join(WORK, "artifacts")
    os.makedirs(out, exist_ok=True)
    result = {k: v for k, v in result.items() if k != "tracer"}
    stamp = time.strftime("%Y%m%dT%H%M%S")
    path = os.path.join(out, f"{args.workload}-trace{args.trace}-seed{args.seed}-{stamp}.json")
    with open(path, "w") as fh:
        json.dump(result, fh, indent=1, default=str)
    print(f"perfbench: artifact {os.path.relpath(path, ROOT)}")


if __name__ == "__main__":
    sys.exit(main())

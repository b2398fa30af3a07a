"""Benchmark entry point: one run of one workload.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root. A run generates its inputs from the seed
under ``.bench_work/``, starts Spark on ``local[<cores>]`` and sets the
workload up ``setup_reps`` times (the first start launches the JVM). An
untimed warm-up cycle over small inputs of the same shape then pays the
process's one-time costs (code generation, JIT, Python worker start).
Timed passes of the workload's fixed op cycle follow until ``--seconds``
have elapsed and at least ``MIN_PASSES`` have run. The outputs are
checked after the timer stops. Before the run exits, the Spark JVM and
every process it started are stopped and waited for.

``--trace 1`` starts Spark with the event log on and runs traced and
untraced passes in turn in the same session: a traced pass has the
package's layer entry points wrapped in spans, an untraced one runs them
unwrapped. The untraced passes are the baseline for the tracing overhead.

The last stdout line is the result: ``correct``, ``attempted``, ``failed``
and ``metrics`` (the end-to-end metrics of ``BENCHMARK.json`` untraced,
its per-layer metrics traced). The line before it is the run record:
inputs, set-up, pass and op timings, the contention probe and every
failure. Both are also kept under ``.bench_work/records/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK_ROOT = os.path.join(ROOT, ".bench_work")
PKG_DIR = os.path.join(ROOT, "kiji_mapreduce_spark")

#: timed passes per run at least, however short ``--seconds`` is
MIN_PASSES = 3


def _env(work: str, ncpu: int) -> None:
    """Keep every file Spark, the JVM and the Python workers write inside
    ``work``, and let the workers import the package."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(ncpu)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    # every JVM (spark-submit's launcher too): temp files under ``work``,
    # and no hsperfdata file in the system temp directory
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData")
    # the driver's memory settings are the program's own (Spark's default
    # heap, grown on demand), so resident memory moves with what it holds
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--conf spark.sql.warehouse.dir={work}/warehouse pyspark-shell")
    import tempfile
    tempfile.tempdir = tmp


def _start_session(name: str, ncpu: int, event_log: str | None = None):
    from kiji_mapreduce_spark.session import make_session

    conf = {"spark.ui.enabled": "false",
            "spark.ui.showConsoleProgress": "false",
            "spark.eventLog.enabled": "false"}
    if event_log:
        os.makedirs(event_log, exist_ok=True)
        conf.update({"spark.eventLog.enabled": "true",
                     "spark.eventLog.dir": f"file://{event_log}",
                     "spark.eventLog.compress": "false",
                     "spark.eventLog.rolling.enabled": "false"})
    spark = make_session(app_name=f"perfbench-{name}", master=f"local[{ncpu}]",
                         shuffle_partitions=ncpu, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    # the engine warm-up bench.py also runs: scan, shuffle, aggregate and
    # broadcast join once, so the first timed op is not charged for
    # starting the scheduler and loading the engine's classes
    from pyspark.sql import functions as F
    keys = spark.range(100_000).withColumn("k", F.pmod("id", F.lit(100)))
    keys.groupBy("k").count().join(
        F.broadcast(spark.range(100).withColumnRenamed("id", "k")), "k"
    ).write.mode("overwrite").format("noop").save()
    return spark


def _timed_passes(wl, spark, seconds: float) -> tuple[list, list]:
    """Passes until ``seconds`` have elapsed and at least ``MIN_PASSES``
    have run. Returns the passes' wall times and ``(op, seconds)`` for
    every op."""
    from harness import NullTracer

    passes, ops = [], []
    start = time.perf_counter()
    while (len(passes) < MIN_PASSES
           or time.perf_counter() - start < seconds):
        t0 = time.perf_counter()
        ops += wl.one_pass(spark, NullTracer())
        passes.append(time.perf_counter() - t0)
    return passes, ops


def _traced_passes(wl, spark, tracer, seconds: float, detail: dict):
    """Untraced and traced passes in turn, in the order ABBA..., until
    ``seconds`` have elapsed and at least ``MIN_PASSES`` of each have run.
    Both kinds run in the same session and, as the passes still speed up
    while the JIT warms, the alternating order keeps them equally warm: the
    gap between them is the cost of the spans (the event log is on for
    both). Returns the traced passes' wall times and ops, then the
    untraced passes' wall times and ops."""
    from harness import NullTracer

    traced, untraced, ops, untraced_ops = [], [], [], []

    def untraced_pass():
        t0 = time.perf_counter()
        untraced_ops.extend(wl.one_pass(spark, NullTracer()))
        untraced.append(time.perf_counter() - t0)

    def traced_pass():
        tracer.install()
        t0 = time.perf_counter()
        with tracer.span("pass", "pass"):
            ops.extend(wl.one_pass(spark, tracer, detail))
        traced.append(time.perf_counter() - t0)
        tracer.uninstall()

    start = time.perf_counter()
    while (len(traced) < MIN_PASSES
           or time.perf_counter() - start < seconds):
        pair = (untraced_pass, traced_pass)
        for one in (pair if len(traced) % 2 == 0 else pair[::-1]):
            one()
    return traced, ops, untraced, untraced_ops


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(PKG_DIR):
        print(f"perfbench: no package at {PKG_DIR}; run from the "
              "repository root", file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, HERE]
    import metrics as M
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of "
              f"{sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    spec = M.load_spec(ROOT)
    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    work = os.path.join(WORK_ROOT, run_id)
    # Spark task threads: half the cores. The rest stay free for the
    # JVM's JIT and GC threads, and a neighbour on a shared host then
    # takes idle cores before it takes ours.
    ncpu = max(1, len(os.sched_getaffinity(0)) // 2)
    _env(work, ncpu)
    try:
        import kiji_mapreduce_spark  # noqa: F401
        import pyspark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 2

    from harness import (NullTracer, RssSampler, Tracer, become_subreaper,
                         cpu_steal_share, cpu_steal_ticks, jvm_heap_mb,
                         read_event_logs, spin_probe_ms, stop_processes)

    record = {"run_id": run_id, "workload": args.workload, "seed": args.seed,
              "seconds": args.seconds, "trace": args.trace,
              "spark_threads": ncpu, "attempted": 0, "failures": []}
    wl = WORKLOADS[args.workload](work, args.seed)
    spark, values, rss = None, None, None
    tracer = Tracer(run_id) if args.trace else NullTracer()
    log_dir = os.path.join(work, "eventlog") if args.trace else None
    become_subreaper()
    try:
        probe_before = spin_probe_ms()
        record["inputs"] = wl.generate()
        if args.trace:
            tracer.install()
        setup_s, session_s = [], []
        for _ in range(1 if args.trace else wl.setup_reps):
            if spark is not None:
                spark.stop()
            t0 = time.perf_counter()
            with tracer.span("setup", "workload"):
                spark = _start_session(args.workload, ncpu, log_dir)
                t1 = time.perf_counter()
                tracer.sc = spark.sparkContext
                wl.prepare(spark)
            session_s.append(t1 - t0)
            setup_s.append(time.perf_counter() - t0)
        if args.trace:
            tracer.uninstall()
        t0 = time.perf_counter()
        wl.warm_up(spark)
        record["warm_up_s"] = time.perf_counter() - t0
        rss = RssSampler().start()
        steal0 = cpu_steal_ticks()
        detail: dict = {}
        untraced, untraced_ops = [], []
        if args.trace:
            passes, ops, untraced, untraced_ops = _traced_passes(
                wl, spark, tracer, args.seconds, detail)
            record["untraced_passes_s"] = untraced
        else:
            passes, ops = _timed_passes(wl, spark, args.seconds)
        rss_mb = rss.stop()
        record["rss_peak_mb"] = rss.peak_mb
        record["jvm_heap_mb"] = jvm_heap_mb(spark)
        record["host_steal_share"] = cpu_steal_share(steal0)
        record["attempted"] = len(ops) + len(untraced_ops)
        if args.trace:
            tracer.install()
            with tracer.span("probes", "workload"):
                probes = wl.layer_probes(spark, tracer)
            tracer.uninstall()
            record["failures"] += probes.pop("failures", [])
        record["failures"] += [f"check: {f}" for f in wl.final_check(spark)]
        record.update(M.run_record(setup_s, session_s, passes, ops, wl))
        spark.stop()
        spark = None
        if args.trace:
            values = M.layer_metrics(
                wl, tracer, read_event_logs(log_dir), detail, probes,
                passes, ops, untraced, session_s, ncpu, probe_before)
            os.makedirs(os.path.join(WORK_ROOT, "traces"), exist_ok=True)
            tracer.dump(os.path.join(WORK_ROOT, "traces", f"{run_id}.json"))
        else:
            values = M.end_to_end(setup_s, passes, ops, rss_mb)
        record["probe"] = M.probe_record(probe_before, spin_probe_ms(), spec)
    except Exception:
        record["failures"].append("error: " + traceback.format_exc(limit=8))
        values = None
    finally:
        try:
            if args.trace:
                tracer.uninstall()
            if rss is not None:
                rss.stop()
            if spark is not None:
                spark.stop()
        finally:
            # the JVM and every process it forked have ended before the
            # result line is printed
            stop_processes()
            shutil.rmtree(work, ignore_errors=True)

    print(json.dumps(record, default=str))
    if values is None:
        return 1
    failed = len(record["failures"])
    result = {"correct": failed == 0,
              "attempted": record["attempted"] + failed,
              "failed": failed,
              "metrics": M.render(spec, "per_layer" if args.trace
                                  else "end_to_end", values)}
    os.makedirs(os.path.join(WORK_ROOT, "records"), exist_ok=True)
    with open(os.path.join(WORK_ROOT, "records", f"{run_id}.json"), "w") as f:
        json.dump({"record": record, "result": result}, f, indent=1)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())

#!/usr/bin/env python3
"""lakeflow benchmark: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload medallion_etl --seed 1 --seconds 10 --trace 0

Run from the repository root. The run builds its seeded inputs under
``.perfbench_work/`` (removed afterwards), sets up, times iterations of
the workload until ``--seconds`` have passed (at least the workload's
minimum count), checks the
outputs, and prints a readable summary followed by one JSON object as
the last line of standard output.

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` times two
untraced and then a traced iteration: the traced one runs under Spark's
event log (uncompressed, not rolling) and is followed by the per-layer
probes. It reports the per-layer metrics and writes its spans to
``.perfbench_work/traces/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "rds_to_snowflake_etl_a_lakehouse_pipeline_spark"
SLOTS = 4
# untraced iterations before the traced one in a traced run: the first may
# be a process's first pass over the workload's code paths, the second is
# the baseline of trace_overhead_ratio
TRACE_BASELINE = 2

END_TO_END = {
    "run_s": "s",
    "rows_per_s": "1/s",
    "batch_p50_s": "s",
    "batch_max_s": "s",
    "setup_s": "s",
}
PER_LAYER = {
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.job_gap_s": "s",
    "spark.slot_busy_ratio": "ratio",
    "spark.executor_cpu_s": "s",
    "spark.shuffle_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "spark.input_bytes": "bytes",
    "spark.output_bytes": "bytes",
    "spark.files_written": "count",
    "plans.bronze_s": "s",
    "plans.silver_s": "s",
    "plans.gold_s": "s",
    "plans.bronze_jobs": "count",
    "plans.silver_jobs": "count",
    "plans.gold_jobs": "count",
    "sources.write_jobs": "count",
    "sources.write_s": "s",
    "sources.index_files": "count",
    "operators.curation.crawl_s": "s",
    "operators.dedup.minhash_pairs_s": "s",
    "operators.dedup.pairs": "count",
    "operators.dedup.cc_s": "s",
    "operators.dedup.cc_jobs": "count",
    "operators.multimodal.hash_s": "s",
    "operators.multimodal.pairs_s": "s",
    "operators.multimodal.pairs": "count",
    "streaming.addbatch_s": "s",
    "streaming.overhead_s": "s",
    "streaming.jobs_per_batch": "count",
    "streaming.batch_growth": "ratio",
    "operators.dedup.index_build_s": "s",
    "session.start_s": "s",
    "session.peak_rss_mb": "MB",
    "trace_overhead_ratio": "ratio",
}


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def peak_rss_mb(spark) -> float:
    """Peak resident set (VmHWM) of the Spark JVM, from /proc."""
    pid = spark.sparkContext._gateway.proc.pid
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM missing from /proc status")


def stop_spark(spark) -> None:
    """Stop the session, then the gateway JVM (it exits on stdin EOF),
    and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        proc = gateway.proc
        gateway.shutdown()
        proc.stdin.close()
        proc.wait(timeout=60)


def result_line(correct: bool, attempted: int, failed: int, metrics: dict, units: dict) -> str:
    """The run's result: the last line of standard output."""
    return json.dumps({
        "correct": correct,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    })


def _reason(e: Exception) -> str:
    return f"{type(e).__name__}: {str(e)[:300]}"


def timed_iteration(wl, ctx) -> dict:
    """One timed iteration, then (untimed) the operation times that
    arrive after it; an exception is a failed operation."""
    ops, error = [], None
    start = time.time()
    t0 = time.perf_counter()
    try:
        ops = wl.run_once(ctx)
    except Exception as e:  # a failing operation is a result, not a crash
        error = _reason(e)
    seconds = time.perf_counter() - t0
    end = time.time()
    if error is None:
        try:
            ops += wl.collect(ctx)
        except Exception as e:
            error = _reason(e)
    return {"start": start, "end": end, "seconds": seconds, "ops": ops, "error": error}


def main(argv=None) -> int:
    args = parse_args(argv)
    if not (os.path.isdir(os.path.join(ROOT, PACKAGE))
            and os.path.isfile(os.path.join(ROOT, "__spark_entry__.py"))):
        print(f"perfbench: {PACKAGE}/ and __spark_entry__.py not found in {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    wl = workloads.WORKLOADS[args.workload]()
    work_root = os.path.join(ROOT, ".perfbench_work")
    work = os.path.join(work_root, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    for d in ("local", "tmp", "eventlog"):
        os.makedirs(os.path.join(work, d))
    # every file the run writes, the JVMs' included, stays under `work`
    jvm_opts = f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData"
    os.environ.update(
        # Python workers import the program from the checkout root
        PYTHONPATH=os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        SPARK_GRAFT_CPUS=str(SLOTS),
        SPARK_GRAFT_DRIVER_MEM="3g",
        SPARK_LOCAL_DIRS=os.path.join(work, "local"),
        SPARK_LAUNCHER_OPTS=jvm_opts,
        TMPDIR=os.path.join(work, "tmp"),
    )
    conf = {
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.local.dir": os.path.join(work, "local"),
        "spark.driver.extraJavaOptions": jvm_opts,
        "spark.ui.showConsoleProgress": "false",
    }

    try:
        return _run(args, wl, work, work_root, conf)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _run(args, wl, work: str, work_root: str, conf: dict) -> int:
    import tracing as tr
    import workloads

    tracer = tr.Tracer()
    spark = None
    try:
        with tracer.span("session.get_spark") as s:
            import __spark_entry__ as entry

            from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.session import get_spark

            spark = get_spark("perfbench", extra_conf=conf)
        session_s = s["end"] - s["start"]
        ctx = workloads.Ctx(spark, entry, work, args.seed, tracer)
        with tracer.span("setup"):
            phases = wl.setup(ctx)
        setup_s = session_s + sum(phases.values())

        iterations, traced_it, log_path = [], None, None
        begin = time.perf_counter()
        while len(iterations) < (TRACE_BASELINE if args.trace else wl.min_iterations) or (
            not args.trace and time.perf_counter() - begin < args.seconds
        ):
            if iterations:
                wl.reset(ctx)
            with tracer.span("iteration"):
                iterations.append(timed_iteration(wl, ctx))
        failures = [it["error"] for it in iterations if it["error"]]
        if args.trace and not failures:
            # the last untraced iteration above is the baseline; the traced
            # one runs under Spark's event log, then the layer probes do
            wl.reset(ctx)
            recorder = tr.EventLogRecorder(spark, os.path.join(work, "eventlog"), f"perfbench-{tracer.run_id}")
            recorder.start()
            with tracer.span("traced_iteration"):
                traced_it = timed_iteration(wl, ctx)
            if not traced_it["error"]:
                with tracer.span("probes"):
                    wl.probe(ctx)
            log_path = recorder.stop()
            if traced_it["error"]:
                failures.append(traced_it["error"])
        if not failures:
            with tracer.span("check"):
                failures += wl.check(ctx)
        rss = peak_rss_mb(spark)
    finally:
        if spark is not None:
            with tracer.span("stop"):
                stop_spark(spark)

    # operations: pipeline nodes, curation steps or micro-batches; an
    # iteration that raised counts as one failed operation, and a failed
    # output check as one more
    done = iterations + ([traced_it] if traced_it else [])
    attempted = sum(max(len(it["ops"]), 1) for it in done)
    failed = min(len(failures), attempted)
    ok_iters = [it for it in iterations if not it["error"]]
    if not ok_iters or (args.trace and (traced_it is None or traced_it["error"])):
        print("\n".join(failures), file=sys.stderr)
        return 1

    if args.trace:
        log = tr.EventLog(log_path)
        metrics = {k: 0.0 for k in PER_LAYER}
        metrics.update(log.window(traced_it["start"], traced_it["end"], SLOTS))
        metrics.update(wl.layers(ctx, log, traced_it["start"], traced_it["end"]))
        metrics["session.start_s"] = session_s
        metrics["session.peak_rss_mb"] = rss
        metrics["trace_overhead_ratio"] = traced_it["seconds"] / ok_iters[-1]["seconds"]
        units = PER_LAYER
        os.makedirs(os.path.join(work_root, "traces"), exist_ok=True)
        tracer.write(os.path.join(work_root, "traces", f"{wl.name}-seed{args.seed}-{tracer.run_id}.json"))
    else:
        run_s = statistics.median(it["seconds"] for it in ok_iters)
        batches = [sec for it in ok_iters for sec in wl.batch_ops(it)]
        metrics = {
            "run_s": run_s,
            "rows_per_s": statistics.median(wl.source_rows() / it["seconds"] for it in ok_iters),
            "batch_p50_s": statistics.median(batches),
            "batch_max_s": max(batches),
            "setup_s": setup_s,
        }
        units = END_TO_END

    error_rate = failed / attempted
    print(f"workload {wl.name}  seed {args.seed}  iterations {len(iterations)}  "
          f"source rows {wl.source_rows()}  setup phases "
          + " ".join(f"{k}={v:.3f}s" for k, v in phases.items()))
    print("phases " + " ".join(
        f"{n}={tracer.seconds(n):.3f}s" for n in ("session.get_spark", "setup", "check", "stop")
        if any(sp["name"] == n for sp in tracer.spans)))
    print("iterations " + " ".join(f"{it['seconds']:.3f}s" for it in iterations)
          + (f"  traced {traced_it['seconds']:.3f}s" if traced_it else ""))
    last = (traced_it if args.trace else ok_iters[-1])["ops"]
    print("operations " + " ".join(f"{n}={sec:.3f}s" for n, sec in last))
    for reason in failures:
        print(f"FAILED {reason}")
    for name, value in metrics.items():
        print(f"  {name:34s} {value:>16.6g} {units[name]}")
    print(f"  {'error_rate':34s} {error_rate:>16.6g} ratio")
    # the Spark JVM's peak resident set: printed on every run but carried
    # only as a per-layer metric, its run-to-run spread being too wide for
    # an end-to-end bound
    print(f"  {'peak_rss_mb':34s} {rss:>16.6g} MB")
    print(result_line(not failures, attempted, failed, metrics, units))
    return 0


if __name__ == "__main__":
    sys.exit(main())

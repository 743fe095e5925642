"""Benchmark command: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload search --seed 7 --seconds 10 --trace 0

Run it from the repository root; it imports the package from that tree
and builds nothing else.  ``--trace 0`` measures the end-to-end metrics
with tracing and the Spark event log off; ``--trace 1`` is the separate
traced run that reports the per-layer metrics.  The last line of stdout
is the result; a human-readable report (every metric with its unit and
sample count) goes to stderr, and the full report, with the trace when
there is one, to ``perfbench/.work/results/``.

Correctness is reported in the result: ``correct`` is false and
``failed`` counts the operations whose output failed a check.  The exit
code is 0 whenever a result is printed, non-zero when the run could not
finish (2: the package is not there to benchmark).  Everything the run
writes stays under ``perfbench/.work/``; the engine output of earlier
runs is deleted before a run starts, never reused.
"""

from __future__ import annotations

import time

T0 = time.perf_counter()  # setup_s counts from here

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "hail_elasticsearch_pipelines_spark"
WORK = os.path.join(HERE, ".work")
CORES = 4


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=("build", "search"))
    p.add_argument("--seed", type=int, required=True)
    # the work of a run is fixed (so runs compare like with like); on a
    # 4-core box a run measures about 15-50 s after its set-up
    p.add_argument("--seconds", type=float, default=10.0)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def prepare_env(run_dir: str) -> None:
    """Point every writer at the run directory and make the package
    importable in the driver and in Spark's Python workers."""
    for sub in ("tmp", "spark-local", "eventlog"):
        os.makedirs(os.path.join(run_dir, sub))
    sys.path.insert(0, ROOT)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["TMPDIR"] = os.path.join(run_dir, "tmp")
    os.environ["SPARK_GRAFT_CPUS"] = str(CORES)
    os.environ["SPARK_GRAFT_LOCAL_DIR"] = os.path.join(run_dir, "spark-local")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")  # else it overrides the above
    os.environ.setdefault("SPARK_DRIVER_MEM", "2g")


def spark_conf(run_dir: str, trace: bool) -> dict[str, str]:
    conf = {
        "spark.ui.showConsoleProgress": "false",
        # no hsperfdata file: the JVM would put it under /tmp whatever the tmpdir
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')} -XX:-UsePerfData",
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
    }
    if trace:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": os.path.join(run_dir, "eventlog"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return conf


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM (and its Python workers)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def report(name, value, unit, n, out) -> None:
    count = f"n={n}" if n is not None else ""
    print(f"  {name:34s} {value:14.4f} {unit:6s} {count}", file=out)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: no {PACKAGE}/ next to {HERE}; run from a full checkout", file=sys.stderr)
        return 2
    run_dir = os.path.join(WORK, "run")
    shutil.rmtree(run_dir, ignore_errors=True)  # never reuse engine output
    prepare_env(run_dir)

    from hail_elasticsearch_pipelines_spark.session import get_spark

    import tracing
    import workloads

    spark = get_spark(
        app_name=f"perfbench-{args.workload}",
        master=f"local[{CORES}]",
        shuffle_partitions=CORES,
        extra_conf=spark_conf(run_dir, bool(args.trace)),
    )
    spark.sparkContext.setLogLevel("ERROR")
    tracer = tracing.Tracer(spark.sparkContext if args.trace else None)
    undo = tracing.instrument(tracer) if args.trace else (lambda: None)
    run = workloads.Run(spark, tracer, run_dir, args.seed, T0)
    try:
        workloads.WORKLOADS[args.workload](run)
        tracer.collect_status()
    finally:
        undo()
        stop_spark(spark)

    out = sys.stderr
    print(f"perfbench {args.workload} seed={args.seed} trace={args.trace}", file=out)
    if args.trace:
        totals = tracer.attach_event_log(os.path.join(run_dir, "eventlog"))
        values = workloads.per_layer(run, totals)
        metrics = {k: {"value": values[k], "unit": u} for k, u in workloads.PER_LAYER.items()}
        for k, u in workloads.PER_LAYER.items():
            report(k, values[k], u, None, out)
        print("  self time by span (s):", file=out)
        for name, secs in sorted(tracer.self_times().items(), key=lambda kv: -kv[1]):
            print(f"    {name:32s} {secs:10.4f}", file=out)
    else:
        e2e = workloads.end_to_end(run)
        metrics = {k: {"value": e2e[k][0], "unit": u} for k, u in workloads.END_TO_END.items()}
        for k, u in workloads.END_TO_END.items():
            report(k, e2e[k][0], u, e2e[k][1], out)
    for label, what in run.failures.items():
        print(f"  FAILED {label}: {what}", file=out)
    print(f"  ops attempted={run.attempted} failed={run.failed}", file=out)

    result = {
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": metrics,
    }
    os.makedirs(os.path.join(WORK, "results"), exist_ok=True)
    stem = os.path.join(WORK, "results", f"{args.workload}-s{args.seed}-t{args.trace}")
    with open(stem + ".json", "w") as f:
        json.dump({**result, "failures": run.failures, "info": run.info}, f, indent=1, default=str)
    if args.trace:
        tracer.dump(stem + ".trace.json")
    shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())

"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Runs one workload in one process on local[nproc] and prints, last, one JSON
line ``{"correct", "attempted", "failed", "metrics"}``: the end-to-end
metrics when ``--trace 0``, the per-layer metrics when ``--trace 1``. The
lines before it are a readable report. Everything the run writes goes to a
fresh directory under ``.perfbench_tmp/`` in the checkout, removed at exit.
Exits 2 without a result when the package under test cannot be imported.
"""

from __future__ import annotations

import time

PROCESS_T0 = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

from perfbench import metrics, workloads  # noqa: E402

# name -> (unit, which direction is better)
END_TO_END = {
    "setup_s": ("s", "lower"),
    "ops_per_s": ("1/s", "higher"),
    "op_p50_ms": ("ms", "lower"),
}
LOW, HIGH = "lower", "higher"
PER_LAYER = {
    # workload-specific end-to-end views (README: why they are per-layer)
    "events_per_s": ("1/s", HIGH),
    "queries_per_s": ("1/s", HIGH),
    "freshness_p50_ms": ("ms", LOW),
    "freshness_p90_ms": ("ms", LOW),
    "error_rate": ("ratio", LOW),
    "op_samples": ("count", HIGH),
    "op_tail_pct": ("pct", HIGH),
    "op_tail_ms": ("ms", LOW),
    # moved from the end-to-end list: JVM heap growth makes it spread
    # 12-29% between runs (README)
    "peak_rss_mb": ("MiB", LOW),
    "spark.jobs": ("count", LOW),
    "spark.stages": ("count", LOW),
    "spark.tasks": ("count", LOW),
    "spark.executor_run_ms": ("ms", LOW),
    "spark.executor_cpu_ms": ("ms", LOW),
    "spark.gc_ms": ("ms", LOW),
    "spark.shuffle_read_bytes": ("bytes", LOW),
    "spark.shuffle_write_bytes": ("bytes", LOW),
    "spark.input_bytes": ("bytes", LOW),
    "spark.output_bytes": ("bytes", LOW),
    "spark.driver_ms": ("ms", LOW),
    "session.start_s": ("s", LOW),
    "session.stage_s": ("s", LOW),
    "session.warmup_s": ("s", LOW),
    "catalog.ddl_ms": ("ms", LOW),
    "ingest.build_ms": ("ms", LOW),
    "ingest.rows_in": ("count", HIGH),
    "ingest.rows_valid": ("count", HIGH),
    "ingest.rows_dropped": ("count", LOW),
    "ingest.valid_ratio": ("ratio", HIGH),
    "sinks.write_ms": ("ms", LOW),
    "sinks.commit_ms": ("ms", LOW),
    "sinks.files_written": ("count", LOW),
    "sinks.bytes_written": ("bytes", LOW),
    "sinks.bytes_per_event": ("bytes", LOW),
    "streaming.batches": ("count", LOW),
    "streaming.rows_per_batch": ("count", HIGH),
    "streaming.files_per_batch": ("count", HIGH),
    "streaming.checkpoint_bytes": ("bytes", LOW),
    **{f"streaming.{p}_ms": ("ms", LOW) for p in workloads.PHASES},
    "loadgen.files_sent": ("count", HIGH),
    "loadgen.late_p90_ms": ("ms", LOW),
    "loadgen.backlog_max_files": ("count", LOW),
    "loadgen.saturated": ("flag", LOW),
    "query.build_ms": ("ms", LOW),
    "query.build_jobs": ("count", LOW),
    "query.action_ms": ("ms", LOW),
    **{f"query.{q}.p50_ms": ("ms", LOW) for q in workloads.QUERIES},
    "materialize.release_ms": ("ms", LOW),
    "materialize.persisted_rdds": ("count", LOW),
    "trace.overhead_pct": ("pct", LOW),
}


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument(
        "--out", help="also write the result and the spans to this directory"
    )
    return ap.parse_args(argv)


def start_session(run_dir: str):
    """local[nproc] session from the package's own factory; scratch space,
    warehouse and JVM temp files all inside ``run_dir``."""
    from user_behavior_spark_pipeline_spark.session import get_spark

    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "local")
    os.environ["SPARK_WAREHOUSE_DIR"] = os.path.join(run_dir, "warehouse")
    os.environ["TMPDIR"] = tmp
    # every JVM spark-submit starts: temp files here, no /tmp/hsperfdata
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    tempfile.tempdir = tmp
    spark = get_spark(
        app_name="perfbench",
        cpus=len(os.sched_getaffinity(0)),
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            # keep every micro-batch's progress for the per-layer read
            "spark.sql.streaming.numRecentProgressUpdates": "2000",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark and wait for the driver JVM to exit (it exits when its
    stdin closes), so no process outlives the run."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None and gateway.proc is not None:
        gateway.shutdown()
        gateway.proc.stdin.close()
        gateway.proc.wait(timeout=120)


def main(argv=None) -> int:
    args = parse_args(argv)
    # a terminated run still stops Spark and removes its directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        import user_behavior_spark_pipeline_spark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: package under test not importable: {exc}", file=sys.stderr)
        return 2
    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    base = os.path.join(ROOT, ".perfbench_tmp")
    os.makedirs(base, exist_ok=True)
    run_dir = tempfile.mkdtemp(prefix=f"{args.workload}-", dir=base)
    spark = None
    try:
        spark = start_session(run_dir)
        session_s = time.perf_counter() - PROCESS_T0
        bench = workloads.Bench(spark, args.seed, args.seconds, bool(args.trace), run_dir)
        workloads.WORKLOADS[args.workload](bench, session_s)
        bench.layer["peak_rss_mb"] = metrics.peak_rss_mb()
        bench.report["peak_rss_mb"] = (bench.layer["peak_rss_mb"], "MiB", 1)
    finally:
        if spark is not None:
            stop_session(spark)
        shutil.rmtree(run_dir, ignore_errors=True)
        try:
            os.rmdir(base)
        except OSError:
            pass  # another run is using it

    bench.layer["error_rate"] = bench.failed / max(1, bench.attempted)
    for name, (value, unit, n) in sorted(bench.report.items()):
        print(f"{args.workload} {name} = {value:.4f} {unit} (n={n})")
    print(f"{args.workload} error_rate = {bench.layer['error_rate']:.4f} "
          f"({bench.failed}/{bench.attempted} ops failed)")
    if args.trace:
        chosen = {k: (bench.layer.get(k, 0.0), u) for k, (u, _) in PER_LAYER.items()}
    else:
        chosen = {k: (bench.e2e[k], u) for k, (u, _) in END_TO_END.items()}
    result = {
        "correct": bench.failed == 0,
        "attempted": bench.attempted,
        "failed": bench.failed,
        "metrics": {k: {"value": float(v), "unit": u} for k, (v, u) in chosen.items()},
    }
    if args.out:
        os.makedirs(args.out, exist_ok=True)
        stem = os.path.join(args.out, f"{args.workload}-s{args.seed}-t{args.trace}")
        with open(stem + ".json", "w") as fh:
            json.dump(result, fh, indent=1)
        bench.tracer.dump(stem + "-spans.json")
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())

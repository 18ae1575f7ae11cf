"""The three workloads. Each stages its seeded inputs, warms up untimed,
measures, checks every output, and fills three dicts: the end-to-end metrics
(untraced run), the per-layer metrics (traced run), and a readable report.

Closed-loop workloads run whole rounds (every distinct op once) so each
distinct input is equally represented whatever the seed. In a traced run,
even rounds are traced and odd rounds are not; the gap between their
median op times is the tracing overhead.
"""

from __future__ import annotations

import functools
import json
import os
import random
import shutil
import statistics
import threading
import time
from datetime import datetime

import duckdb

from perfbench import checks, gen, metrics, spans

# --- sizes and schedule (mirrored in BENCHMARK.json's workload lines) ---
BATCH_SLICES = 3
BATCH_EVENTS = 100_000
LAKE_EVENTS = 20_000
LAKE_USERS = 5_000
STAR = {"n_customers": 300, "n_orders": 3_000, "n_lines": 12_000}
STREAM_RATE = 1.0  # files per second, open loop, in the timed window
STREAM_WARM_RATE = 4.0  # files per second while warming up
STREAM_FILE_EVENTS = 1_000
# --- warm-up and set-up (README: warm-up curves) ---
STREAM_WARM_S = 20.0
WARM_ROUNDS = 2
MIN_ROUNDS = 3
STAGE_REPEATS = 3

LAKE_TABLE = "lake_events"
REGISTRY_QUERIES = (
    "x_funnel_counts",
    "x_retention_cohorts",
    "x_event_session",
    "x_window_topk",
    "x_join_star_revenue",
)
REFERENCE_QUERIES = (
    "ref_show_tables",
    "ref_describe_table",
    "ref_count_events",
    "ref_first_events",
    "ref_events_by_type",
    "ref_events_by_host_and_type",
    "ref_distinct_host_type_detail",
)
QUERIES = REFERENCE_QUERIES + REGISTRY_QUERIES
PHASES = (
    "triggerExecution",
    "addBatch",
    "queryPlanning",
    "walCommit",
    "commitOffsets",
    "latestOffset",
    "getBatch",
)


class Bench:
    """One run: the session, the tracer and the metric sinks."""

    def __init__(self, spark, seed: int, seconds: float, trace: bool, run_dir: str):
        self.spark = spark
        self.sc = spark.sparkContext
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.run_dir = run_dir
        self.tracer = spans.Tracer(trace)
        self.counters = spans.SparkCounters(spark) if trace else None
        self.attempted = 0
        self.failed = 0
        self.e2e: dict = {}
        self.layer: dict = {}
        self.report: dict = {}
        self._ops = 0

    def path(self, *parts) -> str:
        return os.path.join(self.run_dir, *parts)

    def group(self, op: str, part: str) -> None:
        self.sc.setJobGroup(f"{op}/{part}", op)

    def new_op(self) -> str:
        self._ops += 1
        self.tracer.op = f"op{self._ops}"
        return self.tracer.op

    def record(self, ok: bool) -> None:
        self.attempted += 1
        self.failed += not ok

    def stage(self, fn):
        """Stage inputs STAGE_REPEATS times into fresh directories; returns
        the last staging and the median staging time."""
        times, state = [], None
        for i in range(STAGE_REPEATS):
            d = self.path(f"stage{i}")
            os.makedirs(d)
            t0 = time.perf_counter()
            state = fn(d)
            times.append(time.perf_counter() - t0)
            if i < STAGE_REPEATS - 1:
                shutil.rmtree(d)
        return state, statistics.median(times)

    def spark_layer(self, counts: dict, op_s: tuple, per: int = 1) -> dict:
        """Per-op ``spark.*`` metrics from summed job counters."""
        return {
            "spark.jobs": counts["jobs"] / per,
            "spark.stages": counts["stages"] / per,
            "spark.tasks": counts["tasks"] / per,
            "spark.executor_run_ms": counts["executor_run_ms"] / per,
            "spark.executor_cpu_ms": counts["executor_cpu_ns"] / 1e6 / per,
            "spark.gc_ms": counts["gc_ms"] / per,
            "spark.shuffle_read_bytes": counts["shuffle_read_bytes"] / per,
            "spark.shuffle_write_bytes": counts["shuffle_write_bytes"] / per,
            "spark.input_bytes": counts["input_bytes"] / per,
            "spark.output_bytes": counts["output_bytes"] / per,
            "spark.driver_ms": spans.uncovered_ms(*op_s, counts["intervals"]) / per,
        }


def _merge(parts: list[dict]) -> dict:
    out: dict = {"jobs": 0, "stages": 0, "tasks": 0, "intervals": []}
    for p in parts:
        for k, v in p.items():
            out[k] = out.get(k, 0) + v if k != "intervals" else out[k] + v
    return out


# --- closed loops ------------------------------------------------------------


def warm_up(ops) -> float:
    """WARM_ROUNDS untimed rounds; returns their wall time."""
    t0 = time.perf_counter()
    for _ in range(WARM_ROUNDS):
        for op in ops:
            op(False)
    return time.perf_counter() - t0


def timed_rounds(bench: Bench, ops) -> list[dict]:
    """Whole rounds until the ops' summed time reaches ``bench.seconds``,
    and at least MIN_ROUNDS (a traced run's even rounds are traced)."""
    results, busy, r = [], 0.0, 0
    while busy < bench.seconds or r < MIN_ROUNDS:
        traced = bench.trace and r % 2 == 0
        for op in ops:
            res = op(traced)
            res["traced"] = traced
            results.append(res)
            busy += res["ms"] / 1000.0
        r += 1
    return results


def closed_loop_metrics(bench: Bench, results: list[dict], setup_s: float) -> None:
    plain = [r for r in results if not r["traced"]]
    times = [r["ms"] for r in plain]
    s = metrics.summarize(times)
    op_p50, round_ms = metrics.round_medians([(r["key"], r["ms"]) for r in plain])
    n_keys = len({r["key"] for r in plain})
    bench.e2e.update(
        {
            "setup_s": setup_s,
            "ops_per_s": n_keys / (round_ms / 1000.0),
            "op_p50_ms": op_p50,
        }
    )
    bench.report["op_p50_ms"] = (op_p50, "ms", s["n"])
    if s["tail_pct"]:
        bench.report[f"op_p{s['tail_pct']:g}_ms"] = (s["tail"], "ms", s["n"])
    bench.layer.update(
        {
            "op_samples": s["n"],
            "op_tail_pct": s["tail_pct"],
            "op_tail_ms": s["tail"],
        }
    )
    if bench.trace:
        # paired by op key, so the mix's spread of op times cancels; a
        # traced op also pays for reading its counters
        ratios = []
        for key in {r["key"] for r in results}:
            on = [r["ms"] + r["collect_ms"] for r in results if r["key"] == key and r["traced"]]
            off = [r["ms"] for r in plain if r["key"] == key]
            ratios.append(statistics.median(on) / statistics.median(off))
        bench.layer["trace.overhead_pct"] = 100.0 * (statistics.median(ratios) - 1.0)


def per_key_mean(results: list[dict], field: str) -> float:
    """Mean over distinct op keys of the field's first traced value: exact
    for a fixed seed, whatever the number of rounds."""
    first: dict = {}
    for r in results:
        if r["traced"] and field in r:
            first.setdefault(r["key"], r[field])
    return statistics.fmean(first.values()) if first else 0.0


def traced_median(results: list[dict], field: str) -> float:
    vals = [r[field] for r in results if r["traced"] and field in r]
    return statistics.median(vals) if vals else 0.0


# --- batch_ingest ------------------------------------------------------------


def batch_ingest(bench: Bench, session_s: float) -> None:
    from user_behavior_spark_pipeline_spark import catalog, sinks
    from user_behavior_spark_pipeline_spark.operators.ingest import validate_events

    def stage(d):
        slices = []
        for k in range(BATCH_SLICES):
            ev = gen.events_table(bench.seed * 100 + k, BATCH_EVENTS, LAKE_USERS)
            table, labels = gen.kafka_records(bench.seed * 100 + k, ev)
            expected = gen.expected_counts(labels)
            path = os.path.join(d, f"slice{k}")
            gen.write_partitions(table, path)
            slices.append((path, expected))
        return slices

    slices, stage_s = bench.stage(stage)
    out = bench.path("lake_batch")
    con = duckdb.connect()
    tr = bench.tracer

    def make_op(k: int):
        path, expected = slices[k]

        def op(traced: bool) -> dict:
            name = bench.new_op()
            t0, p0 = time.time(), time.perf_counter()
            bench.group(name, "ingest")
            with tr.span("sources.read_parquet"):
                raw = bench.spark.read.parquet(path)
            with tr.span("operators.ingest.validate_events"):
                valid = validate_events(raw)
            p1 = time.perf_counter()
            bench.group(name, "sink")
            with tr.span("sinks.write_partitioned"):
                sinks.write_partitioned(valid, out, ["event_type"])
            p2, t_written = time.perf_counter(), time.time()
            bench.group(name, "ddl")
            with tr.span("catalog.create_external_parquet_table"):
                catalog.create_external_parquet_table(
                    bench.spark, "batch_events", out, repair=True
                )
            p3, t1 = time.perf_counter(), time.time()
            landed = checks.landed_counts(con, out)
            ok = landed == expected
            bench.record(ok)
            res = {"key": f"slice{k}", "ms": (p3 - p0) * 1000.0, "ok": ok}
            if traced:
                pc = time.perf_counter()
                c = bench.counters
                ing = c.jobs(c.job_ids(f"{name}/ingest"))
                snk = c.jobs(c.job_ids(f"{name}/sink"))
                ddl = c.jobs(c.job_ids(f"{name}/ddl"))
                files = _parquet_files(out)
                nbytes = sum(os.path.getsize(f) for f in files)
                rows_valid = sum(landed.values())
                last_end = max((b for _, b in snk["intervals"]), default=t_written * 1000)
                res.update(bench.spark_layer(_merge([ing, snk, ddl]), (t0, t1)))
                res.update(
                    {
                        "ingest.build_ms": (p1 - p0) * 1000.0,
                        "ingest.rows_in": snk["input_records"],
                        "ingest.rows_valid": snk["output_records"],
                        "ingest.rows_dropped": snk["input_records"] - snk["output_records"],
                        "ingest.valid_ratio": snk["output_records"] / max(1, snk["input_records"]),
                        "sinks.write_ms": (p2 - p1) * 1000.0,
                        "sinks.commit_ms": t_written * 1000.0 - last_end,
                        "sinks.files_written": len(files),
                        "sinks.bytes_written": nbytes,
                        "sinks.bytes_per_event": nbytes / max(1, rows_valid),
                        "catalog.ddl_ms": (p3 - p2) * 1000.0,
                        "collect_ms": (time.perf_counter() - pc) * 1000.0,
                    }
                )
            return res

        return op

    ops = [make_op(k) for k in range(BATCH_SLICES)]
    warm_s = warm_up(ops)
    setup_s = session_s + stage_s + warm_s
    results = timed_rounds(bench, ops)
    closed_loop_metrics(bench, results, setup_s)
    plain = [r["ms"] for r in results if not r["traced"]]
    events_per_s = BATCH_EVENTS * bench.e2e["ops_per_s"]
    bench.report["events_per_s"] = (events_per_s, "1/s", len(plain))
    bench.layer.update(
        {
            "session.start_s": session_s,
            "session.stage_s": stage_s,
            "session.warmup_s": warm_s,
            "events_per_s": events_per_s,
        }
    )
    if bench.trace:
        for f in (
            "spark.jobs", "spark.stages", "spark.tasks", "spark.shuffle_read_bytes",
            "spark.shuffle_write_bytes", "spark.input_bytes", "spark.output_bytes",
            "ingest.rows_in", "ingest.rows_valid", "ingest.rows_dropped",
            "ingest.valid_ratio", "sinks.files_written", "sinks.bytes_written",
            "sinks.bytes_per_event",
        ):
            bench.layer[f] = per_key_mean(results, f)
        for f in (
            "spark.executor_run_ms", "spark.executor_cpu_ms", "spark.gc_ms",
            "spark.driver_ms", "ingest.build_ms", "sinks.write_ms",
            "sinks.commit_ms", "catalog.ddl_ms",
        ):
            bench.layer[f] = traced_median(results, f)


# --- lake_queries ------------------------------------------------------------


def lake_queries(bench: Bench, session_s: float) -> None:
    from user_behavior_spark_pipeline_spark import analytics, catalog, sinks
    from user_behavior_spark_pipeline_spark.materialize import (
        release_keyed,
        release_shared,
    )
    from user_behavior_spark_pipeline_spark.operators.ingest import validate_events
    from user_behavior_spark_pipeline_spark.registry import ORACLES, QUERIES

    spark = bench.spark
    tr = bench.tracer
    ddl_ms, write_ms = [], []

    def stage(d):
        tables = os.path.join(d, "tables")
        os.makedirs(tables)
        ev = gen.events_table(bench.seed, LAKE_EVENTS, LAKE_USERS)
        gen.write_parquet(ev, os.path.join(tables, "events.parquet"))
        for name, t in gen.star_tables(bench.seed, **STAR).items():
            gen.write_parquet(t, os.path.join(tables, f"{name}.parquet"))
        records, _ = gen.kafka_records(bench.seed, ev)
        raw_path = os.path.join(d, "kafka")
        gen.write_partitions(records, raw_path)
        lake = os.path.join(d, "lake")
        t0 = time.perf_counter()
        with tr.span("sinks.write_partitioned"):
            sinks.write_partitioned(
                validate_events(spark.read.parquet(raw_path)), lake, ["event_type"]
            )
        write_ms.append((time.perf_counter() - t0) * 1000.0)
        t0 = time.perf_counter()
        with tr.span("catalog.create_external_parquet_table"):
            catalog.create_external_parquet_table(spark, LAKE_TABLE, lake, repair=True)
        ddl_ms.append((time.perf_counter() - t0) * 1000.0)
        con = checks.table_connection(
            tables, ("events", "region", "nation", "customer", "orders", "lineitem")
        )
        checks.lake_view(con, lake)
        return tables, con

    (tables, con), stage_s = bench.stage(stage)
    lake_files = _parquet_files(os.path.join(os.path.dirname(tables), "lake"))
    lake_bytes = sum(os.path.getsize(f) for f in lake_files)
    lake_rows = con.execute("SELECT COUNT(*) FROM lake").fetchone()[0]

    def lake_df():
        return spark.table(LAKE_TABLE)

    builders = {
        "ref_show_tables": lambda: catalog.show_tables(spark),
        "ref_describe_table": lambda: catalog.describe_table(spark, LAKE_TABLE),
        "ref_count_events": lambda: analytics.count_events(lake_df()),
        "ref_first_events": lambda: analytics.first_events(lake_df(), "timestamp", 10),
        "ref_events_by_type": lambda: analytics.events_by(lake_df(), "event_type"),
        "ref_events_by_host_and_type": lambda: analytics.events_by_host_and_type(
            lake_df()
        ),
        "ref_distinct_host_type_detail": lambda: analytics.distinct_host_type_detail(
            lake_df()
        ),
    }
    for q in REGISTRY_QUERIES:
        builders[q] = functools.partial(QUERIES[q], spark, tables)
    oracle_sql = dict(checks.REFERENCE_SQL)
    oracle_sql.update({q: ORACLES[q] for q in REGISTRY_QUERIES})
    verified: dict = {}

    def verify(q: str, pdf) -> bool:
        """Full compare on a query's first result; its hash afterwards."""
        if q not in verified:
            from tests.oracle_utils import assert_frames_match

            try:
                if q in oracle_sql:
                    assert_frames_match(pdf, con.execute(oracle_sql[q]).df(), q)
                elif not checks.catalog_matches(q, pdf, con, LAKE_TABLE):
                    raise AssertionError(f"{q}: catalog listing differs")
                verified[q] = checks.frame_hash(pdf)
            except AssertionError as exc:
                print(f"check failed: {exc}")
                verified[q] = None
        return verified[q] is not None and checks.frame_hash(pdf) == verified[q]

    def make_op(q: str):
        build = builders[q]

        def op(traced: bool) -> dict:
            name = bench.new_op()
            t0, p0 = time.time(), time.perf_counter()
            bench.group(name, "build")
            with tr.span("query.build"):
                df = build()
            p1 = time.perf_counter()
            bench.group(name, "action")
            with tr.span("query.action"):
                pdf = df.toPandas()
            p2 = time.perf_counter()
            persisted = len(bench.sc._jsc.getPersistentRDDs()) if traced else 0
            p2b = time.perf_counter()
            with tr.span("materialize.release"):
                release_shared()
                release_keyed()
            p3, t1 = time.perf_counter(), time.time()
            # the persisted-RDD probe is tracing, not op work
            ms = (p3 - p0 - (p2b - p2)) * 1000.0
            ok = verify(q, pdf)
            bench.record(ok)
            res = {"key": q, "ms": ms, "ok": ok}
            if traced:
                pc = time.perf_counter()
                c = bench.counters
                b = c.jobs(c.job_ids(f"{name}/build"))
                a = c.jobs(c.job_ids(f"{name}/action"))
                res.update(bench.spark_layer(_merge([b, a]), (t0, t1)))
                res.update(
                    {
                        "query.build_ms": (p1 - p0) * 1000.0,
                        "query.build_jobs": b["jobs"],
                        "query.action_ms": (p2 - p1) * 1000.0,
                        "materialize.release_ms": (p3 - p2b) * 1000.0,
                        "materialize.persisted_rdds": persisted,
                        "collect_ms": (time.perf_counter() - pc + p2b - p2) * 1000.0,
                    }
                )
            return res

        return op

    order = list(builders)
    random.Random(bench.seed).shuffle(order)
    ops = [make_op(q) for q in order]
    warm_s = warm_up(ops)
    setup_s = session_s + stage_s + warm_s
    results = timed_rounds(bench, ops)
    closed_loop_metrics(bench, results, setup_s)
    plain = [r for r in results if not r["traced"]]
    qps = bench.e2e["ops_per_s"]
    bench.report["queries_per_s"] = (qps, "1/s", len(plain))
    bench.layer.update(
        {
            "session.start_s": session_s,
            "session.stage_s": stage_s,
            "session.warmup_s": warm_s,
            "catalog.ddl_ms": statistics.median(ddl_ms),
            "queries_per_s": qps,
            # the set-up's sink write of the lake the queries read
            "sinks.write_ms": statistics.median(write_ms),
            "sinks.files_written": len(lake_files),
            "sinks.bytes_written": lake_bytes,
            "sinks.bytes_per_event": lake_bytes / lake_rows,
        }
    )
    for q in order:
        vals = [r["ms"] for r in plain if r["key"] == q]
        bench.layer[f"query.{q}.p50_ms"] = statistics.median(vals)
    if bench.trace:
        for f in (
            "spark.jobs", "spark.stages", "spark.tasks", "spark.shuffle_read_bytes",
            "spark.shuffle_write_bytes", "spark.input_bytes", "spark.output_bytes",
            "query.build_jobs", "materialize.persisted_rdds",
        ):
            bench.layer[f] = per_key_mean(results, f)
        for f in (
            "spark.executor_run_ms", "spark.executor_cpu_ms", "spark.gc_ms",
            "spark.driver_ms", "query.build_ms", "query.action_ms",
            "materialize.release_ms",
        ):
            bench.layer[f] = traced_median(results, f)


# --- stream_ingest -----------------------------------------------------------


class LoadGen(threading.Thread):
    """Open-loop sender: moves pre-staged files into the source directory
    at fixed times, by atomic rename, whatever the stream is doing."""

    def __init__(self, files: list[str], src_dir: str, sched: list[float]):
        super().__init__(daemon=True)
        self.files, self.src_dir, self.sched = files, src_dir, sched
        self.sent: list[float] = []
        self.stop_event = threading.Event()

    def run(self) -> None:
        for path, due in zip(self.files, self.sched):
            delay = due - time.time()
            if delay > 0 and self.stop_event.wait(delay):
                return
            os.rename(path, os.path.join(self.src_dir, os.path.basename(path)))
            self.sent.append(time.time())


def stream_ingest(bench: Bench, session_s: float) -> None:
    from user_behavior_spark_pipeline_spark.operators.ingest import validate_events
    from user_behavior_spark_pipeline_spark.schemas import KAFKA_DOUBLE_SCHEMA
    from user_behavior_spark_pipeline_spark.sinks import write_partitioned
    from user_behavior_spark_pipeline_spark.streaming import jobs

    spark = bench.spark
    tr = bench.tracer
    warm_files = int(STREAM_WARM_S * STREAM_WARM_RATE)
    n_files = warm_files + int(round(bench.seconds * STREAM_RATE))

    def stage(d):
        ev = gen.events_table(bench.seed, n_files * STREAM_FILE_EVENTS, LAKE_USERS)
        table, labels = gen.kafka_records(bench.seed, ev)
        files = gen.write_stream_files(table, STREAM_FILE_EVENTS, os.path.join(d, "hold"))
        return files, labels

    (files, labels), stage_s = bench.stage(stage)
    names = [os.path.basename(f) for f in files]
    src, out, ckpt = bench.path("src"), bench.path("lake_stream"), bench.path("ckpt")
    os.makedirs(src)

    # untimed: the per-batch plan runs once as a batch job on one
    # staged file, then the stream takes the first warm_files of the
    # schedule; the timed window is the rest
    t_warm = time.perf_counter()
    raw = spark.read.schema(KAFKA_DOUBLE_SCHEMA).json(files[-1])
    write_partitioned(validate_events(raw), bench.path("warm_lake"), ["event_type"])
    with tr.span("streaming.jobs.file_stream_source"):
        source = jobs.file_stream_source(spark, src)
    with tr.span("streaming.jobs.write_validated_stream"):
        query = jobs.write_validated_stream(source, out, ckpt, available_now=False)
    # warm-up files arrive faster, so more micro-batches warm the JIT; the
    # window's first file is due one window interval after the last of them
    t_send = time.time() + 0.2
    sched = [t_send + i / STREAM_WARM_RATE for i in range(warm_files)]
    sched += [sched[-1] + (i + 1) / STREAM_RATE for i in range(n_files - warm_files)]
    sender = LoadGen(files, src, sched)
    sender.start()
    try:
        while len(sender.sent) < warm_files and sender.is_alive():
            time.sleep(0.01)
        warm_s = time.perf_counter() - t_warm
        sender.join()
        query.processAllAvailable()
        progress = query.recentProgress
        run_id = str(query.runId)
    finally:
        sender.stop_event.set()
        query.stop()

    batches = metrics.source_log(os.path.join(ckpt, "sources", "0"))
    commits = metrics.commit_times(os.path.join(out, "_spark_metadata"))
    fresh = metrics.freshness_ms(dict(zip(names, sender.sched)), batches, commits)
    window = names[warm_files:]

    # output check: every file committed, landed counts as generated
    landed = checks.landed_counts(duckdb.connect(), out)
    failed = sum(1 for n in names if n not in fresh)
    if landed != gen.expected_counts(labels):
        failed = len(names)
    bench.attempted += len(names)
    bench.failed += failed

    s = metrics.summarize([fresh[n] for n in window if n in fresh])
    win_start = sender.sched[warm_files]
    win_end = max(commits[b] for b, fs in batches.items() if fs & set(window))
    ops_per_s = len(window) / (win_end - win_start)
    bench.e2e.update(
        {"setup_s": session_s + stage_s + warm_s, "ops_per_s": ops_per_s, "op_p50_ms": s["p50"]}
    )
    bench.report["events_per_s"] = (ops_per_s * STREAM_FILE_EVENTS, "1/s", len(window))
    bench.report["freshness_p50_ms"] = (s["p50"], "ms", s["n"])
    if s["tail_pct"]:
        bench.report[f"freshness_p{s['tail_pct']:g}_ms"] = (s["tail"], "ms", s["n"])

    # load generator validity: lateness, backlog, and whether it grew
    late = [(a - d) * 1000.0 for a, d in zip(sender.sent, sender.sched)]
    w_sent = sender.sched[warm_files:]
    w_commit = [sender.sched[warm_files + i] + fresh[n] / 1000.0
                for i, n in enumerate(window) if n in fresh]
    backlog = metrics.backlog_max(w_sent, w_commit)
    half = len(w_sent) // 2
    early = metrics.backlog_max(w_sent[:half], [c for c in w_commit if c <= w_sent[half - 1]])
    rows_valid = sum(landed.values()) / len(names)
    bench.layer.update(
        {
            "session.start_s": session_s,
            "session.stage_s": stage_s,
            "session.warmup_s": warm_s,
            "events_per_s": ops_per_s * STREAM_FILE_EVENTS,
            "freshness_p50_ms": s["p50"],
            "freshness_p90_ms": s["tail"] if s["tail_pct"] == 90.0 else 0.0,
            "op_samples": s["n"],
            "op_tail_pct": s["tail_pct"],
            "op_tail_ms": s["tail"],
            "loadgen.files_sent": len(window),
            "loadgen.late_p90_ms": metrics.percentile(late, 90.0),
            "loadgen.backlog_max_files": backlog,
            # the backlog over the whole window well above its first-half
            # high-water mark: the rate exceeds what the stream drains
            "loadgen.saturated": int(backlog > 2 * max(early, 2)),
            # per op (one file)
            "ingest.rows_in": STREAM_FILE_EVENTS,
            "ingest.rows_valid": rows_valid,
            "ingest.rows_dropped": STREAM_FILE_EVENTS - rows_valid,
            "ingest.valid_ratio": rows_valid / STREAM_FILE_EVENTS,
        }
    )
    if bench.trace:
        t_collect = time.perf_counter()
        _stream_layers(bench, progress, batches, window, run_id, ckpt, out,
                       sum(landed.values()))
        # tracing reads everything after the window closes, so it cannot
        # slow the window; this is its cost relative to the window
        bench.layer["trace.overhead_pct"] = (
            100.0 * (time.perf_counter() - t_collect) / bench.seconds
        )


def json_of(progress) -> dict:
    return json.loads(progress.json)


def _stream_layers(bench, progress, batches, window, run_id, ckpt, out, landed_rows) -> None:
    """Per-batch stream metrics over the batches that carried window files."""
    wset = set(window)
    wb = sorted(b for b, fs in batches.items() if fs & wset)
    by_id = {}
    for p in (json_of(x) for x in progress):
        by_id.setdefault(p["batchId"], p)
    recs = [by_id[b] for b in wb if b in by_id]
    for ph in PHASES:
        vals = [p["durationMs"].get(ph, 0) for p in recs]
        bench.layer[f"streaming.{ph}_ms"] = statistics.median(vals) if vals else 0.0
    bench.layer["streaming.batches"] = len(wb)
    bench.layer["streaming.rows_per_batch"] = statistics.median(
        [p.get("numInputRows", 0) for p in recs] or [0]
    )
    bench.layer["streaming.files_per_batch"] = statistics.median(
        [len(batches[b]) for b in wb] or [0]
    )
    bench.layer["streaming.checkpoint_bytes"] = _du(ckpt)
    t0 = min(_epoch(p["timestamp"]) for p in recs)
    t1 = max(_epoch(p["timestamp"]) + p["durationMs"]["triggerExecution"] / 1000 for p in recs)
    c = bench.counters
    counts = c.jobs(c.job_ids(run_id), window_ms=(t0 * 1000, t1 * 1000))
    per = max(1, len(recs))
    bench.layer.update(bench.spark_layer(counts, (t0, t0), per))
    # driver time: each batch's trigger time not covered by its jobs
    bench.layer["spark.driver_ms"] = statistics.fmean(
        spans.uncovered_ms(
            _epoch(p["timestamp"]),
            _epoch(p["timestamp"]) + p["durationMs"]["triggerExecution"] / 1000,
            counts["intervals"],
        )
        for p in recs
    )
    files = _parquet_files(out)
    nbytes = sum(os.path.getsize(f) for f in files)
    bench.layer["sinks.files_written"] = len(files)
    bench.layer["sinks.bytes_written"] = nbytes
    bench.layer["sinks.bytes_per_event"] = nbytes / max(1, landed_rows)


def _epoch(iso: str) -> float:
    return datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp()


def _parquet_files(path: str) -> list[str]:
    return [
        os.path.join(r, f) for r, _, fs in os.walk(path) for f in fs if f.endswith(".parquet")
    ]


def _du(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(r, f)) for r, _, fs in os.walk(path) for f in fs
    )


WORKLOADS = {
    "batch_ingest": batch_ingest,
    "stream_ingest": stream_ingest,
    "lake_queries": lake_queries,
}

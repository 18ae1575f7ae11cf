"""Benchmark harness — times the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].

Prints ONE compact JSON line LAST (the driver's tail capture is ~2 KB, so a
100-entry per-query map inline would truncate mid-line — round-1 bench was
unparseable for exactly that reason):
  {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}
where "queries" holds only the 10 slowest; the FULL per-query map is written
to BENCH_DETAIL.json next to this script.

``--runs N`` (or env SPARK_GRAFT_RUNS) samples every query N times in one
session and reports the per-query MEDIAN, with min/max spread per query
in BENCH_DETAIL.json — single-shot numbers on a shared box swing ±10-20%
(round-6 observation: three same-code runs totalled 136.5/147.0/165.8 s),
which previously needed hand-run idle triplicates and prose adjudication
(BENCH_NOTES); medians make round-over-round deltas self-describing
(VERDICT r05 #8). Default is 3 runs, bounded by $SPARK_GRAFT_BENCH_BUDGET
(1000 s of wall-clock; sized in round 9 to hold 3 full passes on a
slow-band day — see the inline note at budget_s). Scheduling is PER QUERY, not per suite (VERDICT
r06 #6 — the r06 run lost its third pass because whole-suite passes
leave the budget check only between passes): pass 1 covers every query,
then extra samples run cheapest-query-first with the budget checked
before EACH query against its own estimated cost, so wall-clock overrun
is bounded by one query (~seconds), not one suite pass (~minutes), and
a contended box sheds samples from the expensive tail last-first instead
of dropping a whole pass for everyone. "runs" reports the MINIMUM
samples any query received (the driver-facing guarantee); per-query
sample counts are in BENCH_DETAIL.json.

Each query is fully materialized through the noop datasource (no driver-side
collect bottleneck, no disk write) — i.e. we time scan + compute + shuffle,
which is what scales.

Every timed sample drains the shared-intermediate caches
(``release_shared()``) inside its window, so every sample pays the cold
build. The JSON line additionally echoes ``cpus``,
``default_parallelism`` and two floor-calibration medians (additions only;
the driver contract fields are unchanged).

Layer counters go to BENCH_DETAIL.json only: each query's ``spread`` entry
holds ``codegen_compiles``, the Janino compiles of each sample (aligned with
``all``), read just before and just after the timed window. A query whose
samples ran micro-batches (the ``x_stream_*`` family, whose streams run
inside the builder) also holds ``stream_batches`` and ``stream_phase_ms``:
per sample, the progress events one ``StreamingQueryListener`` saw and
their ``durationMs`` summed per phase (addBatch, walCommit, ...), read
after the timer stops, once the listener bus has drained."""

from __future__ import annotations

import collections
import json
import os
import statistics
import sys
import time

from pyspark.sql.streaming import StreamingQueryListener

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


class _ProgressLog(StreamingQueryListener):
    """Keeps the ``durationMs`` map of every micro-batch progress event
    the session's streams post, in arrival order."""

    def __init__(self) -> None:
        self.durations: list[dict[str, int]] = []

    def onQueryStarted(self, event) -> None:
        pass

    def onQueryProgress(self, event) -> None:
        self.durations.append(dict(event.progress.durationMs))

    def onQueryTerminated(self, event) -> None:
        pass


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    runs = int(os.environ.get("SPARK_GRAFT_RUNS", "3"))
    if "--runs" in sys.argv:
        runs = int(sys.argv[sys.argv.index("--runs") + 1])
    runs = max(1, runs)
    # no new SAMPLE starts once this much wall-clock has elapsed (a
    # sample that has started always completes): medians by default
    # without risking a caller's subprocess timeout if the box is slow
    # that day. History: 300 -> 480 with per-query scheduling (overrun
    # past the budget is one query, seconds, not one suite pass);
    # 480 -> 860 -> 1000 in round 9, sized to MEASURED full passes (this
    # box runs identical code up to 1.5x slower hour to hour — the
    # host-speed band, BENCH_NOTES), so 480 could never hold 3 passes
    # and the shipped artifact violated the repo's own median-of-3
    # standard (VERDICT r08 #2). Sizing data, 173-query catalog: fast
    # band = pass 1 ~257 s + passes 2-3 ~212 s each; slow band = 270 +
    # 2x259; plus ~60 s untimed GC/scheduling => ~740-850 s needed. 860
    # delivered runs=3 on the fast band but left the 12 costliest
    # queries one sample short on a slow-band run; 1000 covers the band.
    # Worst-case wall is budget + ONE query (~11 s) + session boot/warm
    # (~30 s) ~= 17.4 min — bounded and small against a multi-hour
    # round; on a fast day the run simply finishes early (the loop
    # stops after `runs` samples per query, it never pads to the
    # budget).
    budget_s = float(os.environ.get("SPARK_GRAFT_BENCH_BUDGET", "1000"))
    try:
        sf = float(os.path.basename(sf_dir.rstrip("/")).replace("sf", "") or 0)
    except ValueError:
        sf = 0.0  # non-sf<N> directory name: still bench, report sf=0

    from user_behavior_spark_pipeline_spark.fixtures import prepare_staged
    from user_behavior_spark_pipeline_spark.registry import QUERIES
    from user_behavior_spark_pipeline_spark.session import (
        codegen_compiles,
        get_spark,
    )

    spark = get_spark(app_name="ubsp-bench")
    spark.sparkContext.setLogLevel("ERROR")
    progress = _ProgressLog()
    spark.streams.addListener(progress)
    listener_bus = spark.sparkContext._jsc.sc().listenerBus()

    # warm the JVM/codegen/file-index paths so the first timed query isn't
    # charged for session bootstrap
    spark.read.parquet(f"{sf_dir}/lineitem.parquet").count()
    spark.read.parquet(f"{sf_dir}/events.parquet").count()
    # pre-warm memoized fixtures (staged stream sources, bucketed CTAS):
    # fixture setup is layout maintenance, not query work
    prepare_staged(spark, sf_dir)

    from user_behavior_spark_pipeline_spark.materialize import release_shared

    bench_names = sorted(QUERIES)
    # --only a,b,c: restrict to a named subset — the scale-rehearsal
    # hook (VERDICT r06 #1: time the slow tail once at sf1 without
    # paying 141 queries x 10x data). Unknown names are an error, not a
    # silent skip.
    if "--only" in sys.argv:
        only = set(sys.argv[sys.argv.index("--only") + 1].split(","))
        unknown = only - set(bench_names)
        if unknown:
            raise SystemExit(f"--only: unknown queries {sorted(unknown)}")
        bench_names = [n for n in bench_names if n in only]
    samples: dict[str, list[float]] = {n: [] for n in bench_names}
    # Janino compiles per sample, aligned with samples[name]: the
    # generated-code layer's counter, read outside the timed window
    compiles: dict[str, list[int]] = {n: [] for n in bench_names}
    # micro-batches per sample and their {phase: summed durationMs},
    # aligned with samples[name]; read after the timed window
    batches: dict[str, list[int]] = {n: [] for n in bench_names}
    phase_ms: dict[str, list[dict[str, int]]] = {n: [] for n in bench_names}
    bench_start = time.perf_counter()

    def _sample(name: str) -> None:
        # isolate per-query cost: collect garbage left by the previous
        # query (memory sinks, state stores) before starting the clock.
        # Skipped once a query has shown itself sub-second — a full JVM
        # GC costs ~0.1-0.3 s of UNTIMED budget per sample, and across
        # ~400 cheap-query samples that burned ~1 minute of the budget
        # (round 9) for isolation those 0.3 s timings don't measurably
        # need; every first sample and every >= 1 s query keeps the GC.
        if not samples[name] or statistics.median(samples[name]) >= 1.0:
            spark._jvm.System.gc()
        compiled = codegen_compiles(spark)
        # drain first: progress from earlier streams (the fixture
        # warm-ups) must not land in this sample
        listener_bus.waitUntilEmpty()
        seen = len(progress.durations)
        t0 = time.perf_counter()
        df = QUERIES[name](spark, sf_dir)
        df.write.format("noop").mode("overwrite").save()
        # reclaim executor storage held by shared-intermediate caches
        # (cache_shared registry) — inside the timed window: releasing a
        # query's caches is part of that query's cost, not its
        # successor's
        release_shared()
        samples[name].append(round(time.perf_counter() - t0, 3))
        compiles[name].append(codegen_compiles(spark) - compiled)
        listener_bus.waitUntilEmpty()
        ran = progress.durations[seen:]
        summed = collections.Counter()
        for durations in ran:
            summed.update(durations)
        batches[name].append(len(ran))
        phase_ms[name].append(dict(summed))

    # pass 1: every query gets its (mandatory) first sample
    for name in bench_names:
        _sample(name)
    # extra samples, budget checked per QUERY. Pass 2 runs cheapest-first
    # so a tight budget sheds the expensive tail's re-runs, never pass 1
    # or the cheap majority's medians. Pass 3+ is the SPIKE-REPAIR pass
    # (round 16 — VERDICT r15 #3: a median of two cannot reject this
    # box's multi-second contention spikes, and cheapest-first made the
    # spike victims the LAST to get the third sample that repairs them):
    # queries are taken largest-relative-disagreement first, and the
    # budget fit uses the MIN sample as the cost estimate (when samples
    # disagree, the min is the best cold-cost estimate — a spiked median
    # would overestimate and starve exactly the queries that need the
    # repair; overrun stays bounded by one query, as before). Methodology
    # is otherwise unchanged: same samples-per-query target, same
    # median reporting — only the ORDER of extra samples moved.
    for r in range(1, runs):
        # pick from the REMAINING queries by their CURRENT samples each
        # step (ADVICE r07: a pre-round sort goes stale as _sample()
        # mutates the stats it was keyed on). For the cheapest-first
        # pass the min-of-remainder makes the early-break invariant
        # exact: when the cheapest remaining estimate doesn't fit,
        # nothing else this round fits either.
        pending = set(bench_names)
        while pending:
            if r == 1:
                name = min(
                    pending, key=lambda n: statistics.median(samples[n])
                )
                if (
                    time.perf_counter() - bench_start
                    + statistics.median(samples[name])
                    > budget_s
                ):
                    break
            else:
                left = budget_s - (time.perf_counter() - bench_start)
                fits = [n for n in pending if min(samples[n]) <= left]
                if not fits:
                    break
                name = max(
                    fits,
                    key=lambda n: (max(samples[n]) - min(samples[n]))
                    / max(statistics.median(samples[n]), 1e-9),
                )
            pending.discard(name)
            _sample(name)

    timings = {
        n: round(statistics.median(t), 3) for n, t in samples.items() if t
    }
    spread = {
        n: {
            "median": timings[n],
            "min": min(t),
            "max": max(t),
            "all": t,
            "n_samples": len(t),
            "codegen_compiles": compiles[n],
        }
        for n, t in samples.items()
        if t
    }
    for n in spread:
        if any(batches[n]):
            spread[n]["stream_batches"] = batches[n]
            spread[n]["stream_phase_ms"] = phase_ms[n]
    runs_min = min(len(t) for t in samples.values())
    runs_max = max(len(t) for t in samples.values())
    total = round(sum(timings.values()), 3)
    detail_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "BENCH_DETAIL.json"
    )
    with open(detail_path, "w") as f:
        json.dump(
            {
                "metric": "total_query_wall_clock",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "spread": spread,
                "runs": runs_min,
                "runs_max": runs_max,
                "runs_requested": runs,
                "sf": sf,
                "n_queries": len(timings),
            },
            f,
            indent=1,
            sort_keys=True,
        )
    slowest = dict(
        sorted(timings.items(), key=lambda kv: kv[1], reverse=True)[:10]
    )
    # additions-only JSON-line fields (VERDICT r15 #2 — make scaling
    # observable): the core count + actual defaultParallelism so the
    # driver's low-core probe can confirm the env var is honored, and
    # two untouched floor-calibration medians so cross-round totals can
    # be band-normalized (this box runs identical code up to 1.5x slower
    # hour to hour — BENCH_NOTES).
    floor = {
        n: timings[n]
        for n in ("ref_count", "ref_groupby_direction")
        if n in timings
    }
    print(
        json.dumps(
            {
                "metric": "total_query_wall_clock",
                "value": total,
                "unit": "sec",
                "queries": slowest,
                "runs": runs_min,
                "runs_max": runs_max,
                "sf": sf,
                "n_queries": len(timings),
                "cpus": os.environ.get("SPARK_GRAFT_CPUS", "*"),
                "default_parallelism": spark.sparkContext.defaultParallelism,
                "floor": floor,
                "detail": "BENCH_DETAIL.json",
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()

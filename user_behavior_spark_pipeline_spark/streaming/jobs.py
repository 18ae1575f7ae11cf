"""Structured Streaming jobs — the reference's streaming ETL re-expressed
(SURVEY.md §2.3, §3.1) plus the stateful operators it lacked (§2.5).

The canonical reference job (README.md:372-423): Kafka stream → UDF filter →
parse/flatten → checkpointed parquet sink, 10 s processingTime trigger.
Ours:

- source: Kafka in production (sources.kafka) or a file-stream test double
  with the identical record schema — the transformation code is shared and
  source-agnostic (it takes a DataFrame, streaming or not);
- the validate/parse/flatten is the SAME function as batch
  (operators.ingest.validate_events) — batch/stream unification is the point
  of Structured Streaming;
- sink: ONE partitioned parquet sink (partitionBy event_type) replaces the
  reference's three per-type sink queries (rpg_spark_stream.py:120-145) —
  one checkpoint, one state store, three directories' worth of layout;
- tests use trigger(availableNow=True), never wall-clock processingTime
  (FIXTURES.md §3).

At scale: the file sink's manifest commit gives exactly-once
(README.md:1224-1226 observed the same protocol); watermarks bound state for
windowed aggs and dedup; maxFilesPerTrigger/maxOffsetsPerTrigger bound
per-batch work.

**Two terminal shapes.** Every job here ends in one of two sinks:

- :func:`parquet_sink` — the PRODUCTION shape: checkpointed parquet file
  sink, append mode, availableNow (or the default trigger for a
  continuously running query). Append mode lets the watermark evict
  aggregation and join state, and the checkpoint manifest makes the sink
  exactly-once (validated events, dedup, the LEFT stream-stream join, the
  binary-walker ingests).
- :func:`_memory_sink` — the VERIFICATION shape: a driver-resident memory
  table with availableNow. Over a bounded fixture, complete/update mode is
  what makes every window or group visible for the deterministic
  end-state check. It is not the unbounded-deployment form — in complete
  mode Spark never uses the watermark to evict state, and a memory sink
  grows with the result set. A continuous deployment writes append/update
  mode through :func:`parquet_sink` and gives per-key state a timeout
  (applyInPandasWithState timeoutConf) sized to the key churn, as the
  stateful functions' docstrings detail.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators.ingest import validate_events
from ..schemas import KAFKA_DOUBLE_SCHEMA


def file_stream_source(
    spark: SparkSession,
    source_dir: str,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Kafka test double: a directory of JSON records with the Kafka-shaped
    (value, timestamp, offset) schema (FIXTURES.md §1/§3)."""
    reader = spark.readStream.schema(KAFKA_DOUBLE_SCHEMA)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    return reader.json(source_dir)


def landing_stream_source(
    spark: SparkSession,
    source_dir: str,
    id_col: str,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Landing-directory source for the binary-container walkers: parquet
    files of ``(<id_col> long, payload binary)`` rows — the drop-box shape
    of a fetcher writing WARC archives (``archive_id``), MP4/Avro
    containers (``media_id``) or tar/JSONL shards (``shard_id``).
    maxFilesPerTrigger bounds per-batch work so a 100 TB backlog drains in
    bounded-memory batches instead of one giant micro-batch.

    The walkers (warc_records, mp4_sample_ranges, webdataset_members,
    jsonl_shard_lines, avro_records) are stateless mapInPandas, so the
    identical operator object serves batch and stream:
    ``parquet_sink(walker(landing_stream_source(...)), out, ckpt)`` is the
    streaming ingest, and the x_stream_* queries certify batch≡stream
    against the batch quarantine oracles. Corruption quarantines in-stream
    (parse_error rows flow to the same sink; one corrupt container never
    kills the query)."""
    reader = spark.readStream.schema(f"{id_col} long, payload binary")
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    return reader.parquet(source_dir)


def parquet_sink(
    frame: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    partition_by: str | None = None,
    available_now: bool = True,
):
    """The production terminal (OP-SINK-PARQUET-STREAM): checkpointed
    parquet file sink in append mode — exactly-once through the
    checkpoint manifest. ``available_now=False`` keeps Spark's default
    trigger (the next micro-batch starts as soon as the previous one
    ends) for a continuously running query."""
    writer = (
        frame.writeStream.format("parquet")
        .option("checkpointLocation", checkpoint_dir)
        .option("path", out_dir)
        .outputMode("append")
    )
    if partition_by:
        writer = writer.partitionBy(partition_by)
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def _memory_sink(frame: DataFrame, query_name: str, output_mode: str):
    """The verification terminal: availableNow into the driver-resident
    memory table ``query_name`` (read back with ``spark.table``)."""
    return (
        frame.writeStream.format("memory")
        .queryName(query_name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )


def write_validated_stream(
    raw_stream: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    partition_by: str | None = "event_type",
    available_now: bool = True,
):
    """The canonical pipeline's sink: validated events → checkpointed,
    partitioned parquet, exactly-once."""
    return parquet_sink(
        validate_events(raw_stream),
        out_dir,
        checkpoint_dir,
        partition_by=partition_by,
        available_now=available_now,
    )


def console_stream(raw_stream: DataFrame, available_now: bool = True):
    """OP-SINK-CONSOLE (filter_swords_stream.py:62-65) — debug sink."""
    writer = validate_events(raw_stream).writeStream.format("console")
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def windowed_counts_stream(
    raw_stream: DataFrame,
    query_name: str,
    watermark: str = "1 day",
    window: str = "1 day",
):
    """Watermarked tumbling event-time counts to a memory sink (complete
    mode, so every window is visible at end-of-stream — append mode would
    hold back windows the watermark hasn't passed)."""
    valid = validate_events(raw_stream)
    counts = (
        valid.withWatermark("timestamp", watermark)
        .groupBy(F.window("timestamp", window).alias("w"), F.col("event_type"))
        .agg(F.count(F.lit(1)).alias("num_events"))
        .select(
            F.date_format("w.start", "yyyy-MM-dd").alias("day"),
            "event_type",
            "num_events",
        )
    )
    return _memory_sink(counts, query_name, "complete")


def dedup_stream(
    raw_stream: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    watermark: str = "48 hours",
):
    """Streaming dedup (OP-X-DEDUP streaming form): one row per offset within
    the watermark horizon — dropDuplicatesWithinWatermark bounds state by
    event time, the 100 TB-safe variant of dropDuplicates.

    "Safe" is only as true as the horizon: state holds every distinct key
    seen WITHIN the watermark, so a year-long horizon at corpus-scale
    throughput is the whole keyset — the unbounded behavior this function
    exists to avoid. The default is a realistic redelivery window (most
    at-least-once sources replay within minutes-to-hours); widen it
    deliberately, sized as keys/hour × horizon × state-row bytes, when
    the source can genuinely redeliver older data (the bounded-fixture
    tests pass 365 days explicitly for whole-span replay determinism)."""
    deduped = (
        raw_stream.withWatermark("timestamp", watermark)
        .dropDuplicatesWithinWatermark(["offset"])
    )
    return parquet_sink(deduped, out_dir, checkpoint_dir)


def stateful_user_totals_stream(
    events_stream: DataFrame,
    query_name: str,
):
    """Custom stateful operator (applyInPandasWithState): per-user running
    totals over the raw events stream — the arbitrary-state API the
    reference's processing-time-only pipeline never reaches
    ("stateOperators": [] in every progress log, README.md:479).

    State per user = (n_events, total_cents); each micro-batch folds its
    Arrow batches into the state and emits the updated cumulative row
    (update mode). Totals are exact integer cents, so end-of-stream state
    hash-matches a batch GROUP BY. State lives in the state store — at
    100 TB state is partitioned by the grouping key across executors and
    each batch touches only keys present in that batch.

    This is the bounded-fixture verification form (module docstring):
    NoTimeout + memory sink are what make the finite-input end state
    deterministic and checkable. Lifetime running totals over an
    UNBOUNDED key space inherently hold one state row per key ever seen —
    a continuous deployment must either accept that (keys are bounded:
    registered users) or expire idle keys with
    GroupStateTimeout.ProcessingTimeTimeout + state.setTimeoutDuration
    in the fold (keys are unbounded: sessions, request ids), and write
    update mode to a real sink."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
    from pyspark.sql.types import (
        LongType,
        StructField,
        StructType,
    )

    out_schema = StructType(
        [
            StructField("user_id", LongType(), False),
            StructField("n_events", LongType(), False),
            StructField("total_cents", LongType(), False),
        ]
    )
    state_schema = StructType(
        [
            StructField("n_events", LongType(), False),
            StructField("total_cents", LongType(), False),
        ]
    )

    def _fold(key, pdfs, state: "GroupState"):
        n, total = state.get if state.exists else (0, 0)
        for pdf in pdfs:
            n += len(pdf)
            total += int((pdf["value"] * 100).round().astype("int64").sum())
        state.update((n, total))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "total_cents": [total]}
        )

    totals = events_stream.groupBy("user_id").applyInPandasWithState(
        _fold,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    return _memory_sink(totals, query_name, "update")


def final_user_totals(spark: SparkSession, query_name: str) -> DataFrame:
    """End-of-stream state from the update-mode sink: per user, the LAST
    emitted cumulative row (n_events is strictly increasing, so max-struct
    selects it deterministically regardless of micro-batch slicing)."""
    return (
        spark.table(query_name)
        .groupBy("user_id")
        .agg(F.max(F.struct("n_events", "total_cents")).alias("s"))
        .select("user_id", "s.n_events", "s.total_cents")
    )


def session_counts_stream(
    events_stream: DataFrame,
    query_name: str,
    gap: str = "30 minutes",
    watermark: str = "1 second",
):
    """Streaming gap-based session windows (session_window + watermark):
    per-user sessions merge as events arrive — the canonical stateful
    event-time operator the reference's processing-time pipeline lacks.
    Complete mode so every session is visible at end-of-stream (append mode
    would withhold sessions the watermark hasn't sealed)."""
    # Watermarks require TIMESTAMP (LTZ) — Spark rejects TIMESTAMP_NTZ event
    # time (EVENT_TIME_IS_NOT_ON_TIMESTAMP_TYPE). The canonical events.ts is
    # NTZ (sources/tables.py); session tz is pinned to UTC, so this cast is
    # wall-clock-identity and session_start_s stays engine-portable.
    events_stream = events_stream.withColumn("ts", F.col("ts").cast("timestamp"))
    sessions = (
        events_stream.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("w"), F.col("user_id"))
        .agg(F.count(F.lit(1)).alias("num_events"))
        .select(
            "user_id",
            F.floor(F.unix_timestamp("w.start")).alias("session_start_s"),
            "num_events",
        )
    )
    return _memory_sink(sessions, query_name, "complete")


def stream_static_join_stream(
    events_stream: DataFrame,
    customer_dim: DataFrame,
    query_name: str,
):
    """Stream-static join: the unbounded event stream enriched against a
    static dimension table (the README.md:819 "players × events" wish, in
    streaming form). The static side is broadcast — each micro-batch joins
    map-side with no stream-side shuffle before the aggregation; Spark
    re-plans the static side per batch, so dimension updates are picked up
    between batches."""
    enriched = events_stream.join(
        F.broadcast(customer_dim.select("c_custkey", "c_mktsegment")),
        events_stream["user_id"] == F.col("c_custkey"),
    )
    per_segment = enriched.groupBy(F.col("c_mktsegment").alias("mktsegment")).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.round(F.col("value") * 100).cast("long")).alias("total_cents"),
    )
    return _memory_sink(per_segment, query_name, "complete")


def _join_sides(
    clicks_stream: DataFrame, purchases_stream: DataFrame, watermark: str
) -> tuple[DataFrame, DataFrame]:
    """The watermarked click and purchase projections both interval joins
    share. NTZ→LTZ: watermarks require TIMESTAMP; the UTC session tz makes
    the cast wall-clock identity (see session_counts_stream)."""
    c = clicks_stream.select(
        F.col("user_id").alias("c_user"),
        F.col("ts").cast("timestamp").alias("click_ts"),
        F.col("event_id").alias("click_id"),
    ).withWatermark("click_ts", watermark)
    p = purchases_stream.select(
        F.col("user_id").alias("p_user"),
        F.col("ts").cast("timestamp").alias("purchase_ts"),
        F.col("value").alias("purchase_value"),
    ).withWatermark("purchase_ts", watermark)
    return c, p


def _join_pairs(
    c: DataFrame, p: DataFrame, key_cond, horizon_seconds: int, how: str
) -> DataFrame:
    """Join on ``key_cond`` plus the event-time range [click_ts, click_ts +
    horizon) and project the (click_id, user_id, purchase_cents) output."""
    return c.join(
        p,
        key_cond
        & (F.col("purchase_ts") >= F.col("click_ts"))
        & (
            F.col("purchase_ts")
            < F.col("click_ts") + F.expr(f"INTERVAL {horizon_seconds} SECONDS")
        ),
        how,
    ).select(
        "click_id",
        F.col("c_user").alias("user_id"),
        F.round(F.col("purchase_value") * 100).cast("long").alias("purchase_cents"),
    )


def _interval_join_plain(
    clicks_stream: DataFrame,
    purchases_stream: DataFrame,
    horizon_seconds: int,
    watermark: str,
    how: str,
) -> DataFrame:
    """Plain (un-bucketed) watermarked interval join keyed by ``user_id``
    alone — the reference the bucketed join is tested equal to. O(H²)
    per hot key; no entry point ships it (see _interval_join_bucketed)."""
    c, p = _join_sides(clicks_stream, purchases_stream, watermark)
    return _join_pairs(
        c, p, F.col("c_user") == F.col("p_user"), horizon_seconds, how
    )


def _interval_join_bucketed(
    clicks_stream: DataFrame,
    purchases_stream: DataFrame,
    horizon_seconds: int,
    watermark: str,
    how: str,
    subdivisions: int = 1,
) -> DataFrame:
    """Skew-immune watermarked interval join, shared by the inner and LEFT
    OUTER entry points: join key widened from ``user_id`` to
    ``(user_id, time_bucket)``.

    Why: the plain join shuffles BOTH sides and the state store by
    ``user_id``, so a hot key concentrates on one partition — and worse,
    the symmetric hash join matches each arriving row against EVERY
    buffered row of its key before the range filter, so a key holding H
    rows costs O(H²) comparisons (round-5 probe: 160k hot rows of a
    200k-row stream did not finish in 20 minutes where the uniform-key
    run took seconds — see SCALE.md).

    Fix: bucket event time at the horizon width B. A click joins only
    purchases in [ts, ts + h), h <= B, so with the click keeping bucket
    floor(ts/B) and each purchase exploded to buckets {floor(ts/B),
    floor(ts/B) - 1}, every qualifying pair meets in EXACTLY one bucket
    (the purchase's two copies live in distinct buckets, and for
    u(c) <= u(p) <= u(c) + B the purchase bucket is the click's or the
    next — the click's bucket is always among the two copies and only
    one copy carries it). A hot user's state fans out across its time
    buckets — per-key state is bounded by the key's rate x horizon, not
    its lifetime volume, making per-arrival matching O(rows in one
    horizon) and spreading partitions. Cost: the purchase side doubles —
    the standard price of interval-bucketed joins (the batch range-join
    bucketing in operators/temporal.py makes the same trade).

    LEFT OUTER correctness under the explode: the CLICK side is never
    duplicated (it keeps its single bucket), so an unmatched click emits
    its null row exactly once, and a matched click meets each qualifying
    purchase exactly once (pigeonhole above) — same output multiset as
    the plain LEFT join.

    ``subdivisions`` = S generalizes the bucket width to ceil(B/S) with
    the purchase side exploded to S+1 adjacent buckets (the S=1 default
    is exactly the two-bucket form above; exactly-once pigeonhole holds
    for any S: a qualifying pair has bucket difference in [0, S] and the
    purchase's S+1 copies land in S+1 DISTINCT keys, exactly one of
    which is the click's). S>1 is the WITHIN-BUCKET BURST defense
    (SCALE.md round-6 probe): a hot key whose traffic concentrates
    inside one horizon window still costs O(rows-in-bucket) per arrival
    at S=1 even when the range filter matches nothing (e.g. purchases
    early in the hour, clicks late — zero output, quadratic compares);
    with S subdivisions each arrival scans only the ~B/S slop beyond
    its true horizon reach, at the price of (S+1)/2 x the purchase-side
    state/shuffle of S=1. Deploy S=4..8 on burst-prone keys; keep S=1
    when traffic within a key is horizon-uniform.

    Watermark/state-eviction semantics are unchanged: the bucket is a
    derived column; eviction still follows the event-time columns."""
    b = int(horizon_seconds)
    s = int(subdivisions)
    if s < 1:
        raise ValueError(f"subdivisions must be >= 1, got {subdivisions}")
    width = -(-b // s)  # ceil(B/S): S * width >= B keeps the pigeonhole
    c, p = _join_sides(clicks_stream, purchases_stream, watermark)
    c = c.withColumn(
        "c_bucket", F.floor(F.unix_timestamp("click_ts") / F.lit(width))
    )
    p = p.withColumn(
        "p_bucket",
        F.explode(
            F.array(
                *[
                    F.floor(F.unix_timestamp("purchase_ts") / F.lit(width)) - j
                    for j in range(s + 1)
                ]
            )
        ),
    )
    return _join_pairs(
        c,
        p,
        (F.col("c_user") == F.col("p_user"))
        & (F.col("c_bucket") == F.col("p_bucket")),
        b,
        how,
    )


def stream_stream_join_stream(
    clicks_stream: DataFrame,
    purchases_stream: DataFrame,
    query_name: str,
    horizon_seconds: int = 3600,
    watermark: str = "1 second",
    subdivisions: int = 1,
):
    """Watermarked stream-stream inner join — the fully-streaming operator
    class the reference never reached (its logs show no state operators,
    README.md:479): each click joins the same user's purchases within
    [click.ts, click.ts + horizon).

    Both sides are watermarked and the join carries an event-time range
    condition, so Spark can BOUND the buffered state on both sides (an
    unconstrained stream-stream join would buffer forever). State eviction
    follows the watermark — at 100 TB the horizon, not the corpus, sizes
    the state store. Skew-safe: the join runs bucketed
    (_interval_join_bucketed), never the O(H²)-per-hot-key plain form."""
    joined = _interval_join_bucketed(
        clicks_stream,
        purchases_stream,
        horizon_seconds,
        watermark,
        "inner",
        subdivisions=subdivisions,
    )
    return _memory_sink(joined, query_name, "append")


def stream_stream_left_join_stream(
    clicks_stream: DataFrame,
    purchases_stream: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    horizon_seconds: int = 3600,
    watermark: str = "1 second",
    subdivisions: int = 1,
):
    """LEFT OUTER stream-stream join: like the inner form, but a click with
    no purchase inside its horizon still emits (null purchase) — once the
    watermark proves its window can no longer fill. The null row's emission
    time is therefore governed by watermark progress, not arrival: the
    outer result is eventually-complete, which is why the sink is an
    append-mode file sink (replayable) rather than a complete-mode table.
    Bucketed like the inner form; outer-null exactly-once holds because
    the click side is never duplicated (proof in _interval_join_bucketed)."""
    joined = _interval_join_bucketed(
        clicks_stream,
        purchases_stream,
        horizon_seconds,
        watermark,
        "left_outer",
        subdivisions=subdivisions,
    )
    return parquet_sink(joined, out_dir, checkpoint_dir)


def fanout_by_class_stream(
    raw_stream: DataFrame,
    base_dir: str,
    checkpoint_dir: str,
):
    """The reference's 3-sink fan-out (rpg_spark_stream.py:120-145) as ONE
    foreachBatch query: each micro-batch is classified once and written to
    three directories — one source scan, one checkpoint, not three.

    Each class writes into a `_batch=<id>` PARTITION with dynamic
    overwrite: foreachBatch is at-least-once, so a crash between the
    three writes replays the whole batch on restart — blind
    mode='append' would then duplicate the classes that had already
    committed, permanently inflating downstream counts. Dynamic
    partition overwrite replaces exactly the replayed batch's own
    partition, making retries idempotent, and `spark.read.parquet(dir)`
    keeps working via partition discovery (readers see one extra
    `_batch` int column — batch lineage, often useful anyway)."""
    from ..operators.classify import split_by_class
    from ..operators.ingest import parse_events

    def _write(batch_df: DataFrame, batch_id: int) -> None:
        parsed = parse_events(batch_df).persist()
        try:
            swords, guilds, other = split_by_class(parsed)
            for name, part in (
                ("sword_events", swords),
                ("guild_events", guilds),
                ("other_events", other),
            ):
                (
                    part.withColumn("_batch", F.lit(batch_id))
                    .write.mode("overwrite")
                    .option("partitionOverwriteMode", "dynamic")
                    .partitionBy("_batch")
                    .parquet(os.path.join(base_dir, name))
                )
        finally:
            parsed.unpersist()

    return (
        raw_stream.writeStream.foreachBatch(_write)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def mg_heavy_hitters_stream(
    events_stream: DataFrame,
    query_name: str,
    k: int = 100,
):
    """Streaming Misra-Gries heavy hitters (applyInPandasWithState): per
    event_type, a bounded k-counter summary of hot user_ids maintained
    across micro-batches — the streaming twin of
    approx.heavy_hitter_candidates, carrying the sketch in the state
    store instead of re-scanning history every trigger.

    Each micro-batch folds as an MG MERGE: the batch's exact per-user
    histogram (a vectorized value_counts, no per-row python loop) is
    added into the state counters, then pruned back to k by subtracting
    the (k+1)-st largest count from all (Agarwal et al., "Mergeable
    Summaries" — merging an exact histogram into an MG summary and
    pruning preserves every MG theorem for the concatenated stream):

    - est(u) ≤ true(u) (underestimate only),
    - true(u) − est(u) ≤ n_type/(k+1),
    - any u with true(u) > n_type/(k+1) is present.

    All three hold for ANY arrival order, which is what makes the end
    state CERTIFIABLE against a batch oracle even though shuffle order
    inside a micro-batch isn't contractual. State per key is exactly
    ≤ k (user, count) pairs — bytes, not history; at 100 TB/day this is
    the hot-key monitor that never grows.

    Emits the FULL current counter set each batch stamped with a state
    sequence number; the reader takes the max-seq snapshot per type, so
    users evicted mid-stream can't linger in the final answer."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
    from pyspark.sql.types import (
        ArrayType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    out_schema = StructType(
        [
            StructField("event_type", StringType(), False),
            StructField("user_id", LongType(), False),
            StructField("est_count", LongType(), False),
            StructField("seq", LongType(), False),
        ]
    )
    state_schema = StructType(
        [
            StructField("users", ArrayType(LongType()), False),
            StructField("counts", ArrayType(LongType()), False),
            StructField("seq", LongType(), False),
        ]
    )

    from ..operators.approx import mg_merge

    def _fold(key, pdfs, state: "GroupState"):
        if state.exists:
            users, counts, seq = state.get
            summary = dict(zip(users, counts))
        else:
            summary, seq = {}, 0
        for pdf in pdfs:
            # exact batch histogram through the SHARED merge-and-prune
            # step (approx.mg_merge) — the certificate's arithmetic
            # lives in one audited place, not two drifting copies
            summary = mg_merge(
                summary,
                (
                    (int(u), int(c))
                    for u, c in pdf["user_id"].value_counts().items()
                ),
                k,
            )
        seq += 1
        state.update((list(summary), [summary[u] for u in summary], seq))
        yield pd.DataFrame(
            {
                "event_type": [key[0]] * len(summary),
                "user_id": list(summary),
                "est_count": [summary[u] for u in summary],
                "seq": [seq] * len(summary),
            }
        )

    sketched = events_stream.groupBy("event_type").applyInPandasWithState(
        _fold,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    return _memory_sink(sketched, query_name, "update")


def final_heavy_hitter_snapshot(spark: SparkSession, query_name: str) -> DataFrame:
    """The max-seq counter snapshot per event_type from the memory sink —
    the end-of-stream MG summary (evicted users excluded by construction)."""
    t = spark.table(query_name)
    # window max instead of a groupBy self-join: self-joining a memory
    # sink's MemoryPlan hits conflicting-attribute INTERNAL_ERROR in
    # Spark 4.1; the sink holds <= k rows per (type, batch), so a window
    # over it is trivial
    w = Window.partitionBy("event_type")
    return (
        t.withColumn("_max_seq", F.max("seq").over(w))
        .filter(F.col("seq") == F.col("_max_seq"))
        .select("event_type", "user_id", "est_count")
    )


def dq_monitor_stream(
    events_stream: DataFrame,
    query_name: str,
    checks: dict,
):
    """Streaming data-contract monitor: the batch DQ suite's row-level
    checks (operators.dq) evaluated continuously — each micro-batch's
    conditional violation counts fold into a streaming global aggregate
    (complete mode), so the sink always holds the violations-so-far
    totals a data-contract alert reads.

    Reuses the batch suite's violation semantics via dq._viol (NULL
    expectation = violation), so stream and batch can never drift; the
    end-of-stream state over a finite source equals the batch one-scan
    suite by the same mergeable-aggregate argument as
    x_agg_incremental — conditional counts are associative. Uniqueness
    checks are deliberately absent: streaming COUNT(DISTINCT) needs
    different machinery (state ∝ key domain — dropDuplicates + count,
    the x_stream_dedup shape), while these counters hold O(checks)
    state forever at any input rate."""
    from ..operators.dq import _viol

    totals = events_stream.agg(
        *[_viol(name, cond) for name, cond in sorted(checks.items())]
    )
    return _memory_sink(totals, query_name, "complete")


def final_dq_totals(spark: SparkSession, query_name: str, names) -> DataFrame:
    """Unpivot the monitor's one-row totals to the batch suite's
    (check_name, n_violations) contract."""
    pairs = ", ".join(f"'{n}', `{n}`" for n in sorted(names))
    return spark.table(query_name).selectExpr(
        f"stack({len(names)}, {pairs}) AS (check_name, n_violations)"
    ).orderBy("check_name")

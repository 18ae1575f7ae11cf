"""Streaming correctness (FIXTURES.md §3): batch/stream equivalence on the
same input, exactly-once checkpoint restart, the foreachBatch fan-out, and
the console sink — all with availableNow triggers (never wall-clock)."""

from __future__ import annotations

import os
import shutil

import pytest

from user_behavior_spark_pipeline_spark.operators.ingest import validate_events
from user_behavior_spark_pipeline_spark.sources.generator import load_kafka_records
from user_behavior_spark_pipeline_spark.streaming.jobs import (
    console_stream,
    dedup_stream,
    fanout_by_class_stream,
    file_stream_source,
    write_validated_stream,
)


@pytest.fixture()
def records(spark, sf_dir):
    return load_kafka_records(spark, sf_dir)


def _stage_json(records, path: str, parts: int = 4) -> None:
    records.coalesce(parts).write.mode("overwrite").json(path)


def test_stream_equals_batch(spark, records, tmp_path):
    """The streamed pipeline's sink contents == the batch pipeline over the
    same input (Structured Streaming's core contract)."""
    src = str(tmp_path / "src")
    _stage_json(records, src)
    q = write_validated_stream(
        file_stream_source(spark, src),
        str(tmp_path / "out"),
        str(tmp_path / "ckpt"),
    )
    q.awaitTermination()
    streamed = spark.read.parquet(str(tmp_path / "out"))
    batch = validate_events(records)
    key = lambda df: sorted(
        (r["raw_event"], r["event_type"], r["direction"]) for r in df.collect()
    )
    assert key(streamed) == key(batch)
    # partitioned layout: per-type subdirectories exist
    assert any(d.startswith("event_type=") for d in os.listdir(tmp_path / "out"))


def test_checkpoint_restart_exactly_once(spark, records, tmp_path):
    """Process half the input, stop, deliver the rest, restart on the SAME
    checkpoint: every record appears exactly once in the sink."""
    half1 = records.filter("offset % 2 = 0")
    half2 = records.filter("offset % 2 = 1")
    src, out, ckpt = (str(tmp_path / d) for d in ("src", "out", "ckpt"))
    os.makedirs(src, exist_ok=True)

    def _deliver(df, sub):
        tmp = str(tmp_path / ("stage_" + sub))
        df.coalesce(2).write.mode("overwrite").json(tmp)
        for i, f in enumerate(sorted(os.listdir(tmp))):
            if f.endswith(".json"):
                shutil.copy(os.path.join(tmp, f), os.path.join(src, f"{sub}_{i}.json"))

    _deliver(half1, "a")
    q1 = write_validated_stream(file_stream_source(spark, src), out, ckpt)
    q1.awaitTermination()
    n1 = spark.read.parquet(out).count()

    _deliver(half2, "b")
    q2 = write_validated_stream(file_stream_source(spark, src), out, ckpt)
    q2.awaitTermination()

    final = spark.read.parquet(out)
    expected = validate_events(records)
    assert final.count() == expected.count()
    assert n1 < expected.count()  # first run really was partial
    # no duplicates: raw_event+offsetless identity via full-row distinct
    assert final.distinct().count() == final.count()


def test_default_trigger_stream_lands_late_file_once(spark, records, tmp_path):
    """The continuously running shape (available_now=False: Spark's default
    trigger, as the steady-state ingest benchmark runs it): the sink equals
    batch validate_events over the same records, partitioned by event_type,
    and a file dropped after the first commit lands exactly once."""
    src, out, ckpt = (str(tmp_path / d) for d in ("src", "out", "ckpt"))
    os.makedirs(src)
    first = records.filter("offset % 2 = 0")

    def _drop(df, name):
        # write aside, then rename in: the source never lists a partial file
        stage = str(tmp_path / ("stage_" + name))
        df.coalesce(1).write.json(stage)
        part = next(f for f in os.listdir(stage) if f.endswith(".json"))
        os.rename(os.path.join(stage, part), os.path.join(src, f"{name}.json"))

    _drop(first, "a")
    q = write_validated_stream(
        file_stream_source(spark, src), out, ckpt, available_now=False
    )
    try:
        q.processAllAvailable()
        n1 = spark.read.parquet(out).count()
        _drop(records.filter("offset % 2 = 1"), "b")
        q.processAllAvailable()
    finally:
        q.stop()

    key = lambda df: sorted(
        (r["raw_event"], r["event_type"], r["direction"]) for r in df.collect()
    )
    batch = validate_events(records)
    assert n1 == validate_events(first).count() < batch.count()
    assert key(spark.read.parquet(out)) == key(batch)
    types = {r["event_type"] for r in batch.select("event_type").collect()}
    assert {d for d in os.listdir(out) if d.startswith("event_type=")} == {
        f"event_type={t}" for t in types
    }


def _checkpoint_file_manager(spark, path: str):
    """The manager a stream's logs get for ``path``: built the way every
    offsets, commits, source, sink-metadata and state-store log builds
    it, from the session's Hadoop conf."""
    jvm = spark._jvm
    conf = spark._jsparkSession.sessionState().newHadoopConf()
    cfm = jvm.org.apache.spark.sql.execution.streaming.checkpointing
    return cfm.CheckpointFileManager.create(jvm.org.apache.hadoop.fs.Path(path), conf)


def test_session_pins_filesystem_checkpoint_manager(spark, tmp_path):
    """Stream logs are renamed through Hadoop's FileSystem API, whose
    local rename forks no ``readlink`` (FileContext's does, four times
    per file without libhadoop)."""
    fm = _checkpoint_file_manager(spark, str(tmp_path))
    assert fm.getClass().getSimpleName() == "FileSystemBasedCheckpointFileManager"


def test_checkpoint_log_entry_is_never_overwritten(spark, tmp_path):
    """The guarantee the offsets and commits logs rest on: a second
    atomic write of a logged batch fails on close and leaves the logged
    bytes as they were; a cancelled write leaves no file behind."""
    from py4j.protocol import Py4JJavaError

    fm = _checkpoint_file_manager(spark, str(tmp_path))
    Path = spark._jvm.org.apache.hadoop.fs.Path
    first = fm.createAtomic(Path(str(tmp_path / "0")), False)
    first.write(bytearray(b"batch 0 offsets"))
    first.close()

    again = fm.createAtomic(Path(str(tmp_path / "0")), False)
    again.write(bytearray(b"a rewrite"))
    with pytest.raises(Py4JJavaError) as err:
        again.close()
    # Spark's subclass of Hadoop's FileAlreadyExistsException
    assert err.value.java_exception.getClass().getName().endswith(
        "FileAlreadyExistsException"
    )
    assert (tmp_path / "0").read_bytes() == b"batch 0 offsets"

    before = set(os.listdir(tmp_path))
    cancelled = fm.createAtomic(Path(str(tmp_path / "1")), False)
    cancelled.write(bytearray(b"batch 1 offsets"))
    cancelled.cancel()
    assert set(os.listdir(tmp_path)) == before


def test_fanout_foreachbatch(spark, records, tmp_path):
    src = str(tmp_path / "src")
    _stage_json(records, src)
    base = str(tmp_path / "fan")
    q = fanout_by_class_stream(
        file_stream_source(spark, src), base, str(tmp_path / "ckpt")
    )
    q.awaitTermination()
    swords = spark.read.parquet(os.path.join(base, "sword_events"))
    guilds = spark.read.parquet(os.path.join(base, "guild_events"))
    other = spark.read.parquet(os.path.join(base, "other_events"))
    total = swords.count() + guilds.count() + other.count()
    assert total == records.count()
    assert set(
        r["event_type"] for r in swords.select("event_type").distinct().collect()
    ) == {"sword_event"}


def test_streaming_dedup_drops_redelivery(spark, records, tmp_path):
    src = str(tmp_path / "src")
    records.union(records).coalesce(4).write.mode("overwrite").json(src)
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    q = dedup_stream(
        file_stream_source(spark, src), out, ckpt, watermark="365 days"
    )
    q.awaitTermination()
    assert spark.read.parquet(out).count() == records.count()


def test_console_sink_runs(spark, records, tmp_path):
    src = str(tmp_path / "src")
    _stage_json(records, src)
    q = console_stream(file_stream_source(spark, src))
    q.awaitTermination()
    assert q.lastProgress is not None


def test_stateful_totals_across_many_batches(spark, sf_dir, tmp_path):
    """applyInPandasWithState must accumulate across micro-batches: slice the
    input into one-file triggers and require the end state to equal the batch
    aggregate."""
    from pyspark.sql import functions as F

    from user_behavior_spark_pipeline_spark.sources.tables import load_table
    from user_behavior_spark_pipeline_spark.streaming.jobs import (
        final_user_totals,
        stateful_user_totals_stream,
    )

    events = load_table(spark, sf_dir, "events")
    src = str(tmp_path / "events_src")
    events.coalesce(4).write.mode("overwrite").parquet(src)
    stream = (
        spark.readStream.schema(events.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
        .select("user_id", "value")
    )
    q = stateful_user_totals_stream(stream, query_name="stateful_multi_batch")
    q.awaitTermination()
    got = final_user_totals(spark, "stateful_multi_batch").toPandas()
    cents = F.round(F.col("value") * 100).cast("long")
    want = (
        events.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(cents).alias("total_cents"),
        )
        .toPandas()
    )
    got = got.sort_values("user_id").reset_index(drop=True)
    want = want.sort_values("user_id").reset_index(drop=True)
    assert got.equals(want)


def test_left_outer_stream_stream_join_emits_null_after_watermark(
    spark, tmp_path
):
    """Outer emission semantics: a click with no purchase in its horizon
    emits a null row only once the watermark proves the window closed —
    driven here by a second run whose data advances event time far enough."""
    import datetime

    import pyspark.sql.functions as F

    from user_behavior_spark_pipeline_spark.streaming.jobs import (
        stream_stream_left_join_stream,
    )

    def _ts(s):
        return datetime.datetime.fromisoformat(s)

    schema = (
        "event_id long, ts timestamp, user_id long, event_type string, value double"
    )
    clicks_src = str(tmp_path / "clicks")
    purch_src = str(tmp_path / "purch")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    def _run(click_rows, purchase_rows):
        spark.createDataFrame(click_rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(clicks_src)
        spark.createDataFrame(purchase_rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(purch_src)
        q = stream_stream_left_join_stream(
            spark.readStream.schema(schema).parquet(clicks_src),
            spark.readStream.schema(schema).parquet(purch_src),
            out,
            ckpt,
        )
        q.awaitTermination()

    base = "2024-01-01T10:00:00"
    # run 1: user 1 click+purchase (matches), user 2 click (no purchase)
    _run(
        [
            (1, _ts(base), 1, "click", 0.0),
            (2, _ts(base), 2, "click", 0.0),
        ],
        [(3, _ts("2024-01-01T10:30:00"), 1, "purchase", 5.0)],
    )
    first = spark.read.parquet(out)
    assert first.filter("user_id = 1 AND purchase_cents = 500").count() == 1
    assert first.filter("user_id = 2").count() == 0  # window not yet closed
    # run 2: far-future traffic advances the watermark past user 2's horizon
    _run(
        [(4, _ts("2024-01-02T10:00:00"), 3, "click", 0.0)],
        [(5, _ts("2024-01-02T10:00:01"), 3, "purchase", 7.0)],
    )
    second = spark.read.parquet(out)
    null_rows = second.filter(
        (F.col("user_id") == 2) & F.col("purchase_cents").isNull()
    )
    assert null_rows.count() == 1  # outer null emitted exactly once


def test_custom_stream_source_resumes_from_checkpoint_offset(spark, tmp_path):
    """The Python streaming source's offsets live in the checkpoint: a
    second run with a larger row cap must process ONLY the delta."""
    import pyspark.sql.functions as F

    from user_behavior_spark_pipeline_spark.sources.eventgen import register

    register(spark)
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")

    def _run(rows):
        stream = (
            spark.readStream.format("eventgen").option("rows", str(rows)).load()
        )
        q = (
            stream.writeStream.format("parquet")
            .option("checkpointLocation", ckpt)
            .option("path", out)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return sum(p["numInputRows"] for p in q.recentProgress)

    assert _run(3000) == 3000
    assert _run(5000) == 2000  # only the new offset range
    ids = spark.read.parquet(out).select("event_id")
    assert ids.count() == 5000
    assert ids.distinct().count() == 5000  # no replay duplicates


def test_late_event_beyond_watermark_is_dropped(spark, tmp_path):
    """Late-data contract: an event older than (max event time - watermark)
    arriving in a LATER batch must not update its (already finalized)
    window — the state bound that makes event-time aggs feasible at scale."""
    import datetime

    import pyspark.sql.functions as F

    def _ts(s):
        return datetime.datetime.fromisoformat(s)

    schema = (
        "event_id long, ts timestamp, user_id long, event_type string, value double"
    )
    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    def _run(rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(src)
        stream = spark.readStream.schema(schema).parquet(src)
        counts = (
            stream.withWatermark("ts", "10 minutes")
            .groupBy(F.window("ts", "1 hour").alias("w"))
            .agg(F.count(F.lit(1)).alias("n"))
            .select(
                F.date_format("w.start", "yyyy-MM-dd HH:mm").alias("wstart"), "n"
            )
        )
        q = (
            counts.writeStream.format("parquet")
            .option("checkpointLocation", ckpt)
            .option("path", out)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    # batch 1: two events in the 10:00 window, then traffic far past it —
    # the watermark passes 10:00-11:00, sealing it with n=2
    _run(
        [
            (1, _ts("2024-01-01T10:05:00"), 1, "click", 0.0),
            (2, _ts("2024-01-01T10:20:00"), 1, "click", 0.0),
            (3, _ts("2024-01-01T15:00:00"), 1, "click", 0.0),
        ]
    )
    sealed = {r["wstart"]: r["n"] for r in spark.read.parquet(out).collect()}
    assert sealed.get("2024-01-01 10:00") == 2
    # batch 2: a LATE event for the sealed window + a watermark-advancer
    _run(
        [
            (4, _ts("2024-01-01T10:40:00"), 1, "click", 0.0),  # too late
            (5, _ts("2024-01-01T20:00:00"), 1, "click", 0.0),
        ]
    )
    final = [r for r in spark.read.parquet(out).collect() if r["wstart"] == "2024-01-01 10:00"]
    # the sealed window was appended once with n=2 and never re-emitted
    assert [r["n"] for r in final] == [2]


def test_bucketed_stream_stream_join_equals_plain(spark, tmp_path):
    """The skew-immune (user, time_bucket) join must return EXACTLY the
    plain interval join's rows — including pairs that straddle a bucket
    boundary (the purchase's second exploded copy) and a hot key (80% of
    rows on one user, the round-5 probe shape in miniature)."""
    import datetime

    from pyspark.sql import functions as F

    from user_behavior_spark_pipeline_spark.streaming.jobs import (
        _interval_join_plain,
        _memory_sink,
        stream_stream_join_stream,
    )

    base = datetime.datetime(2024, 1, 1)
    rows = []
    for i in range(400):
        uid = 0 if i % 10 < 8 else 100 + (i % 7)
        # 0.8 s spacing -> pairs regularly straddle the 10 s buckets
        rows.append((i, uid, base + datetime.timedelta(seconds=0.8 * i), 1.5 * i))
    ev = spark.createDataFrame(
        rows, "event_id long, user_id long, ts timestamp_ntz, value double"
    )
    src = str(tmp_path / "ss_eq")
    ev.coalesce(2).write.parquet(src + "/clicks")
    ev.select(
        "event_id",
        "user_id",
        (F.col("ts") + F.expr("INTERVAL 1 SECOND")).alias("ts"),
        "value",
    ).coalesce(2).write.parquet(src + "/purchases")
    sch = spark.read.parquet(src + "/clicks").schema

    def _streams():
        return (
            spark.readStream.schema(sch).parquet(src + "/clicks"),
            spark.readStream.schema(sch).parquet(src + "/purchases"),
        )

    c, p = _streams()
    _memory_sink(
        _interval_join_plain(c, p, 10, "1 second", "inner"),
        "ss_eq_plain",
        "append",
    ).awaitTermination()
    c, p = _streams()
    stream_stream_join_stream(
        c, p, query_name="ss_eq_bucketed", horizon_seconds=10
    ).awaitTermination()
    # subdivided buckets (burst defense, S=4: width ceil(10/4)=3 s, 5-way
    # explode) must ALSO return exactly the plain join's rows
    c, p = _streams()
    stream_stream_join_stream(
        c, p, query_name="ss_eq_sub4", horizon_seconds=10, subdivisions=4
    ).awaitTermination()
    plain = sorted(
        map(tuple, spark.table("ss_eq_plain").collect())
    )
    bucketed = sorted(
        map(tuple, spark.table("ss_eq_bucketed").collect())
    )
    sub4 = sorted(
        map(tuple, spark.table("ss_eq_sub4").collect())
    )
    assert len(plain) > 400  # hot key produces multi-purchase matches
    assert bucketed == plain
    assert sub4 == plain


def test_left_outer_bucketed_hot_key_nulls_exactly_once(spark, tmp_path):
    """LEFT OUTER under bucketing, on the hot-key fixture: every unmatched
    click — including the hot user's — emits exactly ONE null row, and the
    matched multiset equals the plain LEFT join's (the explode only
    duplicates the PURCHASE side, never the outer click side)."""
    import datetime

    from pyspark.sql import functions as F

    from user_behavior_spark_pipeline_spark.streaming.jobs import (
        _interval_join_plain,
        parquet_sink,
        stream_stream_left_join_stream,
    )

    base = datetime.datetime(2024, 1, 1)
    clicks, purchases = [], []
    for i in range(300):
        uid = 0 if i % 10 < 8 else 100 + (i % 7)
        ts = base + datetime.timedelta(seconds=0.8 * i)
        clicks.append((i, uid, ts, 0.0))
        if i % 2 == 0:
            purchases.append(
                (1000 + i, uid, ts + datetime.timedelta(seconds=1), 1.5 * i)
            )
    # lonely users: one click each, NO purchases ever — these are the rows
    # whose outer null must appear exactly once (hot-user clicks without
    # their "own" purchase still match neighbors inside the horizon, so
    # they can't serve as the null fixture)
    lonely = list(range(300, 350))
    for i in lonely:
        clicks.append(
            (i, 500 + i, base + datetime.timedelta(seconds=0.8 * i), 0.0)
        )
    # sentinel pair far in the future seals both watermarks so every
    # outer-null row flushes under availableNow (same trick as
    # fixtures._stage_events_parquet_sealed)
    seal = base + datetime.timedelta(days=30)
    clicks.append((-1, -1, seal, 0.0))
    purchases.append((-2, -1, seal, 0.0))
    sch = "event_id long, user_id long, ts timestamp_ntz, value double"
    src = str(tmp_path / "lojb")
    spark.createDataFrame(clicks, sch).coalesce(2).write.parquet(src + "/c")
    spark.createDataFrame(purchases, sch).coalesce(2).write.parquet(src + "/p")
    rsch = spark.read.parquet(src + "/c").schema

    def _run(fn, out_name, **kw):
        q = fn(
            spark.readStream.schema(rsch).parquet(src + "/c"),
            spark.readStream.schema(rsch).parquet(src + "/p"),
            str(tmp_path / out_name / "out"),
            str(tmp_path / out_name / "ckpt"),
            **kw,
        )
        q.awaitTermination()
        return (
            spark.read.parquet(str(tmp_path / out_name / "out"))
            .filter(F.col("user_id") >= 0)
        )

    def _plain(c, p, out, ckpt):
        return parquet_sink(
            _interval_join_plain(c, p, 10, "1 second", "left_outer"), out, ckpt
        )

    bucketed = _run(
        stream_stream_left_join_stream, "bucketed", horizon_seconds=10
    )
    plain = _run(_plain, "plain")
    sub4 = _run(
        stream_stream_left_join_stream,
        "sub4",
        horizon_seconds=10,
        subdivisions=4,
    )
    b = sorted(map(tuple, bucketed.collect()))
    p = sorted(map(tuple, plain.collect()))
    assert b == p
    # subdivided LEFT join (burst defense): same rows, nulls exactly once
    assert sorted(map(tuple, sub4.collect())) == p
    # every lonely click appears exactly once, with a null purchase
    nulls = bucketed.filter(
        F.col("purchase_cents").isNull() & (F.col("user_id") >= 500)
    )
    assert sorted(r.click_id for r in nulls.select("click_id").collect()) == lonely
    # and the hot key actually produced multi-purchase matches (skew shape)
    assert bucketed.filter("user_id = 0").count() > 500


def test_mg_heavy_hitters_bounds_and_eviction(spark, tmp_path):
    """Streaming MG on a constructed stream: a planted whale (40% of one
    type's traffic) must survive with its estimate inside n/(k+1), the
    final summary must hold <= k counters (eviction really ran: the
    domain is 3x k), and every estimate must be an underestimate."""
    from pyspark.sql import functions as F

    from user_behavior_spark_pipeline_spark.streaming.jobs import (
        final_heavy_hitter_snapshot,
        mg_heavy_hitters_stream,
    )

    k = 20
    rows = [("a", 777)] * 400  # the whale
    rows += [("a", u) for u in range(60) for _ in range(10)]  # 600 spread
    batch = spark.createDataFrame(rows, "event_type string, user_id long")
    src = str(tmp_path / "mg_src")
    # deterministic multi-batch slicing: 4 files, one per trigger
    batch.repartition(4).write.mode("overwrite").parquet(src)
    stream = (
        spark.readStream.schema(batch.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    q = mg_heavy_hitters_stream(stream, query_name="mg_test", k=k)
    q.awaitTermination()
    est = {
        r["user_id"]: r["est_count"]
        for r in final_heavy_hitter_snapshot(spark, "mg_test").collect()
    }
    exact = {
        r["user_id"]: r["n"]
        for r in batch.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    n = 1000
    assert len(est) <= k  # eviction happened: 61-user domain, 20 counters
    for u, e in est.items():
        assert e <= exact[u]  # underestimate only
    # the whale's true count (400) dwarfs n/(k+1) (47): must be present
    # and inside the deterministic bound
    assert 777 in est
    assert exact[777] - est[777] <= n // (k + 1)


def test_mg_merge_property_bounds_hold_for_any_stream():
    """Pure-python hypothesis check of the shared merge-and-prune step
    (approx.mg_merge) that BOTH MG certificates rest on: for any batch
    sequence and any k — underestimate-only, error within n/(k+1),
    recall of every item above the bound, and summary size <= k."""
    from collections import Counter

    from hypothesis import given, settings
    from hypothesis import strategies as st

    from user_behavior_spark_pipeline_spark.operators.approx import mg_merge

    @settings(max_examples=200, deadline=None)
    @given(
        batches=st.lists(
            st.lists(st.integers(0, 12), min_size=1, max_size=60),
            min_size=1,
            max_size=6,
        ),
        k=st.integers(1, 8),
    )
    def run(batches, k):
        summary: dict = {}
        exact: Counter = Counter()
        for batch in batches:
            bc = Counter(batch)
            exact.update(bc)
            summary = mg_merge(summary, bc.items(), k)
        n = sum(exact.values())
        bound = n // (k + 1)
        assert len(summary) <= k
        for item, est in summary.items():
            assert 0 < est <= exact[item]
            assert exact[item] - est <= bound
        for item, true in exact.items():
            if true > bound:
                assert item in summary, (item, true, bound, summary)

    run()


def test_dq_monitor_accumulates_across_batches(spark, tmp_path):
    """Streaming DQ totals over one-file triggers must equal the batch
    one-scan counts (conditional counts are associative)."""
    from pyspark.sql import functions as F

    from user_behavior_spark_pipeline_spark.streaming.jobs import (
        dq_monitor_stream,
        final_dq_totals,
    )

    rows = [(1, "a", 5.0), (2, "b", 150.0), (None, "zzz", 7.0),
            (4, "a", -1.0), (5, "b", 200.0), (6, "a", 3.0)]
    batch = spark.createDataFrame(rows, "id long, cat string, v double")
    src = str(tmp_path / "dq_src")
    batch.repartition(3).write.mode("overwrite").parquet(src)
    stream = (
        spark.readStream.schema(batch.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    checks = {
        "id_not_null": F.col("id").isNotNull(),
        "cat_accepted": F.col("cat").isin("a", "b"),
        "v_in_0_100": F.col("v").between(0, 100),
    }
    q = dq_monitor_stream(stream, query_name="dq_stream_test", checks=checks)
    q.awaitTermination()
    got = {
        r["check_name"]: r["n_violations"]
        for r in final_dq_totals(
            spark, "dq_stream_test", list(checks)
        ).collect()
    }
    assert got == {"id_not_null": 1, "cat_accepted": 1, "v_in_0_100": 3}


def test_warc_ingest_stream_batch_equiv(spark, tmp_path):
    """Streaming WARC ingestion (r10 #6): the file stream drains the
    archive directory through the SAME warc_records walker batch uses —
    sink contents (records AND quarantine rows) equal the batch output,
    including incremental pickup of late-landing archives through the
    checkpoint."""
    from user_behavior_spark_pipeline_spark.operators.warc import (
        synth_corrupt_warc_archives,
        warc_records,
    )
    from user_behavior_spark_pipeline_spark.streaming.jobs import (
        landing_stream_source,
        parquet_sink,
    )

    docs = spark.createDataFrame(
        [(i, f"text {i}") for i in range(10)], "doc_id long, text string"
    )
    archives = synth_corrupt_warc_archives(docs)
    src, out, ckpt = (str(tmp_path / d) for d in ("src", "out", "ckpt"))
    archives.filter("archive_id < 6").repartition(2).write.mode(
        "append"
    ).parquet(src)

    def _ingest():
        parquet_sink(
            warc_records(
                landing_stream_source(
                    spark, src, "archive_id", max_files_per_trigger=1
                )
            ),
            out,
            ckpt,
        ).awaitTermination()

    _ingest()
    n1 = spark.read.parquet(out).count()
    # late-landing archives: only the delta is processed on restart
    archives.filter("archive_id >= 6").repartition(2).write.mode(
        "append"
    ).parquet(src)
    _ingest()

    batch = warc_records(archives)
    key = lambda r: (r.archive_id, r.record_idx)
    got = sorted(spark.read.parquet(out).collect(), key=key)
    want = sorted(batch.collect(), key=key)
    assert n1 < len(want)
    assert [key(r) for r in got] == [key(r) for r in want]
    assert [r.parse_error for r in got] == [r.parse_error for r in want]
    assert [r.body for r in got] == [r.body for r in want]


def test_avro_ingest_stream_batch_equiv(spark, tmp_path):
    """Streaming Avro ingestion (r11): the file stream drains the
    container directory through the SAME avro_records walker batch
    uses — sink contents equal the batch output, including incremental
    pickup of late-landing containers through the checkpoint."""
    from user_behavior_spark_pipeline_spark.operators.avro import (
        avro_records,
        synth_avro_media,
    )
    from user_behavior_spark_pipeline_spark.streaming.jobs import (
        landing_stream_source,
        parquet_sink,
    )

    docs = spark.createDataFrame(
        [(i,) for i in range(10)], "doc_id long"
    )
    media = synth_avro_media(docs)
    src, out, ckpt = (str(tmp_path / d) for d in ("src", "out", "ckpt"))
    media.filter("media_id < 6").repartition(2).write.mode(
        "append"
    ).parquet(src)

    def _ingest():
        parquet_sink(
            avro_records(
                landing_stream_source(
                    spark, src, "media_id", max_files_per_trigger=1
                )
            ),
            out,
            ckpt,
        ).awaitTermination()

    _ingest()
    n1 = spark.read.parquet(out).count()
    media.filter("media_id >= 6").repartition(2).write.mode(
        "append"
    ).parquet(src)
    _ingest()

    batch = avro_records(media)
    key = lambda r: (r.media_id, r.rec_idx, r.field)
    got = sorted(spark.read.parquet(out).collect(), key=key)
    want = sorted(batch.collect(), key=key)
    assert n1 < len(want)
    assert [key(r) for r in got] == [key(r) for r in want]
    assert [r.value for r in got] == [r.value for r in want]
    assert [r.value_type for r in got] == [r.value_type for r in want]

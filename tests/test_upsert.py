"""Keyed-snapshot upsert semantics: multi-batch folding, late/stale data,
and batch-vs-stream equivalence."""

from __future__ import annotations

import datetime

import pyspark.sql.functions as F

from user_behavior_spark_pipeline_spark.operators.upsert import (
    latest_snapshot,
    read_snapshot,
    upsert_stream,
)


def _ts(s: str) -> datetime.datetime:
    return datetime.datetime.fromisoformat(s)


SCHEMA = "event_id long, ts timestamp, user_id long, event_type string, value double"


def _run_upsert(spark, rows, snap, ckpt):
    src_df = spark.createDataFrame(rows, SCHEMA)
    src = f"{ckpt}_src"  # beside the checkpoint, inside the test's tmp_path
    src_df.coalesce(1).write.mode("append").parquet(src)
    stream = spark.readStream.schema(src_df.schema).parquet(src)
    q = upsert_stream(stream, snap, ckpt)
    q.awaitTermination()


def test_later_run_with_stale_events_does_not_regress(spark, tmp_path):
    snap = str(tmp_path / "snap")
    import os

    os.makedirs(snap)
    _run_upsert(
        spark,
        [(2, _ts("2024-01-02T00:00:00"), 1, "purchase", 9.0)],
        snap,
        str(tmp_path / "ckpt1"),
    )
    # a second stream delivers an OLDER event for the same key
    _run_upsert(
        spark,
        [(1, _ts("2024-01-01T00:00:00"), 1, "click", 1.0)],
        snap,
        str(tmp_path / "ckpt2"),
    )
    got = read_snapshot(spark, snap).collect()
    assert len(got) == 1
    assert got[0]["event_type"] == "purchase" and got[0]["event_id"] == 2


def test_equal_ts_breaks_tie_by_event_id(spark, tmp_path):
    snap = str(tmp_path / "snap")
    import os

    os.makedirs(snap)
    t = _ts("2024-01-01T00:00:00")
    _run_upsert(
        spark,
        [(1, t, 1, "click", 1.0), (2, t, 1, "view", 2.0)],
        snap,
        str(tmp_path / "ckpt"),
    )
    got = read_snapshot(spark, snap).collect()
    assert got[0]["event_id"] == 2 and got[0]["event_type"] == "view"


def test_stream_snapshot_equals_batch_latest(spark, sf_dir, tmp_path):
    from user_behavior_spark_pipeline_spark.sources.tables import load_table

    events = load_table(spark, sf_dir, "events")
    import os

    src = str(tmp_path / "src")
    events.repartition(4).write.mode("overwrite").parquet(src)
    snap = str(tmp_path / "snap")
    os.makedirs(snap)
    stream = (
        spark.readStream.schema(events.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    q = upsert_stream(stream, snap, str(tmp_path / "ckpt"))
    q.awaitTermination()
    assert len(q.recentProgress) >= 3  # genuinely multi-batch
    streamed = (
        read_snapshot(spark, snap)
        .select(
            "user_id",
            F.col("event_type").alias("last_event_type"),
            F.round(F.col("value") * 100).cast("long").alias("last_cents"),
        )
    )
    batch = latest_snapshot(events)
    assert streamed.exceptAll(batch).count() == 0
    assert batch.exceptAll(streamed).count() == 0


def test_crash_between_renames_recovers_from_swap(spark, tmp_path):
    """A crash after `current -> swap` but before `staging -> current`
    leaves only swap/; the next batch must restore it and fold on top."""
    import os

    snap = str(tmp_path / "snap")
    os.makedirs(snap)
    _run_upsert(
        spark,
        [(1, _ts("2024-01-01T00:00:00"), 1, "click", 1.0)],
        snap,
        str(tmp_path / "ckpt1"),
    )
    # simulate the torn state
    os.rename(snap + "/current", snap + "/swap")
    _run_upsert(
        spark,
        [(2, _ts("2024-01-02T00:00:00"), 2, "purchase", 9.0)],
        snap,
        str(tmp_path / "ckpt2"),
    )
    got = {r["user_id"]: r["event_id"] for r in read_snapshot(spark, snap).collect()}
    assert got == {1: 1, 2: 2}  # user 1 survived the torn swap
    assert not os.path.exists(snap + "/swap")


def test_stale_swap_with_current_is_cleared(spark, tmp_path):
    """A crash after promotion but before cleanup leaves current/ AND a
    stale swap/; the next batch must clear swap and not wedge on rename."""
    import os

    snap = str(tmp_path / "snap")
    os.makedirs(snap)
    _run_upsert(
        spark,
        [(1, _ts("2024-01-01T00:00:00"), 1, "click", 1.0)],
        snap,
        str(tmp_path / "ckpt1"),
    )
    os.makedirs(snap + "/swap")  # stale non-empty leftover
    with open(snap + "/swap/junk", "w") as f:
        f.write("x")
    _run_upsert(
        spark,
        [(2, _ts("2024-01-02T00:00:00"), 1, "purchase", 9.0)],
        snap,
        str(tmp_path / "ckpt2"),
    )
    got = read_snapshot(spark, snap).collect()
    assert len(got) == 1 and got[0]["event_id"] == 2
    assert not os.path.exists(snap + "/swap")

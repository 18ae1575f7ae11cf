"""Sink layout properties: partition pruning and shuffle-free co-bucketed
joins — the physical contracts that matter at 100 TB."""

from __future__ import annotations

from pyspark.sql import functions as F

from user_behavior_spark_pipeline_spark.plans import explain_str
from user_behavior_spark_pipeline_spark.sinks import (
    write_bucketed_table,
    write_partitioned,
)
from user_behavior_spark_pipeline_spark.sources.tables import load_table


def test_partitioned_write_enables_partition_pruning(spark, sf_dir, tmp_path):
    ev = load_table(spark, sf_dir, "events")
    out = str(tmp_path / "by_type")
    write_partitioned(ev, out, ["event_type"])
    pruned = spark.read.parquet(out).filter(F.col("event_type") == "purchase")
    plan = explain_str(pruned)
    # partition filter handled at planning: no event_type data filter remains
    assert "PartitionFilters" in plan and "event_type" in plan
    assert pruned.count() == ev.filter("event_type = 'purchase'").count()


def test_cobucketed_join_has_no_exchange(spark, sf_dir, tmp_path):
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    write_bucketed_table(
        spark, orders, "b_orders", str(tmp_path / "orders_1"), "o_custkey", 8
    )
    write_bucketed_table(
        spark, customer.withColumnRenamed("c_custkey", "o_custkey"), "b_customer",
        str(tmp_path / "customer"), "o_custkey", 8,
    )
    joined = (
        spark.table("b_orders")
        .join(spark.table("b_customer"), "o_custkey")
        .groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    # force SMJ path so bucketing (not broadcast) carries the join
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = explain_str(joined)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    assert "Exchange" not in plan, plan[:2000]
    # a re-stage writes a fresh directory and the table still reads from it
    write_bucketed_table(
        spark, orders, "b_orders", str(tmp_path / "orders_2"), "o_custkey", 8
    )
    assert spark.table("b_orders").inputFiles()[0].startswith(
        (tmp_path / "orders_2").as_uri()
    )
    assert spark.table("b_orders").count() == orders.count()
    spark.sql("DROP TABLE b_orders")
    spark.sql("DROP TABLE b_customer")


def test_max_records_per_file_bounds_files(spark, sf_dir, tmp_path):
    import glob

    ev = load_table(spark, sf_dir, "events")
    out = str(tmp_path / "bounded")
    write_partitioned(
        ev.repartition(1), out, ["event_type"], max_records_per_file=100
    )
    n_rows = ev.count()
    files = glob.glob(f"{out}/**/*.parquet", recursive=True)
    assert len(files) >= n_rows // 100


def test_compaction_restores_file_count_and_data(spark, sf_dir, tmp_path):
    from user_behavior_spark_pipeline_spark.sinks import compact_parquet_dir

    events = load_table(spark, sf_dir, "events")
    fragmented = str(tmp_path / "fragmented")
    events.repartition(64).write.parquet(fragmented)  # simulate sink debris
    import glob

    assert len(glob.glob(fragmented + "/*.parquet")) == 64
    compacted = str(tmp_path / "compacted")
    n = compact_parquet_dir(spark, fragmented, compacted)
    got_files = glob.glob(compacted + "/*.parquet")
    assert len(got_files) == n < 64
    a = spark.read.parquet(fragmented)
    b = spark.read.parquet(compacted)
    assert a.count() == b.count()
    assert a.exceptAll(b).count() == 0


def test_merge_schema_read_unifies_evolved_columns(spark, tmp_path):
    out = str(tmp_path / "evolving")
    spark.createDataFrame([(1, "a")], "id long, old_col string").write.parquet(
        out + "/batch1"
    )
    spark.createDataFrame([(2, 7.5)], "id long, new_col double").write.parquet(
        out + "/batch2"
    )
    merged = spark.read.option("mergeSchema", "true").parquet(
        out + "/batch1", out + "/batch2"
    )
    assert sorted(merged.columns) == ["id", "new_col", "old_col"]
    rows = {r["id"]: r for r in merged.collect()}
    assert rows[1]["old_col"] == "a" and rows[1]["new_col"] is None
    assert rows[2]["new_col"] == 7.5 and rows[2]["old_col"] is None


def test_custom_datasource_partitions_independently(spark):
    """The Python DataSource must produce its rows across the declared
    partitions with no duplicates or gaps (each partition is a pure
    function of its id — executor-independent)."""
    from user_behavior_spark_pipeline_spark.sources.eventgen import register

    register(spark)
    df = spark.read.format("eventgen").option("rows", "1000").option(
        "partitions", "8"
    ).load()
    assert df.rdd.getNumPartitions() == 8
    ids = [r["event_id"] for r in df.select("event_id").collect()]
    assert sorted(ids) == list(range(1000))


def test_custom_writer_two_phase_commit_receipt(spark, tmp_path):
    """DataSourceWriter contract: per-partition commit messages fold into
    ONE driver-side atomic receipt whose totals match the input exactly."""
    import json

    from user_behavior_spark_pipeline_spark.sources.eventgen import register

    register(spark)
    df = (
        spark.read.format("eventgen")
        .option("rows", "1000")
        .option("partitions", "4")
        .load()
    )
    out = str(tmp_path / "receipts")
    df.write.format("receipt").option("path", out).mode("append").save()
    receipt = json.load(open(out + "/receipt.json"))
    assert receipt["rows"] == 1000
    assert receipt["partitions"] == 4
    expected_cents = sum((i * 37) % 10_000 for i in range(1000))
    assert receipt["cents"] == expected_cents


def test_bucketed_staging_survives_catalog_loss(spark, sf_dir):
    """The tables are session state: after the catalog loses them (fresh
    session, DROP, session restart) the query must re-stage instead of
    failing on a missing table."""
    from user_behavior_spark_pipeline_spark.registry import QUERIES

    assert QUERIES["x_join_bucketed"](spark, sf_dir).count() > 0
    spark.sql("DROP TABLE IF EXISTS bq_orders")
    spark.sql("DROP TABLE IF EXISTS bq_customer")
    assert QUERIES["x_join_bucketed"](spark, sf_dir).count() > 0


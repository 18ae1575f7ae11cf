"""Testdata schema-drift canary.

The driver REGENERATES /root/testdata between rounds and has already
changed a physical type once (events.ts: TIMESTAMP(NANOS) in round 1 →
TIMESTAMP(MICROS)/NTZ in round 2), which silently broke 19 queries until
diagnosed. This canary pins the post-`load_table` schema of every table:
if a regeneration changes anything, the FIRST failing test of the round
names the table and the exact diff instead of queries failing obscurely
downstream.

If this fails after a regeneration: update EXPECTED below once the
loaders/queries have been adapted to the new shape — the canary's job is
to make the drift loud, not to forbid it.
"""

from __future__ import annotations

import pytest

from tests.py4j_count import py4j_calls
from user_behavior_spark_pipeline_spark.sources import tables
from user_behavior_spark_pipeline_spark.sources.tables import TABLES, load_table

EXPECTED = {
    "region": "struct<r_regionkey:int,r_name:string>",
    "nation": "struct<n_nationkey:int,n_name:string,n_regionkey:int>",
    "customer": "struct<c_custkey:bigint,c_name:string,c_nationkey:int,c_acctbal:double,c_mktsegment:string>",
    "supplier": "struct<s_suppkey:bigint,s_name:string,s_nationkey:int,s_acctbal:double>",
    "part": "struct<p_partkey:bigint,p_name:string,p_brand:string,p_type:string,p_size:int,p_retailprice:double>",
    "orders": "struct<o_orderkey:bigint,o_custkey:bigint,o_orderstatus:string,o_totalprice:double,o_orderdate:timestamp_ntz,o_orderpriority:string>",
    "lineitem": "struct<l_orderkey:bigint,l_partkey:bigint,l_suppkey:bigint,l_linenumber:int,l_quantity:double,l_extendedprice:double,l_discount:double,l_tax:double,l_returnflag:string,l_linestatus:string,l_shipdate:timestamp_ntz>",
    "events": "struct<event_id:bigint,ts:timestamp_ntz,user_id:bigint,event_type:string,value:double,props:string>",
    "documents": "struct<doc_id:bigint,text:string,lang:string,source:string,n_chars:bigint>",
    "embeddings": "struct<vec_id:bigint,embedding:array<float>,label:int>",
}


@pytest.mark.parametrize("table", TABLES)
def test_table_schema_unchanged(spark, sf_dir, table):
    got = load_table(spark, sf_dir, table).schema.simpleString()
    assert got == EXPECTED[table], (
        f"TESTDATA DRIFT on {table!r}:\n  got      {got}\n"
        f"  expected {EXPECTED[table]}\n"
        "The driver regenerated the fixtures with a new shape — adapt "
        "sources/tables.py (and any affected queries), then update this "
        "canary."
    )


def test_documents_text_is_ascii_word_soup(spark, sf_dir):
    """x_multimodal_decode_q's oracle equates UTF-8 bytes with code points
    — valid only while the corpus is pure printable ASCII. Make that
    assumption loud."""
    import pyspark.sql.functions as F

    docs = load_table(spark, sf_dir, "documents")
    non_ascii = docs.filter(F.col("text").rlike("[^\\x20-\\x7e]")).count()
    assert non_ascii == 0, (
        f"{non_ascii} documents contain non-ASCII text; the "
        "x_multimodal_decode_q oracle (bytes == code points) no longer "
        "holds — switch its oracle to a byte-level reproduction."
    )


def test_warm_load_table_runs_no_job(spark, sf_dir):
    """The first read of a file resolves it with a job; a later read of
    the unchanged file reuses the memoized relation, so it runs no job.
    Its py4j round trips are the key's four conf reads and the one call
    that wraps the memoized relation; a read that resolves the file again
    makes 17 even with the schema given."""
    load_table(spark, sf_dir, "region")
    sc = spark.sparkContext
    sc.setJobGroup("load_table_warm", "load_table_warm")
    try:
        _, calls = py4j_calls(lambda: load_table(spark, sf_dir, "region"))
        assert sc.statusTracker().getJobIdsForGroup("load_table_warm") == []
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert calls <= 6, calls


@pytest.mark.parametrize("table", TABLES)
def test_memoized_schema_is_the_inferred_one(spark, sf_dir, table, monkeypatch):
    """The memoized relation has the schema Spark infers for the file,
    and a load served from it has the same schema as a load that reads
    the file."""
    import json

    from pyspark.sql.types import StructType

    path = f"{sf_dir}/{table}.parquet"
    load_table(spark, sf_dir, table)
    warm = load_table(spark, sf_dir, table).schema
    key = tables._relation_key(spark, path)
    relation = tables._RELATIONS[key][1]
    served = StructType.fromJson(json.loads(relation.schema().json()))
    assert served == spark.read.parquet(path).schema
    monkeypatch.setattr(tables, "_RELATIONS", {})
    assert load_table(spark, sf_dir, table).schema == warm


def test_self_join_of_two_loads_matches_plain_reads(spark, sf_dir):
    """Each load has its own attribute ids, so two loads of one table
    join like two independent reads."""
    import pyspark.sql.functions as F

    path = f"{sf_dir}/orders.parquet"

    def pairs(a, b):
        return a.join(
            b.where(F.col("o_orderstatus") == "F"),
            a["o_custkey"] == b["o_custkey"],
        ).count()

    loaded = pairs(
        load_table(spark, sf_dir, "orders"), load_table(spark, sf_dir, "orders")
    )
    plain = pairs(spark.read.parquet(path), spark.read.parquet(path))
    assert loaded == plain > 0


def test_memo_never_serves_another_session(spark, sf_dir):
    """A second session sharing the context gets a frame of its own
    session, never the first session's memoized one."""
    load_table(spark, sf_dir, "nation")
    other = spark.newSession()
    df = load_table(other, sf_dir, "nation")
    assert df.sparkSession is other
    assert df._jdf.sparkSession().equals(other._jsparkSession)
    assert load_table(spark, sf_dir, "nation").sparkSession is spark


def test_rewritten_file_is_inferred_again(spark, tmp_path):
    """A file rewritten at the same path with another column set misses
    the memo, so the new column is visible."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    path = str(tmp_path / "region.parquet")
    pq.write_table(pa.table({"r_regionkey": [1, 2], "r_name": ["a", "b"]}), path)
    load_table(spark, str(tmp_path), "region")
    assert load_table(spark, str(tmp_path), "region").columns == [
        "r_regionkey",
        "r_name",
    ]
    pq.write_table(
        pa.table({"r_regionkey": [3], "r_name": ["c"], "r_comment": ["new"]}),
        path,
    )
    df = load_table(spark, str(tmp_path), "region")
    assert df.columns == ["r_regionkey", "r_name", "r_comment"]
    assert [tuple(r) for r in df.collect()] == [(3, "c", "new")]


def test_schema_memo_stays_bounded_under_concurrent_inserts(monkeypatch):
    """Threads inserting at once never lose the bound or raise."""
    import sys
    import threading

    monkeypatch.setattr(tables, "_RELATIONS", {})
    errors = []

    def insert(t):
        try:
            for i in range(2000):
                tables._remember((t, i), None)
        except Exception as exc:  # noqa: BLE001 - reported below
            errors.append(exc)

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=insert, args=(t,)) for t in range(8)]
        for th in threads:
            th.start()
        for th in threads:
            th.join(timeout=60)
    finally:
        sys.setswitchinterval(old)
    assert not any(th.is_alive() for th in threads)
    assert errors == []
    assert len(tables._RELATIONS) == tables._RELATION_MEMO_MAX

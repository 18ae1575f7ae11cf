"""The synthetic-payload seam (operators/payload.synth_bytes): one scalar
pandas UDF that lifts a per-row ``bytes`` builder to a column."""

from __future__ import annotations

import random
import warnings

from pyspark.sql import functions as F

from user_behavior_spark_pipeline_spark.operators.payload import synth_bytes


def _one(d):
    # random.Random seeds from int/str/bytes only: a numpy scalar raises
    return random.Random(d).randbytes(d % 5 + 1)


def _two(d, t):
    return bytes([d % 256]) + t.encode() + random.Random(t).randbytes(3)


def test_synth_bytes_maps_fn_over_rows(spark):
    rows = [(i * 37, f"t{i}") for i in range(40)]
    docs = spark.createDataFrame(rows, "doc_id long, text string").repartition(3)
    with warnings.catch_warnings():
        warnings.simplefilter("error", UserWarning)
        one = synth_bytes(_one, "doc_id")
        two = synth_bytes(_two, F.col("doc_id"), "text")
    out = docs.select("doc_id", "text", one.alias("p1"), two.alias("p2"))
    got = {r["doc_id"]: (r["p1"], r["p2"]) for r in out.collect()}
    assert got == {d: (_one(d), _two(d, t)) for d, t in rows}
    assert "_build_fn(doc_id" in out._jdf.queryExecution().toString()

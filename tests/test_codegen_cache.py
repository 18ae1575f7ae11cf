"""The session's generated-code cache holds a working set larger than
Spark's default of 100 classes.

The cache is a JVM-wide LRU keyed on the generated source. A query mix
with more distinct classes than the cap evicts each class before it comes
round again, so a repeated mix recompiled everything. Compiles are read
from ``CodegenMetrics`` (one histogram update per Janino compile; a cache
hit records nothing)."""

from __future__ import annotations

from user_behavior_spark_pipeline_spark.session import codegen_compiles

_PLANS = 150  # distinct generated plans: more than the default cap of 100


def _run_mix(spark) -> None:
    for k in range(_PLANS):
        # the literal differs per plan, so each one generates its own class
        spark.range(8).selectExpr(f"id * {k} AS v").collect()


def test_session_pins_codegen_cache_cap(spark):
    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == "4096"


def test_repeated_mix_compiles_nothing(spark):
    before = codegen_compiles(spark)
    _run_mix(spark)
    first = codegen_compiles(spark) - before
    assert first > _PLANS // 2  # the first pass really generated code
    before = codegen_compiles(spark)
    _run_mix(spark)
    assert codegen_compiles(spark) - before == 0

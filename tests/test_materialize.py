"""The share-once seam (materialize.py) and the localCheckpoint pattern
its callers use: the iterative components loop — the heaviest consumer of
per-round checkpoints — keeps its chain + clique components, a lazy
checkpoint truncates lineage and re-reads stably, and the shared cache
registers and releases, leaving nothing cached."""

from __future__ import annotations

import pytest

from user_behavior_spark_pipeline_spark import materialize as M


@pytest.fixture()
def chain_and_clique_pairs(spark):
    # a 12-node chain (exercises pointer jumping over multiple rounds)
    # plus a 4-clique and an isolated pair
    chain = [(i, i + 1) for i in range(100, 112)]
    clique = [(a, b) for a in range(200, 204) for b in range(a + 1, 204)]
    extra = [(300, 301)]
    return spark.createDataFrame(
        chain + clique + extra, "doc_id_1 long, doc_id_2 long"
    )


def test_components_chain_and_clique(chain_and_clique_pairs):
    from user_behavior_spark_pipeline_spark.operators.dedup import (
        dedup_components,
    )

    got = {
        r["doc_id"]: r["component"]
        for r in dedup_components(chain_and_clique_pairs).collect()
    }
    expected = (
        {i: 100 for i in range(100, 113)}
        | {i: 200 for i in range(200, 204)}
        | {300: 300, 301: 300}
    )
    assert got == expected, got


def test_release_shared_drains_cache_registry(spark, sf_dir):
    """cache_shared registers, release_shared unpersists — no cached
    blocks linger after release (the round-4 ADVICE persist-leak)."""
    from user_behavior_spark_pipeline_spark.sources.tables import load_table

    df = load_table(spark, sf_dir, "documents").select("doc_id")
    cached, n = M.cache_shared(df)
    assert n == df.count()
    assert cached.storageLevel.useMemory
    released = M.release_shared()
    assert released >= 1
    assert not cached.storageLevel.useMemory


def test_cache_cap_eviction_warns(spark):
    """Evicting past the shared-cache cap must be LOUD (ADVICE r05): a
    silent unpersist re-creates the recompute-fan-out pathology the seam
    exists to prevent."""
    M.release_shared()
    original = M._MAX_SHARED_CACHES
    try:
        M._MAX_SHARED_CACHES = 2
        M.cache_shared(spark.range(1).toDF("a"))
        M.cache_shared(spark.range(2).toDF("b"))
        with pytest.warns(UserWarning, match="shared-cache cap"):
            M.cache_shared(spark.range(3).toDF("c"))
    finally:
        M._MAX_SHARED_CACHES = original
        M.release_shared()


@pytest.mark.parametrize(
    "name",
    [
        "x_dedup_substring",
        "x_dedup_strip",
        "x_dedup_report",
        "x_sim_lsh",
        "x_sim_ivf",
        "x_sim_pq",
    ],
)
def test_release_shared_leaves_nothing_cached(spark, sf_dir, name):
    """The queries that reuse an intermediate (the MEM-runs table of the
    dedup trio, the exact ANN baseline of the certified trio) compute it
    per call: after the query runs and release_shared() drains the
    shared registry, the session's CacheManager holds no entry."""
    from user_behavior_spark_pipeline_spark.registry import QUERIES

    spark.catalog.clearCache()
    QUERIES[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
    M.release_shared()
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_lazy_local_checkpoint_truncates_and_reuses(spark):
    """A lazy localCheckpoint (the strictly-sequential call sites in
    dedup and iceberg): the caller's next action materializes the frame;
    afterwards re-reads return identical rows (no recompute drift) and
    the logical plan is truncated to an RDD scan (it no longer references
    the input's shuffle). Fan-out sites keep the eager form."""
    from pyspark.sql import functions as F

    base = (
        spark.range(0, 1000)
        .select((F.col("id") % 97).alias("k"), F.col("id").alias("v"))
        .groupBy("k")
        .agg(F.min("v").alias("m"))
    )
    lazy = base.localCheckpoint(eager=False)
    # one sequential action materializes it (the fused dispatch)
    n = lazy.filter(F.col("m") % 2 == 0).count()
    rows1 = sorted((r["k"], r["m"]) for r in lazy.collect())
    rows2 = sorted((r["k"], r["m"]) for r in lazy.collect())
    assert rows1 == rows2
    assert n == len([r for r in rows1 if r[1] % 2 == 0])
    plan = lazy._jdf.queryExecution().optimizedPlan().toString()
    assert "Aggregate" not in plan, plan

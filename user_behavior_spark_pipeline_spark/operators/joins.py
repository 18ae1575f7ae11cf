"""Equi-joins over the star schema (OP-X-JOIN, SURVEY.md §2.5).

The reference has no joins — its README names them as the next step ("If we
had other tables available we could also do joins ... shops, players and
events" — README.md:819). These operators provide that surface over the
TPC-H-ish star schema, designed for 100 TB:

- FIXED-size dimensions (region: 5 rows, nation: 25 rows at any SF) carry
  explicit broadcast hints — always correct; SCALE-GROWING dimensions
  (customer/part/supplier) are left unhinted so static stats / AQE
  broadcast them while they fit and fall back to a shuffle join when they
  don't (a forced hint bypasses autoBroadcastJoinThreshold and fails
  outright at 100 TB);
- aggregation happens on the join output with map-side partial aggregation,
  so the only shuffle carries (group-key, partial-sum) pairs;
- money aggregates are exact integer sums of per-row scaled-and-rounded
  values (see registry docstring: cross-engine double-sum order isn't
  deterministic, per-row IEEE arithmetic is).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def money_e4(expr: Column) -> Column:
    """Exact fixed-point representation: round(expr * 1e4) as bigint."""
    return F.round(expr * F.lit(10000)).cast("long")


def sum_money(expr: Column) -> Column:
    """SUM of a money_e4-scaled column: decimal(38,0) ACCUMULATION, bigint
    output.

    Per-row money_e4 values are ~1e9, so an int64 accumulator overflows
    around 1e10 rows per group — inside the 100 TB design point (TPC-H
    SF100k lineitem is ~6e11 rows; ANSI mode throws, non-ANSI silently
    wraps while the DuckDB twin's HUGEINT sum stays exact). The decimal
    sum is exact to 1e38 and stays associative/map-side-combinable; the
    final bigint cast only narrows the RESULT, which the x10000 output
    contract requires to fit int64 anyway (totals past ~9·10¹⁴ currency
    units mean the fixed-point scale, not the accumulator, must change).
    Output type stays bigint because the DuckDB oracle's pandas bridge
    coerces DECIMAL(38,0) to float64 — a decimal OUTPUT would hash-differ
    even when values are equal. Same convention as
    stats.corr_quantity_price (decimal moments, double closed-form)."""
    return F.sum(expr.cast("decimal(38,0)")).cast("long")


def revenue_per_region_nation(
    lineitem: DataFrame, orders: DataFrame, customer: DataFrame,
    nation: DataFrame, region: DataFrame,
) -> DataFrame:
    """4-way star join: revenue = sum(extendedprice * (1 - discount)) per
    (region, nation). Dims broadcast; one shuffle total (the final group-by).
    """
    rev = money_e4(F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount")))
    return (
        lineitem.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        # customer grows with scale factor — no forced broadcast (a hint
        # bypasses autoBroadcastJoinThreshold and would OOM at 100 TB);
        # AQE/static stats still broadcast it while it fits. nation and
        # region are FIXED-size (25/5 rows at any SF): hint is always right.
        .join(customer, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy(F.col("r_name").alias("region"), F.col("n_name").alias("nation"))
        .agg(
            sum_money(rev).alias("revenue_x10000"),
            F.count(F.lit(1)).alias("num_items"),
        )
    )


def revenue_per_brand(lineitem: DataFrame, part: DataFrame) -> DataFrame:
    """Explicit broadcast dimension join (OP-X-JOIN broadcast variant).

    This query IS the forced-hint demonstration; note the hint bypasses
    autoBroadcastJoinThreshold, so at a scale where part no longer fits
    the broadcast budget, drop it and let AQE pick (the pattern the other
    star joins follow for their scale-growing dims)."""
    rev = money_e4(F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount")))
    return (
        lineitem.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy(F.col("p_brand").alias("brand"))
        .agg(
            sum_money(rev).alias("revenue_x10000"),
            F.sum(F.round(F.col("l_quantity") * 100).cast("long")).alias("qty_x100"),
        )
    )


def customers_with_orders(customer: DataFrame, orders: DataFrame) -> DataFrame:
    """Left-semi join (EXISTS). The orders side is reduced to its join key
    before the join — Catalyst prunes columns; at scale prefer a bloom-filter
    or broadcast of the distinct-key set when it fits."""
    return customer.join(
        orders, F.col("c_custkey") == F.col("o_custkey"), "left_semi"
    ).select("c_custkey", "c_name", "c_mktsegment")


def customers_without_big_orders(
    customer: DataFrame, orders: DataFrame, threshold: float = 450000.0
) -> DataFrame:
    """Anti join against a filtered right side — the filter is applied BEFORE
    the join (pushed into the orders scan), shrinking the build side."""
    big = orders.filter(F.col("o_totalprice") > threshold)
    return customer.join(
        big, F.col("c_custkey") == F.col("o_custkey"), "left_anti"
    ).select("c_custkey", "c_name", "c_mktsegment")


def local_supplier_revenue(
    lineitem: DataFrame, orders: DataFrame, customer: DataFrame,
    supplier: DataFrame, nation: DataFrame, region: DataFrame,
    region_name: str = "ASIA", date_lo: str = "1996-01-01", date_hi: str = "1997-01-01",
) -> DataFrame:
    """TPC-H Q5 shape: revenue per nation from LOCAL suppliers (customer and
    supplier in the same nation) within a region and order-date year.

    The plan to want at 100 TB: the o_orderdate range predicate pushes into
    the orders scan, region/nation/supplier/customer broadcast, lineitem is
    the only shuffled relation (for the l_orderkey equi-join with the
    filtered orders) and the c_nationkey = s_nationkey residual runs inside
    the join — one fact shuffle, one group-by shuffle."""
    rev = money_e4(F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount")))
    o = orders.filter(
        (F.col("o_orderdate") >= F.lit(date_lo).cast("timestamp"))
        & (F.col("o_orderdate") < F.lit(date_hi).cast("timestamp"))
    )
    r = region.filter(F.col("r_name") == region_name)
    return (
        lineitem.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        # customer/supplier grow with SF — unhinted (see
        # revenue_per_region_nation); fixed-size nation/region keep hints
        .join(customer, F.col("o_custkey") == F.col("c_custkey"))
        .join(
            supplier,
            (F.col("l_suppkey") == F.col("s_suppkey"))
            & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy(F.col("n_name").alias("nation"))
        .agg(sum_money(rev).alias("revenue_x10000"))
    )


def nation_pair_volume(
    lineitem: DataFrame,
    orders: DataFrame,
    customer: DataFrame,
    supplier: DataFrame,
    nation: DataFrame,
    nation_a: str = "NATION_1",
    nation_b: str = "NATION_2",
    date_lo: str = "1996-01-01",
    date_hi: str = "1998-01-01",
) -> DataFrame:
    """TPC-H Q7 shape: shipping volume between two nations per direction
    and ship-year — the DISJUNCTIVE join-predicate case ((A,B) or (B,A))
    the other TPC shapes don't exercise.

    Plan: the nation dimension is pre-filtered to the two names and
    broadcast TWICE (supplier side, customer side) — the OR condition
    lives in a post-join filter over two tiny dim columns, NOT in the
    join condition, so both dim joins stay broadcast-hash (an OR'd join
    key would force a nested-loop). Ship-date range pushes into the
    lineitem scan; lineitem shuffles once on l_orderkey."""
    pair = nation.filter(F.col("n_name").isin(nation_a, nation_b))
    supp_n = F.broadcast(
        pair.select(
            F.col("n_nationkey").alias("sn_key"),
            F.col("n_name").alias("supp_nation"),
        )
    )
    cust_n = F.broadcast(
        pair.select(
            F.col("n_nationkey").alias("cn_key"),
            F.col("n_name").alias("cust_nation"),
        )
    )
    li = lineitem.filter(
        (F.col("l_shipdate") >= F.lit(date_lo).cast("timestamp"))
        & (F.col("l_shipdate") < F.lit(date_hi).cast("timestamp"))
    )
    vol = money_e4(F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount")))
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(supplier, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(customer, F.col("o_custkey") == F.col("c_custkey"))
        .join(supp_n, F.col("s_nationkey") == F.col("sn_key"))
        .join(cust_n, F.col("c_nationkey") == F.col("cn_key"))
        .filter(F.col("supp_nation") != F.col("cust_nation"))
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").cast("long").alias("ship_year"),
        )
        .agg(sum_money(vol).alias("volume_x10000"))
    )


def large_quantity_orders(
    lineitem: DataFrame,
    orders: DataFrame,
    customer: DataFrame,
    min_total_qty: int = 250,
    k: int = 20,
) -> DataFrame:
    """TPC-H Q18 shape: customers whose single orders exceed a total
    lineitem quantity — the HAVING-subquery-as-semi-join case.

    Plan: the qualifying-order set is ONE aggregation over lineitem
    (map-side combinable long sum), then a semi-join back; the detail
    re-aggregation only touches qualifying orders' lineitems. Top-k is
    TakeOrdered over the (small) qualified aggregate, never a global
    sort."""
    qty = F.col("l_quantity").cast("long")
    big = (
        lineitem.groupBy("l_orderkey")
        .agg(F.sum(qty).alias("_q"))
        .filter(F.col("_q") > min_total_qty)
        .select("l_orderkey")
    )
    li = lineitem.join(big, "l_orderkey", "left_semi")
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(customer, F.col("o_custkey") == F.col("c_custkey"))
        .groupBy(
            F.col("c_name").alias("cust_name"),
            F.col("c_custkey").alias("custkey"),
            F.col("o_orderkey").alias("orderkey"),
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
            money_e4(F.col("o_totalprice")).alias("totalprice_x10000"),
        )
        .agg(F.sum(qty).alias("sum_qty"))
        .orderBy(
            F.col("totalprice_x10000").desc(), F.col("orderkey").asc()
        )
        .limit(k)
    )


def priority_order_exists(
    orders: DataFrame,
    lineitem: DataFrame,
    date_lo: str = "1996-07-01",
    date_hi: str = "1996-10-01",
) -> DataFrame:
    """TPC-H Q4 shape: order count per priority for orders in one quarter
    having at least one lineitem shipped after the order date — the
    correlated-EXISTS decorrelation case.

    Deliberately written as SQL with the correlated subquery INTACT so
    Catalyst's RewritePredicateSubquery does the decorrelation (the one
    classic optimizer path the hand-decorrelated shapes like Q18 never
    exercise): the EXISTS becomes a LEFT SEMI join on the equi part
    (l_orderkey = o_orderkey) with the correlated non-equi predicate
    (l_shipdate > o_orderdate) as a join residual — a hash semi join,
    never a nested loop (pinned in tests/test_plans.py). The date range
    pushes into the orders scan; the semi join's lineitem side prunes to
    (l_orderkey, l_shipdate) and stops probing an order at its first
    match, so at 100 TB the shuffle carries two columns of each relation
    and the aggregate is a 5-row hash agg.

    Inputs bind via parameterized spark.sql (ADVICE r07): DataFrames as
    ``{df}`` plan substitutions (no session-global temp views to race
    on), the dates as typed ``:param`` literals (no string splicing, no
    injection surface).

    The canonical Q4 predicate is l_commitdate < l_receiptdate; this
    corpus's lineitem carries neither column (TESTDATA.md), so the
    shipped-after-order-date predicate stands in — same correlation
    structure (outer column compared inside the subquery), same plan."""
    spark = orders.sparkSession
    return spark.sql(
        """
        SELECT o_orderpriority AS priority, COUNT(*) AS order_count
        FROM {orders}
        WHERE o_orderdate >= CAST(:date_lo AS TIMESTAMP)
          AND o_orderdate < CAST(:date_hi AS TIMESTAMP)
          AND EXISTS (SELECT 1 FROM {lineitem}
                      WHERE l_orderkey = o_orderkey
                        AND l_shipdate > o_orderdate)
        GROUP BY o_orderpriority
        """,
        args={"date_lo": str(date_lo), "date_hi": str(date_hi)},
        orders=orders,
        lineitem=lineitem,
    )


def waiting_suppliers(
    supplier: DataFrame,
    lineitem: DataFrame,
    orders: DataFrame,
    late_days: int = 60,
    k: int = 20,
) -> DataFrame:
    """TPC-H Q21 shape: suppliers who were the SOLE late supplier on a
    finished multi-supplier order — the EXISTS + NOT EXISTS double
    correlation, the heaviest decorrelation shape in the TPC-H suite.

    Like Q4 this keeps both correlated subqueries in the SQL so Catalyst
    rewrites them: the EXISTS (another supplier on the same order) becomes
    a LEFT SEMI hash join on l_orderkey with the l_suppkey <> residual,
    the NOT EXISTS (another supplier ALSO late on that order) a LEFT ANTI
    hash join on the same key — both hash-strategy because the equi part
    carries the join, the inequalities ride as residuals (pinned: no
    BroadcastNestedLoopJoin). Both subquery sides prune lineitem to 2-3
    columns before shuffling; at 100 TB each is one fact-sized shuffle on
    l_orderkey, and since the outer, EXISTS and NOT EXISTS sides all hash
    on l_orderkey an engine reuses one exchange for all three.

    "Late" is l_shipdate > o_orderdate + late_days (the corpus has no
    commit/receipt dates — TESTDATA.md); the NOT EXISTS correlates on BOTH
    l1.l_orderkey and the outer o_orderdate, reproducing Q21's multi-column
    correlation. Top-k is TakeOrdered over the ~|supplier| aggregate.

    Inputs bind via parameterized spark.sql (ADVICE r07): DataFrames as
    ``{df}`` substitutions instead of session-global temp views; the two
    numeric knobs pass through ``int()`` (INTERVAL/LIMIT positions can't
    take :param markers, so coercion is the injection guard there)."""
    spark = supplier.sparkSession
    late_days, k = int(late_days), int(k)
    return spark.sql(
        f"""
        SELECT s_name AS supp_name, COUNT(*) AS numwait
        FROM {{supplier}}
        JOIN {{lineitem}} l1 ON s_suppkey = l1.l_suppkey
        JOIN {{orders}} ON o_orderkey = l1.l_orderkey
        WHERE o_orderstatus = 'F'
          AND l1.l_shipdate > o_orderdate + INTERVAL {late_days} DAY
          AND EXISTS (SELECT 1 FROM {{lineitem}} l2
                      WHERE l2.l_orderkey = l1.l_orderkey
                        AND l2.l_suppkey <> l1.l_suppkey)
          AND NOT EXISTS (SELECT 1 FROM {{lineitem}} l3
                          WHERE l3.l_orderkey = l1.l_orderkey
                            AND l3.l_suppkey <> l1.l_suppkey
                            AND l3.l_shipdate >
                                o_orderdate + INTERVAL {late_days} DAY)
        GROUP BY s_name
        ORDER BY numwait DESC, supp_name
        LIMIT {k}
        """,
        supplier=supplier,
        lineitem=lineitem,
        orders=orders,
    )


def customer_order_distribution(
    customer: DataFrame,
    orders: DataFrame,
    exclude_priority: str = "1-URGENT",
) -> DataFrame:
    """TPC-H Q13 shape: distribution of orders-per-customer INCLUDING
    zero-order customers — the outer-join-then-double-aggregate report.

    Canonical Q13 puts the filter in the LEFT OUTER JOIN's ON clause so
    zero-order customers survive; since the predicate touches only the
    orders side, filtering before the join is equivalent — and this
    implementation goes one step further than Catalyst would: it
    AGGREGATES orders down to one (o_custkey, c_count) row BEFORE the
    join (aggregate pushdown through a join is not a Catalyst rewrite —
    it changes cardinality contracts — so it's done by hand here). At
    100 TB that's the difference between a join carrying one row per
    ORDER (then re-grouping 10:1) and one row per CUSTOMER: the orders
    fact is ground once by the partial-agg shuffle on o_custkey, the
    join probes |customer| ≈ |counts| rows, and the second aggregate
    (c_count → custdist) is a ~tiny-domain hash agg. Zero-order
    customers fall out of the LEFT join's nulls as c_count = 0 —
    semantically identical to the ON-clause form (pinned against the
    literal-SQL oracle, which DOES use the ON-clause form).

    The canonical predicate is o_comment NOT LIKE '%special%requests%';
    this corpus's orders carries no comment column (TESTDATA.md), so
    excluding a priority class stands in — same structure: a non-key
    predicate that must not turn the outer join inner."""
    counts = (
        orders.filter(F.col("o_orderpriority") != exclude_priority)
        .groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("c_count"))
    )
    return (
        customer.select("c_custkey")
        .join(counts, F.col("c_custkey") == F.col("o_custkey"), "left")
        .select(F.coalesce(F.col("c_count"), F.lit(0)).alias("c_count"))
        .groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
        .orderBy(F.desc("custdist"), F.desc("c_count"))
    )


def dormant_rich_customers(
    customer: DataFrame,
    orders: DataFrame,
    max_nationkey: int = 12,
    dormant_since: str = "2000-01-01",
) -> DataFrame:
    """TPC-H Q22 shape: per-nation count and balance of above-average-
    balance customers with no order since ``dormant_since`` — the
    scalar-subquery + NOT EXISTS anti-join combination.

    The dormancy WINDOW (vs canonical Q22's "never ordered") de-vacuates
    the certificate (VERDICT r08 #1): this fixture gives every customer
    ~10 orders, so the never-ordered form hash-matched 0 rows vs 0 rows —
    a wrong-key anti join would also "pass". With the window the result
    is non-empty at every SF (1 / 26 / 345 rows at sf0.001/0.01/0.1), so
    the green certifies the anti join's VALUE path. The date predicate
    pushes into the orders scan below the anti join; plan shape unchanged.

    Kept in SQL so Catalyst plans both subquery forms: the scalar AVG
    threshold becomes a one-row subquery broadcast to every scan task
    (computed once, reused), and the NOT EXISTS becomes a LEFT ANTI hash
    join on c_custkey (pinned: no BroadcastNestedLoopJoin). At 100 TB
    the anti join's orders side prunes to the single o_custkey column
    before its shuffle, and the aggregate is ~25 nation rows.

    The above-average comparison is INTEGER-EXACT: balances quantize to
    cents, and ``bal_c * COUNT > SUM(bal_c)`` replaces ``bal_c >
    AVG(bal_c)`` — same rational inequality, no float division, so the
    boundary row set is bit-identical in any engine at any partitioning
    (the x_agg_pricing_summary integer-money recipe). Canonical Q22
    derives country codes from c_phone substrings; this corpus has no
    phone column (TESTDATA.md), so c_nationkey ≤ max_nationkey stands in
    for the IN-list of codes."""

    spark = customer.sparkSession
    # the pool feeds THREE consumers (the scalar COUNT, the scalar SUM,
    # and the main scan); Spark inlines SQL CTEs, so without this the
    # customer fact is scanned three times (measured). Materialize the
    # filtered two-predicate projection once and let Catalyst plan the
    # scalar subqueries + anti join over the checkpoint.
    pool = (
        customer.filter(F.col("c_nationkey") <= max_nationkey)
        .select(
            "c_custkey",
            "c_nationkey",
            F.round(F.col("c_acctbal") * 100)
            .cast("long")
            .alias("bal_c"),
        )
        .localCheckpoint()
    )
    return spark.sql(
        """
        WITH pool AS (SELECT * FROM {pool})
        SELECT c_nationkey AS cntrycode,
               COUNT(*) AS numcust,
               SUM(bal_c) AS totacctbal_x100
        FROM pool
        WHERE bal_c * (SELECT COUNT(*) FROM pool WHERE bal_c > 0)
              > (SELECT SUM(bal_c) FROM pool WHERE bal_c > 0)
          AND NOT EXISTS (SELECT 1 FROM {orders}
                          WHERE o_custkey = c_custkey
                            AND o_orderdate >= CAST(:dormant_since AS TIMESTAMP))
        GROUP BY c_nationkey
        ORDER BY cntrycode
        """,
        args={"dormant_since": str(dormant_since)},
        pool=pool,
        orders=orders,
    )


def shipping_priority(
    lineitem: DataFrame,
    orders: DataFrame,
    customer: DataFrame,
    segment: str = "BUILDING",
    cutoff: str = "1998-01-01",
    k: int = 10,
) -> DataFrame:
    """TPC-H Q3 shape: top-k unshipped orders by revenue for one market
    segment — orders placed before the cutoff whose lineitems ship after it.

    Plan: both date predicates push into their scans, customer (filtered to
    one segment) broadcasts, lineitem shuffles once on l_orderkey; the
    top-k is a TakeOrdered over the aggregated (small) result, never a full
    sort of lineitem."""
    rev = money_e4(F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount")))
    c = customer.filter(F.col("c_mktsegment") == segment).select("c_custkey")
    o = orders.filter(
        F.col("o_orderdate") < F.lit(cutoff).cast("timestamp")
    ).select("o_orderkey", "o_custkey", "o_orderdate", "o_orderpriority")
    l = lineitem.filter(
        F.col("l_shipdate") > F.lit(cutoff).cast("timestamp")
    ).select("l_orderkey", "l_extendedprice", "l_discount")
    return (
        l.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        # one-segment customer is ~SF/5 — still scale-growing, unhinted
        .join(c, F.col("o_custkey") == F.col("c_custkey"))
        .groupBy(
            "l_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
            "o_orderpriority",
        )
        .agg(sum_money(rev).alias("revenue_x10000"))
        .orderBy(F.desc("revenue_x10000"), F.asc("l_orderkey"))
        .limit(k)
    )


def returned_item_revenue(
    lineitem: DataFrame,
    orders: DataFrame,
    customer: DataFrame,
    nation: DataFrame,
    date_lo: str = "1996-01-01",
    date_hi: str = "1996-04-01",
    k: int = 20,
) -> DataFrame:
    """TPC-H Q10 shape: top-k customers by revenue lost to returns
    (l_returnflag = 'R') in one quarter, with the customer's nation.

    Plan: the quarter predicate pushes into the orders scan, the return
    flag into lineitem's; customer and nation broadcast; one lineitem
    shuffle on l_orderkey, one group-by shuffle on the customer key."""
    rev = money_e4(F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount")))
    o = orders.filter(
        (F.col("o_orderdate") >= F.lit(date_lo).cast("timestamp"))
        & (F.col("o_orderdate") < F.lit(date_hi).cast("timestamp"))
    ).select("o_orderkey", "o_custkey")
    l = lineitem.filter(F.col("l_returnflag") == "R").select(
        "l_orderkey", "l_extendedprice", "l_discount"
    )
    return (
        l.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(customer, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("c_custkey", "c_name", F.col("n_name").alias("nation"))
        .agg(sum_money(rev).alias("revenue_x10000"))
        .orderBy(F.desc("revenue_x10000"), F.asc("c_custkey"))
        .limit(k)
    )


def pricing_summary(lineitem: DataFrame, ship_cutoff: str = "2001-01-01") -> DataFrame:
    """TPC-H Q1 shape: the pricing-summary report — per (returnflag,
    linestatus): quantity/price/discounted/charged sums, integer-exact, plus
    half-up integer averages. Single scan, map-side partial agg, one tiny
    shuffle; the shipdate predicate pushes into the parquet scan."""
    qty = F.round(F.col("l_quantity") * 100).cast("long")
    base = money_e4(F.col("l_extendedprice"))
    disc = money_e4(F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount")))
    charge = money_e4(
        F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount")) * (F.lit(1) + F.col("l_tax"))
    )
    n = F.count(F.lit(1))
    return (
        lineitem.filter(F.col("l_shipdate") <= F.lit(ship_cutoff).cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(qty).alias("sum_qty_x100"),
            sum_money(base).alias("sum_base_x10000"),
            sum_money(disc).alias("sum_disc_price_x10000"),
            sum_money(charge).alias("sum_charge_x10000"),
            F.expr(
                "(2 * sum(cast(round(l_quantity * 100) as bigint)) + count(1)) "
                "div (2 * count(1))"
            ).alias("avg_qty_x100"),
            n.alias("count_order"),
        )
    )


def salted_join(
    fact: DataFrame,
    dim: DataFrame,
    fact_key: str,
    dim_key: str,
    num_salts: int = 8,
    fact_id_col: str | None = None,
) -> DataFrame:
    """Skew-safe equi-join by salting: the classic remedy when one join key
    carries a disproportionate share of the fact rows and AQE's runtime
    skew-split isn't available (e.g. the join feeds a co-partitioned
    downstream op).

    The fact side gets a deterministic salt in [0, num_salts); the dimension
    side is replicated num_salts× with an exploded salt column; the join key
    becomes (key, salt), so a hot key's rows spread over num_salts reducer
    partitions instead of one. Cost: dim × num_salts (dims are small — and
    if the dim broadcasts, you didn't need salting). Result set is exactly
    the plain join's.

    The salt MUST vary per fact row (``fact_id_col`` — a row id), never be a
    function of the join key alone: hash(hot_key) puts every hot row in the
    same salt bucket, which is exactly the skew being fixed. Without a row
    id the fallback hashes the WHOLE row — still deterministic per row
    CONTENT, which matters for fault tolerance: a salt from
    monotonically_increasing_id() changes across task re-execution, so a
    partial stage retry (shuffle-fetch failure) could re-salt recomputed
    rows into different buckets than the copies already fetched — rows
    joining twice or never (the SPARK-23207 failure class). The only cost
    of the content hash: byte-identical duplicate rows of a hot key share
    a bucket; pass ``fact_id_col`` where exact duplicates are common.

    The content hash skips columns xxhash64 cannot digest (MapType and
    VariantType, at any nesting depth) — a fact carrying a map column
    would otherwise fail the whole join at analysis time. A schema with
    NO hashable column (all-map facts) must pass ``fact_id_col``."""
    from pyspark.sql.types import ArrayType, MapType, StructType

    def _hashable(dt) -> bool:
        if isinstance(dt, MapType) or type(dt).__name__ == "VariantType":
            return False
        if isinstance(dt, ArrayType):
            return _hashable(dt.elementType)
        if isinstance(dt, StructType):
            return all(_hashable(f.dataType) for f in dt.fields)
        return True

    if fact_id_col:
        salt_src = F.xxhash64(F.col(fact_id_col))
    else:
        hashable = [
            f.name for f in fact.schema.fields if _hashable(f.dataType)
        ]
        if not hashable:
            raise ValueError(
                "salted_join: no xxhash64-hashable fact columns (map/"
                "variant only) — pass fact_id_col to derive the salt"
            )
        salt_src = F.xxhash64(*[F.col(c) for c in hashable])
    salted_fact = fact.withColumn(
        "_salt", F.pmod(salt_src, F.lit(num_salts)).cast("int")
    )
    salted_dim = dim.withColumn(
        "_salt", F.explode(F.sequence(F.lit(0), F.lit(num_salts - 1)))
    )
    return salted_fact.join(
        salted_dim,
        (salted_fact[fact_key] == salted_dim[dim_key])
        & (salted_fact["_salt"] == salted_dim["_salt"]),
    ).drop("_salt")


def bloom_semi_join(
    fact: DataFrame,
    keys: DataFrame,
    fact_key: str,
    keys_key: str,
    bits_per_key: int = 10,
    num_hashes: int = 5,
    max_bits: int = 1 << 26,
) -> DataFrame:
    """Semi join with a Bloom pre-filter: fact rows are screened against a
    compact bit array of the key set BEFORE any join, then exactly
    verified with a semi join over the (much smaller) survivor set.

    The extreme-scale shape SCALE.md's join audit calls for: when the key
    set is too large to broadcast raw but its Bloom bits are not
    (``bits_per_key``·|keys| bits ≈ 1.25 bytes/key at 10 bits), the fact
    scan drops non-matching rows map-side and only candidates reach the
    join. With 10 bits/key and 5 hashes the false-positive rate is ~1%,
    so the verify join sees ~1.01× the true matches — never the full fact
    table. The DEFAULT ``max_bits`` (2^26 = 8 MB) keeps that promise up
    to ~6.7M keys — the envelope Spark's own runtime filter targets;
    beyond it the FP rate rises toward 1 and the operator degrades to a
    plain semi join plus probe overhead, so callers with larger key sets
    must raise ``max_bits`` (a 1B-key set needs ~1.2 GB of bits — still
    8× smaller than the raw ids, but sized deliberately, not silently).

    Build: the bit positions are computed and OR-combined into 64-bit
    words DISTRIBUTED (explode + one hash aggregation over the key set);
    only the finished word array — capped at ``max_bits`` (default 2^26
    bits = 8 MB, the same ceiling Spark's own InjectRuntimeFilter defaults
    to) — lands on the driver, which is exactly how Spark's native runtime
    bloom filter delivers its sketch (a scalar subquery's result is
    collected to the driver before being inlined). If the key set
    outgrows the cap the false-positive rate degrades gracefully and the
    verify join still guarantees exactness. The dense array reaches the
    probe as a one-row local relation through a SCALAR SUBQUERY
    (``df.scalar()``): evaluated once, shared by every action over the
    result — a cross join would instead memcpy the whole bit array onto
    every fact row. Probe: pure JVM expressions (xxhash64 with per-hash
    seeds, element_at + bitwiseAND), no Python, no shuffle of the fact
    side until after the filter.

    Both key columns are cast to a common type before hashing: xxhash64 is
    type-sensitive (int 5 and bigint 5 hash differently), so mixed-width
    keys would otherwise miss every probe — a silent false-NEGATIVE,
    violating the false-positives-only contract. Integral pairs unify to
    bigint; anything else unifies through string.

    The verify step is a plain left-semi join with no broadcast hint: AQE
    broadcasts it when the key set is small and shuffles otherwise — the
    bloom stage's job is shrinking the fact side ~100× before that
    shuffle, not avoiding it.

    Exactness: the Bloom filter admits false positives only, and the
    verify join removes them — the result EQUALS the plain semi join
    (pinned in tests and by the oracle of the registry query).
    """
    integral = {"tinyint", "smallint", "int", "bigint"}
    common = (
        "bigint"
        if dict(fact.dtypes)[fact_key] in integral
        and dict(keys.dtypes)[keys_key] in integral
        else "string"
    )
    # kd feeds three plans (sizing count, bloom build, verify join) —
    # materialize the distinct ONCE instead of recomputing the key-set
    # scan + distinct shuffle per plan. persist WITH lineage (not
    # localCheckpoint): the key set can reach ~1e9 rows and the fact
    # probe runs long — an executor lost mid-probe recomputes a persisted
    # partition from lineage, where a localCheckpoint block is simply
    # gone and fails the job (SCALE.md, durability caveat). The count()
    # below doubles as the eager materialization.
    from ..materialize import cache_shared

    kd, n_keys = cache_shared(
        keys.select(F.col(keys_key).cast(common).alias("_k")).distinct()
    )
    m_bits = min(max(64, n_keys * bits_per_key), max_bits)
    m_words = (m_bits + 63) // 64
    positions = kd.select(
        F.explode(
            F.array(
                *[
                    F.pmod(F.xxhash64(F.col("_k"), F.lit(i)), F.lit(m_bits))
                    for i in range(num_hashes)
                ]
            )
        ).alias("bit")
    )
    words = positions.select(
        (F.col("bit") / 64).cast("int").alias("w"),
        # F.shiftleft only takes a literal count — call_function passes a
        # column-valued shift
        F.call_function(
            "shiftleft",
            F.lit(1).cast("bigint"),
            F.pmod(F.col("bit"), F.lit(64)).cast("int"),
        ).alias("m"),
    ).groupBy("w").agg(F.bit_or("m").alias("bits"))
    dense = [0] * m_words
    for r in words.collect():  # <= m_bits/8 bytes = 8 MB at the cap
        dense[r["w"]] = r["bits"]
    spark = fact.sparkSession
    bloom = spark.createDataFrame([(dense,)], "bloom array<long>")

    bloom_arr = bloom.scalar()
    fk = F.col(fact_key).cast(common)
    member = None
    for i in range(num_hashes):
        h = F.pmod(F.xxhash64(fk, F.lit(i)), F.lit(m_bits))
        word = F.element_at(bloom_arr, (h / 64).cast("int") + 1)
        mask = F.call_function(
            "shiftleft",
            F.lit(1).cast("bigint"),
            F.pmod(h, F.lit(64)).cast("int"),
        )
        hit = word.bitwiseAND(mask) != 0
        member = hit if member is None else (member & hit)
    candidates = fact.filter(member)
    return candidates.join(
        kd, candidates[fact_key].cast(common) == kd["_k"], "left_semi"
    )


def top_revenue_suppliers(
    lineitem: DataFrame,
    supplier: DataFrame,
    start: str = "1996-01-01",
    end: str = "1996-04-01",
) -> DataFrame:
    """TPC-H Q15 shape: the supplier(s) whose quarterly revenue equals the
    global maximum — an aggregate view consumed twice (once as rows, once
    reduced to a one-row scalar).

    Plan: the revenue view is ONE shuffle of the date-pruned lineitem on
    l_suppkey (predicates push to the scan; map-side partial sums mean
    the shuffle carries (suppkey, partial) pairs, ~|suppliers| rows per
    task). The view feeds TWO consumers (its own rows + the one-row
    MAX), and measured plans showed AQE does NOT reuse the exchange
    between them (ADVICE r07, 2 lineitem scans) — so the ~|suppliers|-row
    aggregate is MATERIALIZED once and both consumers read the cache:
    one fact scan total, which at 100 TB is the difference that
    matters. The MAX joins back with a broadcast hint. Ties: ALL
    max-revenue suppliers return (set semantics, same as canonical
    Q15's view form), ordered by s_suppkey. Revenue is integer-exact
    (money_e4 per row, decimal accumulation — sum_money above)."""
    rev = money_e4(F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount")))
    revenue = (
        lineitem.filter(
            (F.col("l_shipdate") >= F.lit(start).cast("timestamp"))
            & (F.col("l_shipdate") < F.lit(end).cast("timestamp"))
        )
        .groupBy("l_suppkey")
        .agg(sum_money(rev).alias("total_revenue_x10000"))
    )
    revenue = revenue.localCheckpoint()
    top = revenue.agg(
        F.max("total_revenue_x10000").alias("max_revenue_x10000")
    )
    return (
        revenue.join(
            F.broadcast(top),
            F.col("total_revenue_x10000") == F.col("max_revenue_x10000"),
        )
        .join(supplier, F.col("l_suppkey") == F.col("s_suppkey"))
        .select("s_suppkey", "s_name", "total_revenue_x10000")
        .orderBy("s_suppkey")
    )


def parts_per_clean_supplier(
    part: DataFrame,
    lineitem: DataFrame,
    supplier: DataFrame,
    sizes: tuple = (1, 4, 9, 14, 23, 36, 45, 49),
) -> DataFrame:
    """TPC-H Q16 shape: supplier count per (brand, type, size) bucket,
    EXCLUDING a blacklist via NOT IN — the null-aware anti-join path
    (distinct from Q21's NOT EXISTS: NOT IN must also reject when the
    subquery yields any NULL, so Catalyst plans a null-aware LeftAnti
    hash join, not a plain one).

    Canonical Q16 counts suppliers from partsupp and blacklists
    '%Customer%Complaints%' suppliers; this corpus has no partsupp or
    s_comment (TESTDATA.md), so supplier-per-part comes from lineitem
    (l_partkey, l_suppkey) and negative account balance stands in for
    the complaint flag — same structure: a small subquery feeding a
    NOT IN against the fact's FK.

    Plan at 100 TB: the blacklist is a handful of rows → broadcast
    null-aware anti join on l_suppkey (no shuffle added); part joins on
    the partkey with the p_size IN-list and inequality predicates pushed
    to the part scan; COUNT(DISTINCT) shuffles (brand, type, size,
    suppkey) once for the distinct, then re-aggregates — Spark's two-
    phase distinct-agg expansion, the same plan a hand-written
    dedup-then-count would produce."""
    blacklist = supplier.filter(F.col("s_acctbal") < 0).select("s_suppkey")
    p = part.filter(
        (F.col("p_brand") != "Brand#5")
        & (F.col("p_type") != "PROMO")
        & F.col("p_size").isin(list(sizes))
    ).select("p_partkey", "p_brand", "p_type", "p_size")
    pairs = (
        lineitem.select("l_partkey", "l_suppkey")
        # NOT IN semantics via null-aware anti join: Catalyst recognizes
        # exactly the shape ``eq OR isnull(eq)`` (what SQL NOT IN
        # compiles to) and plans BroadcastHashJoin ... LeftAnti ...
        # NullAwareAntiJoin; any other null-handling spelling falls off
        # the fast path into a nested loop (plan-pinned in test_plans).
        .join(
            F.broadcast(blacklist),
            (F.col("l_suppkey") == F.col("s_suppkey"))
            | (F.col("l_suppkey") == F.col("s_suppkey")).isNull(),
            "left_anti",
        )
        .join(p, F.col("l_partkey") == F.col("p_partkey"))
    )
    return (
        pairs.groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
        .orderBy(
            F.desc("supplier_cnt"), "p_brand", "p_type", "p_size"
        )
    )


def small_quantity_revenue(
    lineitem: DataFrame,
    part: DataFrame,
    brand: str = "Brand#23",
    ptype: str = "MEDIUM",
) -> DataFrame:
    """TPC-H Q17 shape: revenue from orders of less than 20% of a part's
    average order quantity — the correlated scalar aggregate subquery.

    Kept in SQL so Catalyst performs the decorrelation itself: the
    per-partkey AVG becomes an Aggregate over lineitem joined back on
    l_partkey (a hash join), never a per-row re-scan. At 100 TB the avg
    side is one map-combined shuffle of (partkey, sum, count) — the
    canonical plan TPC-H validates optimizers with.

    The threshold compare stays the canonical ``l_quantity < 0.2 *
    avg(l_quantity)`` and is still engine-exact here: quantities are
    integer-valued (1..50), so SUM/COUNT are exact in any engine and
    the final divide-and-scale is one IEEE double op with identical
    rounding everywhere — no order-of-accumulation hazard (contrast
    sum_money's rationale, which guards fractional per-row doubles).
    Canonical Q17 filters p_container; this corpus has none
    (TESTDATA.md), so p_type stands in. Output: exact cents sum +
    matched row count (no /7.0 — integer outputs hash stably).

    Inputs bind via parameterized spark.sql (ADVICE r07): DataFrames as
    ``{df}`` substitutions instead of session-global temp views,
    brand/ptype as typed ``:param`` literals — no string splicing, so a
    quote in a brand name is data, not syntax."""
    spark = lineitem.sparkSession
    return spark.sql(
        """
        SELECT
            CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT))
                 AS BIGINT) AS small_qty_revenue_x100,
            COUNT(*) AS n_rows
        FROM {lineitem} li, {part} p
        WHERE p.p_partkey = li.l_partkey
          AND p.p_brand = :brand
          AND p.p_type = :ptype
          AND li.l_quantity < (
              SELECT 0.2 * AVG(l2.l_quantity)
              FROM {lineitem} l2
              WHERE l2.l_partkey = p.p_partkey
          )
        """,
        args={"brand": str(brand), "ptype": str(ptype)},
        lineitem=lineitem,
        part=part,
    )


def disjunctive_brand_revenue(lineitem: DataFrame, part: DataFrame) -> DataFrame:
    """TPC-H Q19 shape: revenue under an OR-of-ANDs predicate spanning
    both join sides — the classic test that a disjunction sharing one
    equi-key still plans as a HASH join with a residual filter, not a
    nested loop (each disjunct constrains both part and lineitem
    columns, but ``p_partkey = l_partkey`` is common to all three).

    Plan: single join on partkey (part broadcasts while it fits; at
    100 TB AQE falls back to a shuffle hash join on the same key) with
    the OR evaluated as a post-join residual; Catalyst additionally
    extracts disjunct-common bounds (brand IN-list, p_size >= 1) and
    pushes them into the part scan, so the build side carries only
    candidate brands. Canonical Q19 uses p_container/l_shipmode —
    absent here (TESTDATA.md); p_size and l_quantity bands preserve
    the structure: per-disjunct ranges on BOTH sides of the join."""
    rev = money_e4(F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount")))
    j = lineitem.join(part, F.col("p_partkey") == F.col("l_partkey"))
    d1 = (
        (F.col("p_brand") == "Brand#12")
        & F.col("p_size").between(1, 5)
        & F.col("l_quantity").between(1, 11)
    )
    d2 = (
        (F.col("p_brand") == "Brand#23")
        & F.col("p_size").between(1, 10)
        & F.col("l_quantity").between(10, 20)
    )
    d3 = (
        (F.col("p_brand") == "Brand#34")
        & F.col("p_size").between(1, 15)
        & F.col("l_quantity").between(20, 30)
    )
    return j.filter(d1 | d2 | d3).agg(
        sum_money(rev).alias("revenue_x10000"),
        F.count(F.lit(1)).alias("n_rows"),
    )


def national_market_share(
    lineitem: DataFrame,
    orders: DataFrame,
    customer: DataFrame,
    supplier: DataFrame,
    nation: DataFrame,
    region: DataFrame,
    part: DataFrame,
    target_nation: str = "NATION_2",
    market_region: str = "ASIA",
    ptype: str = "ECONOMY",
) -> DataFrame:
    """TPC-H Q8 shape: one supplier nation's share of a region's market
    for one part type, per order year — the widest join in the TPC deck
    (7 tables, 8 scans) and the one that needs the SAME dimension twice
    with different roles: nation joins once through the CUSTOMER side
    (restricting the market to a region) and once through the SUPPLIER
    side (labeling revenue with the supplier's nation).

    Plan at 100 TB: every dimension chain (customer→nation→region,
    supplier→nation, part) broadcasts — nation/region are fixed-size,
    and filtered part / customer-in-region shrink with their predicates
    — so lineitem, the only fact at scale, is scanned once and never
    shuffled until the final tiny per-year aggregate; orders joins
    lineitem on l_orderkey (the one potentially-shuffled join; AQE picks
    broadcast while the date-pruned orders side fits). The two nation
    roles are separate aliased broadcasts, not a shared plan node — the
    self-join-of-dims pattern. Share is returned as exact integer
    numerator/denominator (×10000 cents), not a float division."""
    rev = money_e4(F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount")))
    cust_region = (
        customer.join(
            F.broadcast(nation).select("n_nationkey", "n_regionkey"),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .join(
            F.broadcast(region).filter(F.col("r_name") == market_region),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .select("c_custkey")
    )
    supp_nation = supplier.join(
        F.broadcast(nation.select("n_nationkey", "n_name")),
        F.col("s_nationkey") == F.col("n_nationkey"),
    ).select("s_suppkey", F.col("n_name").alias("supp_nation"))
    p = part.filter(F.col("p_type") == ptype).select("p_partkey")
    vol = (
        lineitem.join(p, F.col("l_partkey") == F.col("p_partkey"))
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cust_region, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(supp_nation), F.col("l_suppkey") == F.col("s_suppkey"))
        .select(
            F.year("o_orderdate").alias("o_year"),
            rev.alias("volume"),
            "supp_nation",
        )
    )
    return (
        vol.groupBy("o_year")
        .agg(
            sum_money(
                F.when(
                    F.col("supp_nation") == target_nation, F.col("volume")
                ).otherwise(F.lit(0))
            ).alias("nation_volume_x10000"),
            sum_money(F.col("volume")).alias("total_volume_x10000"),
        )
        .orderBy("o_year")
    )


def promo_revenue_share(
    lineitem: DataFrame,
    part: DataFrame,
    start: str = "1997-01-01",
    end: str = "1997-02-01",
) -> DataFrame:
    """TPC-H Q14 shape: promotional revenue vs total revenue for one
    month — conditional aggregation over a fact-dim join where the
    CASE branches on the DIMENSION's attribute (the filter can't be
    pushed: both branches need the same joined rows).

    Plan: l_shipdate band pushed to the lineitem scan; part joins on
    partkey carrying only (p_partkey, p_type); one map-combined
    aggregate emits a single row. Share returned as exact integer
    numerator/denominator (the module's no-float-division contract);
    canonical Q14's 'PROMO%' LIKE prefix becomes equality — p_type here
    is a closed 6-value enum (TESTDATA.md), not TPC-H's 3-word type."""
    rev = money_e4(F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount")))
    l = lineitem.filter(
        (F.col("l_shipdate") >= F.lit(start).cast("timestamp"))
        & (F.col("l_shipdate") < F.lit(end).cast("timestamp"))
    )
    return (
        l.join(part.select("p_partkey", "p_type"),
               F.col("l_partkey") == F.col("p_partkey"))
        .agg(
            sum_money(
                F.when(F.col("p_type") == "PROMO", rev).otherwise(F.lit(0))
            ).alias("promo_revenue_x10000"),
            sum_money(rev).alias("total_revenue_x10000"),
            F.count(F.lit(1)).alias("n_rows"),
        )
    )


def forecast_revenue_change(
    lineitem: DataFrame,
    date_lo: str = "1996-01-01",
    date_hi: str = "1997-01-01",
    disc_lo: float = 0.05,
    disc_hi: float = 0.07,
    max_qty: float = 24.0,
) -> DataFrame:
    """TPC-H Q6 shape: single-table revenue delta under three range
    predicates — THE predicate-pushdown microbenchmark (no join at all:
    the whole query is scan + filter + one-row agg).

    All three bands (shipdate, discount, quantity) must reach the
    parquet scan as PushedFilters (plan-pinned), so at 100 TB row groups
    outside the date year never leave storage and the scan reads exactly
    4 columns. The discount band compares against per-row cents
    (round(d*100)) rather than raw doubles — 0.07 has no exact binary
    representation, and this corpus quantizes discounts to cents, so the
    integer band is both exact and identical in any engine. Because the
    cents expression can't push through parquet (it's a cast-round, not
    a column predicate), a REDUNDANT raw-double sandwich band with
    half-a-cent slack on each side is applied first — it pushes to the
    scan, and anything the exact band keeps lies inside it, so row
    groups prune on all three columns while the exact integer filter
    still decides every boundary row."""
    d_cents = F.round(F.col("l_discount") * 100).cast("long")
    rev = money_e4(F.col("l_extendedprice") * F.col("l_discount"))
    return (
        lineitem.filter(
            (F.col("l_shipdate") >= F.lit(date_lo).cast("timestamp"))
            & (F.col("l_shipdate") < F.lit(date_hi).cast("timestamp"))
            & (F.col("l_quantity") < max_qty)
            # pushable sandwich: anything rounding into [lo, hi] cents
            # lies inside [lo - 0.5c, hi + 0.5c] — pure column bounds,
            # so parquet row-group stats prune on l_discount too
            & (F.col("l_discount") >= disc_lo - 0.005)
            & (F.col("l_discount") <= disc_hi + 0.005)
        )
        .filter(
            (d_cents >= int(round(disc_lo * 100)))
            & (d_cents <= int(round(disc_hi * 100)))
        )
        .agg(
            sum_money(rev).alias("revenue_x10000"),
            F.count(F.lit(1)).alias("n_rows"),
        )
    )


def priority_shipping_counts(
    lineitem: DataFrame,
    orders: DataFrame,
    date_lo: str = "1997-01-01",
    date_hi: str = "1998-01-01",
) -> DataFrame:
    """TPC-H Q12 shape: per-category counts of critical- vs normal-
    priority orders among a year's shipments — the dual-CASE conditional
    count over a fact-fact join.

    Canonical Q12 groups by l_shipmode and bands commit/receipt dates;
    this corpus has none of those columns (TESTDATA.md), so the group
    key is l_linestatus and the band is l_shipdate — structure
    preserved: the CASE branches on the OTHER side of the join
    (o_orderpriority), so neither branch can be pushed below it.

    Plan: date band pushed to the lineitem scan, one equi-join on
    orderkey carrying only (l_orderkey, l_linestatus) against
    (o_orderkey, o_orderpriority), map-combined dual conditional count
    to ~2 rows."""
    is_critical = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    l = lineitem.filter(
        (F.col("l_shipdate") >= F.lit(date_lo).cast("timestamp"))
        & (F.col("l_shipdate") < F.lit(date_hi).cast("timestamp"))
    ).select("l_orderkey", "l_linestatus")
    return (
        l.join(
            orders.select("o_orderkey", "o_orderpriority"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .groupBy("l_linestatus")
        .agg(
            F.count(F.when(is_critical, 1)).alias("high_line_count"),
            F.count(F.when(~is_critical, 1)).alias("low_line_count"),
        )
        .orderBy("l_linestatus")
    )


# ---------------------------------------------------------------------------
# Derived partsupp + the four partsupp-backed TPC-H shapes (Q2/Q9/Q11/Q20)
# ---------------------------------------------------------------------------


def derived_partsupp(lineitem: DataFrame) -> DataFrame:
    """The fixture has no ``partsupp`` table (TESTDATA.md), which kept the
    TPC-H deck at 18/22 through round 8 (COVERAGE.md). This derives one:
    rows are the DISTINCT ``(l_partkey, l_suppkey)`` pairs actually traded
    in ``lineitem`` — so every Q9/Q20 join over both keys has referential
    integrity by construction — and ``ps_availqty`` /
    ``ps_supplycost_x100`` are pure integer hash formulas of the two keys,
    so both engines recompute identical values with no float in sight
    (availqty 1..100, supplycost 1.00..1000.00 dollars in cents).

    Scale: one distinct over two int columns of the fact — partial
    (map-side) aggregation, shuffle carries only the two keys; the
    derived columns are per-row expressions after the distinct. ~26
    suppliers/part at sf0.01. The DuckDB twin is ``_PARTSUPP_SQL`` in
    registry.py — keep the constants (17/29/100, 131/373/99901) in sync."""
    pairs = lineitem.select(
        F.col("l_partkey").alias("ps_partkey"),
        F.col("l_suppkey").alias("ps_suppkey"),
    ).distinct()
    return pairs.select(
        "ps_partkey",
        "ps_suppkey",
        (
            F.lit(1)
            + (F.col("ps_partkey") * 17 + F.col("ps_suppkey") * 29) % 100
        ).alias("ps_availqty"),
        (
            F.lit(100)
            + (F.col("ps_partkey") * 131 + F.col("ps_suppkey") * 373) % 99901
        ).alias("ps_supplycost_x100"),
    )


def min_cost_supplier(
    part: DataFrame,
    lineitem: DataFrame,
    supplier: DataFrame,
    nation: DataFrame,
    region: DataFrame,
    region_name: str = "EUROPE",
    name_like: str = "%bolt",
    max_size: int = 25,
) -> DataFrame:
    """TPC-H Q2 shape: for each qualifying part, the cheapest supplier(s)
    within one region — the correlated scalar MIN over a 4-dimension join
    chain, decorrelated to a per-part MIN aggregate joined back on
    (partkey, cost = min).

    Plan: supplier/nation/region broadcast under the region filter; the
    region-scoped partsupp view is MATERIALIZED because it feeds both the
    MIN aggregate and the join-back (Spark inlines SQL CTEs — the Q22
    lesson, ADVICE r07); part's LIKE + size filters prune before its
    join. All ties at the minimum are returned (no LIMIT), so the result
    set is deterministic without a tie-break."""

    spark = part.sparkSession
    ps = derived_partsupp(lineitem)
    scoped = spark.sql(
        """
        SELECT ps_partkey, ps_suppkey, ps_supplycost_x100, s_name,
               n_name,
               CAST(ROUND(s_acctbal * 100) AS BIGINT) AS s_acctbal_x100
        FROM {ps}
        JOIN {supplier} ON s_suppkey = ps_suppkey
        JOIN {nation} ON n_nationkey = s_nationkey
        JOIN {region} ON r_regionkey = n_regionkey
        WHERE r_name = :region_name
        """,
        args={"region_name": str(region_name)},
        ps=ps,
        supplier=supplier,
        nation=nation,
        region=region,
    ).localCheckpoint()
    return spark.sql(
        """
        WITH mn AS (SELECT ps_partkey, MIN(ps_supplycost_x100) AS min_cost
                    FROM {scoped} GROUP BY ps_partkey)
        SELECT p.p_partkey, e.ps_suppkey AS s_suppkey, e.s_name, e.n_name,
               e.s_acctbal_x100, e.ps_supplycost_x100
        FROM {part} p
        JOIN {scoped} e ON e.ps_partkey = p.p_partkey
        JOIN mn ON mn.ps_partkey = p.p_partkey
               AND e.ps_supplycost_x100 = mn.min_cost
        WHERE p.p_name LIKE :name_like AND p.p_size <= :max_size
        """,
        args={"name_like": str(name_like), "max_size": int(max_size)},
        part=part,
        scoped=scoped,
    )


def nation_profit(
    lineitem: DataFrame,
    orders: DataFrame,
    part: DataFrame,
    supplier: DataFrame,
    nation: DataFrame,
    name_like: str = "%gear%",
) -> DataFrame:
    """TPC-H Q9 shape: profit (revenue minus supply cost) per nation per
    order year for parts matching a LIKE filter — the 6-table rollup.

    Plan: part (LIKE-filtered) and supplier/nation broadcast; lineitem
    joins partsupp on BOTH keys (partkey, suppkey) and orders on
    orderkey — the two genuine fact shuffles. Profit is integer-exact:
    revenue in x10000 minus cost-cents × quantity-cents (x100·x100 =
    x10000), accumulated in decimal(38,0) against int64 overflow at the
    100 TB group sizes (the sum_money rationale)."""
    spark = lineitem.sparkSession
    ps = derived_partsupp(lineitem)
    return spark.sql(
        """
        SELECT n_name AS nation,
               CAST(YEAR(o_orderdate) AS BIGINT) AS o_year,
               CAST(SUM(CAST(
                   CAST(ROUND(l_extendedprice * (1 - l_discount) * 10000)
                        AS BIGINT)
                   - ps_supplycost_x100 * CAST(ROUND(l_quantity * 100)
                                               AS BIGINT)
                   AS DECIMAL(38,0))) AS BIGINT) AS profit_x10000
        FROM {lineitem} li
        JOIN {part} p ON p.p_partkey = li.l_partkey
        JOIN {ps} ON ps_partkey = li.l_partkey AND ps_suppkey = li.l_suppkey
        JOIN {supplier} s ON s.s_suppkey = li.l_suppkey
        JOIN {nation} n ON n.n_nationkey = s.s_nationkey
        JOIN {orders} o ON o.o_orderkey = li.l_orderkey
        WHERE p.p_name LIKE :name_like
        GROUP BY n_name, YEAR(o_orderdate)
        """,
        args={"name_like": str(name_like)},
        lineitem=lineitem,
        part=part,
        ps=ps,
        supplier=supplier,
        nation=nation,
        orders=orders,
    )


def important_stock(
    lineitem: DataFrame,
    supplier: DataFrame,
    nation: DataFrame,
    nation_a: str = "NATION_3",
    nation_b: str = "NATION_7",
    multiple: int = 2,
) -> DataFrame:
    """TPC-H Q11 shape: per-part inventory value within a nation scope,
    kept only where it exceeds a GLOBAL scalar threshold — the group-by
    HAVING against scalar subqueries over the same scoped view.

    Canonical Q11's fixed FRACTION is scale-dependent (it emptied at
    sf0.1 in probing: more parts → smaller per-part share), so the
    threshold here is ``value > multiple × mean part value`` — the same
    HAVING-vs-global-scalar plan with COUNT and SUM scalars, but
    non-vacuous at every SF by construction (the Q22 de-vacuation
    lesson). The scoped view is MATERIALIZED: it feeds the aggregate and
    both scalars (Spark inlines CTEs). Values accumulate in
    decimal(38,0) (sum_money rationale)."""

    spark = lineitem.sparkSession
    ps = derived_partsupp(lineitem)
    scoped = spark.sql(
        """
        SELECT ps_partkey, ps_supplycost_x100 * ps_availqty AS v
        FROM {ps}
        JOIN {supplier} ON s_suppkey = ps_suppkey
        JOIN {nation} ON n_nationkey = s_nationkey
        WHERE n_name IN (:nation_a, :nation_b)
        """,
        args={"nation_a": str(nation_a), "nation_b": str(nation_b)},
        ps=ps,
        supplier=supplier,
        nation=nation,
    ).localCheckpoint()
    return spark.sql(
        """
        SELECT ps_partkey,
               CAST(SUM(CAST(v AS DECIMAL(38,0))) AS BIGINT) AS value_x100
        FROM {scoped}
        GROUP BY ps_partkey
        HAVING SUM(CAST(v AS DECIMAL(38,0)))
                   * (SELECT COUNT(DISTINCT ps_partkey) FROM {scoped})
               > :multiple * (SELECT SUM(CAST(v AS DECIMAL(38,0)))
                              FROM {scoped})
        """,
        args={"multiple": int(multiple)},
        scoped=scoped,
    )


def excess_stock_suppliers(
    lineitem: DataFrame,
    part: DataFrame,
    supplier: DataFrame,
    nation: DataFrame,
    name_like: str = "small%",
    date_lo: str = "1997-01-01",
    date_hi: str = "1998-01-01",
    nations: tuple[str, ...] = (
        "NATION_1",
        "NATION_2",
        "NATION_3",
        "NATION_4",
        "NATION_5",
    ),
) -> DataFrame:
    """TPC-H Q20 shape: suppliers holding excess stock — availqty above
    half the year's shipped quantity — of any LIKE-matching part, within
    a nation set. The nested semi-join over an aggregate threshold:
    supplier IN (partsupp semi part, joined to a grouped lineitem
    aggregate, filtered on the threshold).

    Plan: the shipped-quantity aggregate is date-pruned at the lineitem
    scan and map-combined on (partkey, suppkey); the part LIKE filter
    enters as a left-semi broadcast; both IN subqueries plan as left-semi
    hash joins (pinned in tests/test_plans.py — no
    BroadcastNestedLoopJoin). The excess comparison is integer-exact:
    availqty × 2 × 100 > Σ qty_x100 ⟺ availqty > 0.5 × Σ qty."""
    spark = lineitem.sparkSession
    ps = derived_partsupp(lineitem)
    na, nb, nc, nd, ne = nations
    return spark.sql(
        """
        WITH shipped AS (
            SELECT l_partkey, l_suppkey,
                   SUM(CAST(CAST(ROUND(l_quantity * 100) AS BIGINT)
                            AS DECIMAL(38,0))) AS qty_x100
            FROM {lineitem}
            WHERE l_shipdate >= CAST(:date_lo AS TIMESTAMP)
              AND l_shipdate < CAST(:date_hi AS TIMESTAMP)
            GROUP BY l_partkey, l_suppkey),
        excess AS (
            SELECT ps_suppkey
            FROM {ps}
            JOIN shipped ON l_partkey = ps_partkey AND l_suppkey = ps_suppkey
            WHERE ps_partkey IN (SELECT p_partkey FROM {part}
                                 WHERE p_name LIKE :name_like)
              AND ps_availqty * 200 > qty_x100)
        SELECT s_suppkey, s_name
        FROM {supplier}
        JOIN {nation} ON n_nationkey = s_nationkey
        WHERE n_name IN (:na, :nb, :nc, :nd, :ne)
          AND s_suppkey IN (SELECT ps_suppkey FROM excess)
        """,
        args={
            "date_lo": str(date_lo),
            "date_hi": str(date_hi),
            "name_like": str(name_like),
            "na": str(na),
            "nb": str(nb),
            "nc": str(nc),
            "nd": str(nd),
            "ne": str(ne),
        },
        lineitem=lineitem,
        ps=ps,
        part=part,
        supplier=supplier,
        nation=nation,
    )

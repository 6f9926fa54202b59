"""Relational/analytical query surface over the TPC-H-ish tables.

This is SURVEY.md §2.4 (the reference's query surface: anti-join Q4,
COUNT(*) Q5, LIMIT Q6, catalog ops Q7) widened to the general OLAP surface
a real engine needs (joins, aggregations, windows, rollup, set ops) —
Milestone 4 of SURVEY.md §7.

Determinism rules (driver hashes values with columns sorted by name):
- every computed column is aliased identically in Spark and oracle SQL;
- double aggregates are rounded (sum of ~1e5 doubles agrees to ~1e-9
  relative between engines; rounding at 1e-2 makes the hash stable);
- any LIMIT/top-k is fully ordered with a unique tiebreaker.

Scale notes: filters sit directly on parquet scans (predicate pushdown +
column pruning — verified via .explain in tests/bench); small dims
(region/nation/supplier) broadcast; big joins (orders⋈lineitem) shuffle on
the join key once, and AQE handles skew/coalescing.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from cdc_streaming_pipeline_spark.functions.precision import davg, dsum, sql_davg, sql_dsum
from cdc_streaming_pipeline_spark.sources.tables import fixture, load_table


def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-style pricing summary: scan + groupBy + 8 aggregates.

    Flagship query: exercises pushdown filter, partial (map-side)
    aggregation, and whole-stage codegen end-to-end.
    """
    li = load_table(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            dsum(F.col("l_quantity")).alias("sum_qty"),
            dsum(F.col("l_extendedprice")).alias("sum_base_price"),
            dsum(disc_price).alias("sum_disc_price"),
            dsum(charge).alias("sum_charge"),
            davg(F.col("l_quantity")).alias("avg_qty"),
            davg(F.col("l_extendedprice")).alias("avg_price"),
            davg(F.col("l_discount")).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-way join + group-by revenue (TPC-H Q3 shape, no LIMIT so the
    result set is order-insensitive)."""
    cust = load_table(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    orders = load_table(spark, sf_dir, "orders").filter(F.col("o_orderdate") < F.lit("1998-01-01"))
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") > F.lit("1998-01-01"))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy("o_orderkey", "o_orderdate", "o_orderpriority")
        .agg(dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"))
    )


def q5_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """6-table star join, grouped by nation (TPC-H Q5 shape).

    customer and supplier must be co-national. Only the fixed-size dims
    (nation: 25 rows, region: 5) carry broadcast hints; customer and
    supplier scale with sf, so their join strategy is left to AQE —
    broadcast at small scale, shuffle at 100 TB.
    """
    region = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    nation = load_table(spark, sf_dir, "nation")
    cust = load_table(spark, sf_dir, "customer")
    supp = load_table(spark, sf_dir, "supplier")
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .join(cust, (orders.o_custkey == cust.c_custkey) & (cust.c_nationkey == supp.s_nationkey))
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("n_name")
        .agg(dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"))
    )


def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pure scan + pushdown filters + single aggregate (TPC-H Q6 shape)."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01"))
            & (F.col("l_shipdate") < F.lit("1997-01-01"))
            & (F.col("l_discount").between(0.03, 0.07))
            & (F.col("l_quantity") < 25)
        ).agg(dsum(F.col("l_extendedprice") * F.col("l_discount")).alias("revenue"))
    )


def orders_without_lineitems(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anti-join: orders with no lineitems — the reference's one real join
    (orders with no order_items, reference:
    test-generator/generate_test_data.py:247-251, SURVEY.md Q4)."""
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    return orders.join(li, orders.o_orderkey == li.l_orderkey, "left_anti").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )


def parts_with_lineitems(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-join (EXISTS) surface."""
    part = load_table(spark, sf_dir, "part")
    li = load_table(spark, sf_dir, "lineitem")
    return part.join(li, part.p_partkey == li.l_partkey, "left_semi").select("p_partkey", "p_name")


def top_orders_per_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window function: top-3 orders by value per market segment
    (row_number with unique tiebreaker → deterministic)."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("c_mktsegment").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey").asc()
    )
    return (
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .withColumn("rank_in_segment", F.row_number().over(w))
        .filter(F.col("rank_in_segment") <= 3)
        .select("c_mktsegment", "rank_in_segment", "o_orderkey", "o_totalprice")
    )


def customer_running_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window function: running revenue per customer over order date.

    Prefix sums are evaluated in the same deterministic order in both
    engines (unique (o_orderdate, o_orderkey) ordering), so doubles match
    bit-for-bit before rounding.
    """
    orders = load_table(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy(F.col("o_orderdate").asc(), F.col("o_orderkey").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return orders.select(
        "o_custkey",
        "o_orderkey",
        F.round(F.sum("o_totalprice").over(w), 2).alias("running_total"),
    )


def rollup_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUP BY ROLLUP — multi-level aggregate in one pass."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.rollup("l_returnflag", "l_linestatus").agg(
        F.count("*").alias("n_items"),
        dsum(F.col("l_quantity")).alias("sum_qty"),
    )


def cube_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUP BY CUBE over status × priority."""
    orders = load_table(spark, sf_dir, "orders")
    return orders.cube("o_orderstatus", "o_orderpriority").agg(
        F.count("*").alias("n_orders"),
        dsum(F.col("o_totalprice")).alias("sum_price"),
    )


def wide_entity_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide-schema union (T7 semantics): customer ∪ supplier into one frame
    with NULLs for absent columns — the per-entity→wide-events widening of
    the reference's Hive table (cdc_pipeline_dag.py:360-383)."""
    cust = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("entity_key"),
        F.col("c_name").alias("entity_name"),
        F.col("c_acctbal").alias("acctbal"),
        F.col("c_mktsegment").alias("mktsegment"),
        F.lit("customer").alias("entity_kind"),
    )
    supp = load_table(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").alias("entity_key"),
        F.col("s_name").alias("entity_name"),
        F.col("s_acctbal").alias("acctbal"),
        F.lit("supplier").alias("entity_kind"),
    )
    return cust.unionByName(supp, allowMissingColumns=True)


def nations_customers_only(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set operation: nation keys present among customers but absent among
    suppliers (EXCEPT/anti semantics over distinct keys)."""
    cust = load_table(spark, sf_dir, "customer").select(
        F.col("c_nationkey").alias("nationkey")
    ).distinct()
    supp = load_table(spark, sf_dir, "supplier").select(
        F.col("s_nationkey").alias("nationkey")
    ).distinct()
    return cust.exceptAll(supp)


def order_priority_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Orders joined (semi) to lineitems with a commit-window filter, counted
    per priority (TPC-H Q4 shape)."""
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01")) & (F.col("o_orderdate") < F.lit("1997-01-01"))
    )
    li = load_table(spark, sf_dir, "lineitem")
    return (
        orders.join(li, orders.o_orderkey == li.l_orderkey, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("order_count"))
    )


def q7_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape generalized: cross-nation trade volume per
    (supplier nation, customer nation, ship year) for ALL distinct nation
    pairs. Two broadcast nation joins ride on the one big
    lineitem⋈orders shuffle."""
    nation = load_table(spark, sf_dir, "nation")
    supp = load_table(spark, sf_dir, "supplier")
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    n1 = F.broadcast(nation.select(F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation")))
    n2 = F.broadcast(nation.select(F.col("n_nationkey").alias("cn_key"), F.col("n_name").alias("cust_nation")))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(n1, F.col("s_nationkey") == F.col("sn_key"))
        .join(n2, F.col("c_nationkey") == F.col("cn_key"))
        .filter(F.col("supp_nation") != F.col("cust_nation"))
        .groupBy("supp_nation", "cust_nation", F.year("l_shipdate").alias("l_year"))
        .agg(dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"))
    )


def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape: revenue lost to returns per customer in a quarter
    (no LIMIT — the full group set is order-insensitive)."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01")) & (F.col("o_orderdate") < F.lit("1996-07-01"))
    )
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy("c_custkey", "c_name", "c_acctbal", "c_mktsegment")
        .agg(dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"))
    )


def q14_type_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape (conditional-aggregate ratio): ECONOMY parts' share
    of one year's revenue. Both sums round in exact decimal before the
    division, so the ratio is bit-identical across engines."""
    part = load_table(spark, sf_dir, "part")
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01")) & (F.col("l_shipdate") < F.lit("1998-01-01"))
    )
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    joined = li.join(part, li.l_partkey == part.p_partkey)
    agg = joined.agg(
        dsum(F.when(F.col("p_type") == "ECONOMY", rev).otherwise(F.lit(0.0))).alias("economy_rev"),
        dsum(rev).alias("total_rev"),
    )
    return agg.select(
        "economy_rev",
        "total_rev",
        F.round(F.lit(100.0) * F.col("economy_rev") / F.col("total_rev"), 4).alias("economy_share_pct"),
    )


def q17_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape (correlated agg → join): yearly revenue forfeited if
    small orders (< 20% of the part's average quantity) for one brand were
    dropped. The per-part average is its own aggregate joined back;
    it is ≤ |part| rows (sf-scaling), so the join strategy is AQE's
    call — no manual hint."""
    part = load_table(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#1")
    li = load_table(spark, sf_dir, "lineitem")
    branded = li.join(part, li.l_partkey == part.p_partkey)
    avg_qty = branded.groupBy(F.col("p_partkey").alias("ap_key")).agg(
        davg(F.col("l_quantity")).alias("avg_qty")
    )
    return (
        branded.join(avg_qty, F.col("p_partkey") == F.col("ap_key"))
        .filter(F.col("l_quantity") < 0.2 * F.col("avg_qty"))
        .agg(F.round(F.sum(F.col("l_extendedprice").cast("decimal(28,6)")) / 7.0, 2)
             .cast("double").alias("avg_yearly"))
    )


def q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape (group-by-HAVING on a big aggregate, then enrich):
    orders whose total quantity exceeds 120, with customer context."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(dsum(F.col("l_quantity"), 2).alias("total_qty"))
        .filter(F.col("total_qty") > 120)
    )
    return (
        big.join(orders, big.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .select("c_custkey", "c_name", "o_orderkey", "o_orderdate", "o_totalprice", "total_qty")
    )


def q19_or_predicate_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape: disjunction of conjunctive brand/size/quantity
    ranges — exercises OR pushdown through a broadcast join."""
    part = load_table(spark, sf_dir, "part")
    li = load_table(spark, sf_dir, "lineitem")
    j = li.join(part, li.l_partkey == part.p_partkey)
    cond = (
        ((F.col("p_brand") == "Brand#1") & (F.col("p_size").between(1, 15)) & (F.col("l_quantity").between(1, 11)))
        | ((F.col("p_brand") == "Brand#2") & (F.col("p_size").between(1, 25)) & (F.col("l_quantity").between(10, 20)))
        | ((F.col("p_brand") == "Brand#3") & (F.col("p_size").between(1, 35)) & (F.col("l_quantity").between(20, 30)))
    )
    return j.filter(cond).agg(
        dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"),
        F.count("*").alias("n_items"),
    )


def q22_idle_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape: positive-balance customers above the global average
    balance with no RECENT orders (none since 2000) — scalar-subquery
    aggregate (broadcast single row) + anti-join, grouped by segment."""
    cust = load_table(spark, sf_dir, "customer")
    recent = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= F.lit("2000-01-01")
    )
    avg_bal = cust.filter(F.col("c_acctbal") > 0).agg(
        davg(F.col("c_acctbal")).alias("avg_bal")
    )
    return (
        cust.crossJoin(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("avg_bal"))
        .join(recent, cust.c_custkey == recent.o_custkey, "left_anti")
        .groupBy("c_mktsegment")
        .agg(F.count("*").alias("n_custs"), dsum(F.col("c_acctbal")).alias("total_bal"))
    )


def customer_order_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LAG window surface: average days between consecutive orders per
    customer (customers with ≥2 orders)."""
    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(F.col("o_orderdate").asc(), F.col("o_orderkey").asc())
    gaps = orders.withColumn(
        "gap_days", F.datediff(F.col("o_orderdate"), F.lag("o_orderdate").over(w))
    ).filter(F.col("gap_days").isNotNull())
    return gaps.groupBy("o_custkey").agg(
        F.count("*").alias("n_gaps"),
        F.round(F.avg("gap_days"), 4).alias("avg_gap_days"),
        F.max("gap_days").alias("max_gap_days"),
    )


def grouping_sets_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS (beyond rollup/cube): per-returnflag and
    per-linestatus totals in one pass, never the cross product."""
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem")
    return spark.sql(
        f"""
        SELECT l_returnflag, l_linestatus,
               COUNT(*) AS n_items,
               {sql_dsum('l_quantity')} AS sum_qty
        FROM lineitem
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus))
        """
    )


def order_status_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PIVOT surface: order counts by priority × status as columns
    (explicit value list keeps the schema static)."""
    orders = load_table(spark, sf_dir, "orders")
    statuses = ["F", "O", "P"]
    return (
        orders.groupBy("o_orderpriority")
        .pivot("o_orderstatus", statuses)
        .agg(F.count(F.lit(1)))
        .select(
            "o_orderpriority",
            *[F.coalesce(F.col(s), F.lit(0)).alias(f"n_{s}") for s in statuses],
        )
    )


def sql_text_revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The pure-SQL entry path: the engine's surface is equally available
    as SQL text over registered views — same Catalyst plan as the
    DataFrame twin (q5), different front door."""
    from cdc_streaming_pipeline_spark.sources.tables import register_views

    register_views(spark, sf_dir)
    return spark.sql(
        f"""
        SELECT n_name, COUNT(*) AS n_lineitems,
               {sql_dsum('l_extendedprice * (1 - l_discount)')} AS revenue
        FROM lineitem
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation ON s_nationkey = n_nationkey
        GROUP BY n_name
        """
    )


def q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape (correlated scalar-min subquery): for each STANDARD
    part, the supplier(s) whose average sale price equals the per-part
    minimum across suppliers. No partsupp table in this schema, so the
    supplier-part price list is derived from lineitem; the plan shape —
    aggregate, per-group min, equality join back — is the same. The min is
    computed with a window over the aggregated (part, supplier) frame, so
    the corpus is scanned once and the correlation never re-executes.

    The offer metric is the min unit price in 1e-4 units as a BIGINT:
    integer rounding of a double is cross-engine-exact (X.5 is dyadic, so
    both engines see the same boundary), whereas rounding at 4 decimals
    is not — an avg-based float metric here hash-mismatched the oracle on
    a .xxxx5 case."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").filter(
        (F.col("p_type") == "STANDARD") & (F.col("p_size") <= 25)
    )
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    unit_e4 = F.round((F.col("l_extendedprice") * 10000.0) / F.col("l_quantity")).cast("long")
    offer = li.groupBy("l_partkey", "l_suppkey").agg(
        F.min(unit_e4).alias("unit_price_e4")
    )
    best = offer.withColumn(
        "min_price_e4", F.min("unit_price_e4").over(Window.partitionBy("l_partkey"))
    ).filter(F.col("unit_price_e4") == F.col("min_price_e4"))
    return (
        best.join(part, best.l_partkey == part.p_partkey)
        .join(supp, best.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .select("p_partkey", "p_brand", "s_name", "n_name", "unit_price_e4")
    )


def q4_late_shipment_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape (EXISTS → left-semi join with a non-equi residual):
    1996 orders having at least one lineitem shipped more than 90 days
    after the order date, counted by priority. Catalyst turns the EXISTS
    into one semi-join shuffled on the order key; the date residual is
    evaluated inside the join, never materializing the match list."""
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01"))
        & (F.col("o_orderdate") < F.lit("1997-01-01"))
    )
    li = load_table(spark, sf_dir, "lineitem")
    late = orders.join(
        li,
        (orders.o_orderkey == li.l_orderkey)
        & (li.l_shipdate > F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS")),
        "left_semi",
    )
    return late.groupBy("o_orderpriority").agg(F.count("*").alias("order_count"))


def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape (two-level conditional aggregate over a 5-way join):
    NATION_3 suppliers' share of EUROPE-customer revenue per order year.
    Fixed-size dims (nation, region) broadcast by hint; the sf-scaling
    supplier map is left to AQE. lineitem⋈orders is the only
    guaranteed big shuffle."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    euro_custs = (
        cust.join(
            F.broadcast(
                nation.join(
                    F.broadcast(region.filter(F.col("r_name") == "EUROPE")),
                    nation.n_regionkey == region.r_regionkey,
                )
            ),
            cust.c_nationkey == F.col("n_nationkey"),
        ).select("c_custkey")
    )
    supp_nation = supp.join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey).select(
        F.col("s_suppkey").alias("sn_suppkey"), F.col("n_name").alias("supp_nation")
    )
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(euro_custs, orders.o_custkey == euro_custs.c_custkey, "left_semi")
        .join(supp_nation, li.l_suppkey == F.col("sn_suppkey"))
        .groupBy(F.year("o_orderdate").alias("o_year"))
        .agg(
            F.round(
                F.sum(F.when(F.col("supp_nation") == "NATION_3", rev).otherwise(F.lit(0.0)).cast("decimal(28,6)"))
                / F.sum(rev.cast("decimal(28,6)")),
                6,
            )
            .cast("double")
            .alias("mkt_share")
        )
    )


def q9_profit_by_nation_year(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape (profit rollup by supplier nation × year): no
    partsupp/ps_supplycost in this schema, so cost is modeled as
    0.8 × p_retailprice × quantity — the join tree (part filter pushed to
    the scan, supplier→nation broadcast, lineitem⋈orders shuffle) and the
    derived-expression aggregate are Q9's."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    part = load_table(spark, sf_dir, "part").filter(F.col("p_name").contains("g"))
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    profit = F.col("l_extendedprice") * (1 - F.col("l_discount")) - 0.8 * F.col(
        "p_retailprice"
    ) * F.col("l_quantity")
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .groupBy(F.col("n_name").alias("nation"), F.year("o_orderdate").alias("o_year"))
        .agg(dsum(profit).alias("sum_profit"))
    )


def q13_order_count_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape (outer-join count distribution, zeros included):
    how many customers placed exactly N non-urgent orders, for every N
    including 0 — the left outer join keeps orderless customers, and
    count(o_orderkey) (not count(*)) makes them bucket 0."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") != "1-URGENT"
    )
    per_cust = (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left_outer")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count("*").alias("custdist"))


def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape (aggregate view + scalar-max equality join): supplier
    revenue over one quarter, returning the top supplier(s) by equality
    with the global max — the max is a 1-row broadcast, not a sort."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01"))
        & (F.col("l_shipdate") < F.lit("1997-04-01"))
    )
    supp = load_table(spark, sf_dir, "supplier")
    revenue = li.groupBy("l_suppkey").agg(
        dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("total_revenue")
    )
    top = revenue.agg(F.max("total_revenue").alias("max_revenue"))
    return (
        revenue.crossJoin(F.broadcast(top))
        .filter(F.col("total_revenue") == F.col("max_revenue"))
        .join(supp, revenue.l_suppkey == supp.s_suppkey)
        .select("s_suppkey", "s_name", "total_revenue")
    )


def q16_supplier_count_by_part(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape (NOT IN exclusion + COUNT DISTINCT per group):
    distinct suppliers per (brand, size) for non-PROMO mid-size parts,
    excluding negative-balance suppliers (the 'complaints' analog) via an
    anti-join before the distinct aggregate."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").filter(
        (F.col("p_type") != "PROMO") & (F.col("p_size").isin(5, 10, 15, 20, 25, 30))
    )
    bad_supp = load_table(spark, sf_dir, "supplier").filter(F.col("s_acctbal") < 0)
    return (
        li.join(bad_supp, li.l_suppkey == bad_supp.s_suppkey, "left_anti")
        .join(part, li.l_partkey == part.p_partkey)
        .groupBy("p_brand", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )


def q21_sole_late_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape (EXISTS + NOT EXISTS over sibling lineitems):
    suppliers who were the ONLY late shipper (>60 days after order date)
    on a finished multi-supplier order. Both correlated subqueries
    collapse into one window pass over lineitem keyed by order — per-order
    distinct-supplier and distinct-late-supplier counts — so the corpus is
    shuffled once on l_orderkey instead of twice more for the EXISTS pair."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    supp = load_table(spark, sf_dir, "supplier")
    flagged = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .withColumn(
            "is_late",
            (F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")).cast("int"),
        )
    )
    w = Window.partitionBy("l_orderkey")
    per_order = (
        flagged.withColumn("n_supp", F.size(F.collect_set("l_suppkey").over(w)))
        .withColumn(
            "n_late_supp",
            F.size(
                F.collect_set(F.when(F.col("is_late") == 1, F.col("l_suppkey"))).over(w)
            ),
        )
    )
    culprit = per_order.filter(
        (F.col("is_late") == 1) & (F.col("n_supp") > 1) & (F.col("n_late_supp") == 1)
    ).select("l_orderkey", "l_suppkey").dropDuplicates()
    return (
        culprit.join(supp, culprit.l_suppkey == supp.s_suppkey)
        .groupBy("s_name")
        .agg(F.count("*").alias("numwait"))
    )


def q11_important_part_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape (group HAVING against a global-scalar share): parts
    whose revenue from NATION_1 suppliers exceeds 0.1% of that nation's
    total — the per-group aggregate and the global total come from ONE
    aggregation pass (the total is a 1-row broadcast re-join, not a second
    scan of the grouped frame's source)."""
    li = load_table(spark, sf_dir, "lineitem")
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    n1_supp = supp.join(
        F.broadcast(nation.filter(F.col("n_name") == "NATION_1")),
        supp.s_nationkey == nation.n_nationkey,
    ).select("s_suppkey")
    value = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    per_part = (
        li.join(n1_supp, li.l_suppkey == F.col("s_suppkey"), "left_semi")
        .groupBy("l_partkey")
        .agg(dsum(value).alias("part_value"))
    )
    # No rounding on the threshold: it is filter-only, and the IEEE
    # double product of identical inputs is bit-identical across engines,
    # while ROUND(double, 6) is not (.xxxxxx5 boundaries).
    total = per_part.agg(
        (F.sum(F.col("part_value").cast("decimal(28,6)")).cast("double") * F.lit(0.001)).alias(
            "threshold"
        )
    )
    return (
        per_part.crossJoin(F.broadcast(total))
        .filter(F.col("part_value") > F.col("threshold"))
        .select("l_partkey", "part_value")
    )


def q12_late_shipment_priority_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape (conditional two-way counts per group): 1997
    lineitems shipped more than 60 days after their order date, grouped by
    return flag (the ship-mode analog in this schema), counting
    high-priority (1-URGENT/2-HIGH) vs lower-priority orders in one
    aggregate pass."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01"))
        & (F.col("l_shipdate") < F.lit("1998-01-01"))
    )
    orders = load_table(spark, sf_dir, "orders")
    late = li.join(orders, li.l_orderkey == orders.o_orderkey).filter(
        F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")
    )
    is_high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return late.groupBy("l_returnflag").agg(
        F.sum(is_high.cast("int")).alias("high_line_count"),
        F.sum((~is_high).cast("int")).alias("low_line_count"),
    )


def q20_excess_shippers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape (nested correlated-aggregate semi-join): suppliers
    who shipped more than 100 units of 'blue'-named parts during 1997,
    with nation context. The correlated per-(supplier) quantity subquery
    is one aggregate; the outer supplier list arrives via semi-join."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01"))
        & (F.col("l_shipdate") < F.lit("1998-01-01"))
    )
    part = load_table(spark, sf_dir, "part").filter(F.col("p_name").contains("blue"))
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    heavy = (
        li.join(part, li.l_partkey == part.p_partkey, "left_semi")
        .groupBy("l_suppkey")
        .agg(dsum(F.col("l_quantity"), 2).alias("blue_qty"))
        .filter(F.col("blue_qty") > 100)
    )
    return (
        supp.join(heavy, supp.s_suppkey == heavy.l_suppkey, "left_semi")
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .select("s_suppkey", "s_name", "n_name")
    )


def daily_revenue_7d_ma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE-frame window surface: daily gross order revenue with a
    trailing 7-day moving average — the frame is a RANGE over epoch days
    (not ROWS), so calendar gaps shorten the window exactly as a
    time-series engine would. The global (unpartitioned) window is safe at
    any data scale because it runs over the DAY-level aggregate, whose
    cardinality is bounded by the calendar, not the corpus."""
    orders = load_table(spark, sf_dir, "orders")
    daily = orders.groupBy(F.to_date("o_orderdate").alias("d")).agg(
        dsum(F.col("o_totalprice")).alias("day_revenue")
    )
    epoch_day = F.datediff(F.col("d"), F.lit("1970-01-01"))
    w = Window.orderBy(epoch_day).rangeBetween(-6, 0)
    # sum(decimal)/count, not avg(decimal): Spark's decimal avg divides in
    # decimal, DuckDB's returns double — the davg trick, windowed.
    return daily.select(
        "d",
        "day_revenue",
        F.round(
            F.sum(F.col("day_revenue").cast("decimal(28,6)")).over(w).cast("double")
            / F.count("*").over(w),
            4,
        ).alias("ma7"),
    )


def customer_value_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NTILE bucketing surface: customers ranked into spend deciles, then
    per-decile totals — the 'who are my top-10% customers' rollup. The
    NTILE order carries a unique key tiebreak so bucket boundaries are
    deterministic cross-engine.

    Scale path (operators/rank.py): percentile-sketch range buckets +
    per-bucket windows + broadcast offsets give the EXACT global rank
    with no unpartitioned window — max task is rows/n_buckets, so the
    plan survives 10^9+ customers where a global NTILE sort serializes.
    The decile is then (rank-1)*10 div n + 1, bit-identical to NTILE
    (larger buckets first), so the DuckDB ntile oracle is unchanged."""
    from cdc_streaming_pipeline_spark.operators.rank import (
        exact_ntile,
        with_global_rank,
    )

    orders = load_table(spark, sf_dir, "orders")
    spend = orders.groupBy("o_custkey").agg(dsum(F.col("o_totalprice")).alias("spend"))
    ranked = with_global_rank(
        spend, key="spend", tiebreak="o_custkey", ascending=False
    )
    return (
        ranked.withColumn("decile", exact_ntile("_g_rank", "_g_n", 10))
        .groupBy("decile")
        .agg(
            F.count("*").alias("n_customers"),
            dsum(F.col("spend"), 2).alias("total_spend"),
        )
    )


def validate_referential_integrity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Warehouse-wide foreign-key audit: orphaned child keys across every
    FK edge of the schema, one anti-join per edge unioned into a single
    job (operators/validate.py:fk_orphan_report). Parent key sets are
    distinct-projected first; the join strategy is left to Catalyst/AQE —
    dimension parents (nation, region) broadcast automatically, while
    fact-sized parents (orders at 100 TB is billions of distinct keys,
    past any broadcast limit) fall back to a shuffled join instead of
    failing."""
    from cdc_streaming_pipeline_spark.operators.validate import fk_orphan_report

    t = {n: load_table(spark, sf_dir, n) for n in
         ("region", "nation", "customer", "supplier", "orders", "lineitem", "part")}
    return fk_orphan_report([
        ("orders_custkey", t["orders"], "o_custkey", t["customer"], "c_custkey"),
        ("lineitem_orderkey", t["lineitem"], "l_orderkey", t["orders"], "o_orderkey"),
        ("lineitem_partkey", t["lineitem"], "l_partkey", t["part"], "p_partkey"),
        ("lineitem_suppkey", t["lineitem"], "l_suppkey", t["supplier"], "s_suppkey"),
        ("customer_nationkey", t["customer"], "c_nationkey", t["nation"], "n_nationkey"),
        ("supplier_nationkey", t["supplier"], "s_nationkey", t["nation"], "n_nationkey"),
        ("nation_regionkey", t["nation"], "n_regionkey", t["region"], "r_regionkey"),
    ])


def lineitem_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pre-shuffle skew diagnostic over lineitem's join key
    (operators/diagnostics.py:key_skew_report): top-10 heaviest order
    keys with share + skew factor — the report that decides plain join
    vs AQE skew-split vs salting. Distributed top-N, no global sort."""
    from cdc_streaming_pipeline_spark.operators.diagnostics import key_skew_report

    li = load_table(spark, sf_dir, "lineitem")
    return key_skew_report(li, "l_orderkey", top_n=10)


def join_cardinality_orders_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact orders⋈lineitem output size from the two key histograms
    without materializing the join
    (operators/diagnostics.py:join_cardinality) — the runnability check
    before paying for a 100 TB join."""
    from cdc_streaming_pipeline_spark.operators.diagnostics import join_cardinality

    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    return join_cardinality(orders, "o_orderkey", li, "l_orderkey")


def supplier_pareto_analysis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto concentration: rank suppliers by revenue and report, at
    each decile of the supplier population, the cumulative share of
    total revenue — the 80/20 readout that drives key-account and skew
    decisions. Rank AND running revenue come from the exact distributed
    rank/cumsum operator (operators/rank.py) — percentile range buckets,
    per-bucket windows, broadcast offsets — so no unpartitioned window
    touches the per-supplier frame; deciles via the NTILE-equivalent
    integer formula, exact-decimal sums, oracle unchanged."""
    from cdc_streaming_pipeline_spark.operators.rank import (
        exact_ntile,
        with_global_rank,
    )

    li = load_table(spark, sf_dir, "lineitem")
    rev = li.groupBy("l_suppkey").agg(
        F.sum((F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(28,6)")).alias("_r")
    )
    ranked = with_global_rank(
        rev, key="_r", tiebreak="l_suppkey", ascending=False, value_col="_r"
    )
    return (
        ranked.withColumn("decile", exact_ntile("_g_rank", "_g_n", 10))
        .groupBy("decile")
        .agg(
            F.count("*").alias("n_suppliers"),
            F.max("_g_cum").alias("_cum_max"),
            F.max("_g_total").alias("_t"),
        )
        .select(
            "decile",
            "n_suppliers",
            F.round((F.col("_cum_max") / F.col("_t")).cast("double"), 4).alias(
                "cum_revenue_share"
            ),
        )
    )


def corpus_zipf_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf-law fit as in-engine OLS: regress ln(freq) on ln(rank) over
    the word rank-frequency curve and report the slope (a healthy
    natural-language corpus sits near −1; flat word soup doesn't) plus
    R². The regression is pure aggregate composition — five sums — so
    the whole fit is one extra reduce over the frequency table; no
    driver math beyond the final expression. The rank over the word
    vocabulary (which SCALES with the corpus — 10^7+ distinct tokens at
    100 TB) comes from the exact distributed rank operator
    (operators/rank.py), not a single-task global window."""
    from cdc_streaming_pipeline_spark.operators.rank import with_global_rank

    docs = load_table(spark, sf_dir, "documents")
    from cdc_streaming_pipeline_spark.functions.textfn import normalize_ws, tokens

    words = docs.select(
        F.explode(tokens(normalize_ws(F.lower(F.col("text"))))).alias("w")
    )
    freq = words.groupBy("w").agg(F.count("*").alias("f"))
    ranked = with_global_rank(
        freq, key="f", tiebreak="w", ascending=False
    ).withColumnRenamed("_g_rank", "r")
    x, y = F.log(F.col("r").cast("double")), F.log(F.col("f").cast("double"))
    stats = ranked.agg(
        F.count("*").alias("n"),
        F.sum(x).alias("sx"),
        F.sum(y).alias("sy"),
        F.sum(x * x).alias("sxx"),
        F.sum(y * y).alias("syy"),
        F.sum(x * y).alias("sxy"),
    )
    n = F.col("n").cast("double")
    cov = F.col("sxy") - F.col("sx") * F.col("sy") / n
    varx = F.col("sxx") - F.col("sx") * F.col("sx") / n
    vary = F.col("syy") - F.col("sy") * F.col("sy") / n
    return stats.select(
        F.col("n").alias("n_terms"),
        F.round(cov / varx, 4).alias("zipf_slope"),
        F.round((cov * cov) / (varx * vary), 4).alias("r2"),
    )


def customer_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation — the classic customer-value partitioning: per
    customer, Recency (days from last order to the corpus's max date),
    Frequency (orders), Monetary (exact-decimal spend), each cut into
    quartiles with exact NTILE semantics (ties broken by custkey for
    determinism), and the rolled-up count per (r,f,m) segment cell.
    Each quartile comes from the exact distributed rank operator
    (operators/rank.py) — three rank passes, each a bounded-task
    per-bucket window instead of a single-task global NTILE sort, with
    the NTILE-equivalent integer bucket formula keeping the DuckDB
    ntile oracle hash-green unchanged."""
    from cdc_streaming_pipeline_spark.operators.rank import (
        RankSpec,
        exact_ntile,
        with_global_ranks,
    )

    orders = load_table(spark, sf_dir, "orders")
    ref = orders.agg(F.max("o_orderdate").alias("_ref"))
    per_cust = (
        orders.crossJoin(F.broadcast(ref))
        .groupBy("o_custkey")
        .agg(
            F.min(F.datediff(F.col("_ref"), F.col("o_orderdate"))).alias("recency_days"),
            F.count("*").alias("frequency"),
            dsum(F.col("o_totalprice")).alias("monetary"),
        )
    )
    # ONE multi-key call: the three rankings share a single cutoff
    # aggregate and a single bucketed frame, so every branch's subplan is
    # identical below per_cust's shuffle and Spark reuses that exchange —
    # separate per-key passes would prune columns differently, defeat
    # reuse, and recompute the orders lineage per key (measured 11x)
    scored = with_global_ranks(
        per_cust,
        [
            RankSpec("recency_days", ascending=True, rank_col="_rk_r"),
            RankSpec("frequency", ascending=False, rank_col="_rk_f"),
            RankSpec("monetary", ascending=False, rank_col="_rk_m"),
        ],
        tiebreak="o_custkey",
    )
    scored = (
        scored.withColumn("r_quartile", exact_ntile("_rk_r", "_g_n", 4))
        .withColumn("f_quartile", exact_ntile("_rk_f", "_g_n", 4))
        .withColumn("m_quartile", exact_ntile("_rk_m", "_g_n", 4))
    )
    return scored.groupBy("r_quartile", "f_quartile", "m_quartile").agg(
        F.count("*").alias("n_customers"),
        dsum(F.col("monetary")).alias("segment_revenue"),
    )


def monthly_revenue_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Month-over-month revenue growth: aggregate to the monthly series,
    then LAG over the aggregate — the windows-over-aggregates BI shape
    (a tiny frame after the rollup, so the unpartitioned window is one
    bounded task). Growth is NULL for the first month, rounded ratio
    otherwise."""
    orders = load_table(spark, sf_dir, "orders")
    monthly = orders.groupBy(
        F.date_trunc("month", F.col("o_orderdate")).alias("month")
    ).agg(dsum(F.col("o_totalprice")).alias("revenue"))
    w = Window.orderBy(F.col("month").asc())
    prev = F.lag("revenue").over(w)
    return monthly.select(
        "month",
        "revenue",
        F.round((F.col("revenue") - prev) / prev, 4).alias("mom_growth"),
    )


def shipping_latency_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-to-ship SLA report per priority: mean/max latency in days
    and the share of line items blowing a 30-day SLA — the operational
    latency rollup (exact-decimal mean keeps it order-insensitive). One
    join + one aggregate."""
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    days = F.datediff(F.col("l_shipdate"), F.col("o_orderdate"))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("o_orderpriority")
        .agg(
            F.count("*").alias("n_lineitems"),
            davg(days.cast("double"), 4).alias("avg_days"),
            F.max(days).alias("max_days"),
            F.round(
                F.sum((days > 30).cast("long")) / F.count("*"), 4
            ).alias("sla_breach_frac"),
        )
    )


def first_touch_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-touch attribution: for each user's FIRST event type
    (ts order, event_id tiebreak), how many users start there and what
    fraction go on to purchase — the entry-point conversion table behind
    acquisition analysis. One window shuffle on the user + a distinct
    purchase semi-join."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.col("ts").asc(), F.col("event_id").asc())
    first = (
        ev.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select("user_id", F.col("event_type").alias("first_type"))
    )
    buyers = (
        ev.filter(F.col("event_type") == "purchase").select("user_id").distinct()
        .withColumn("_bought", F.lit(1))
    )
    return (
        first.join(buyers, "user_id", "left")
        .groupBy("first_type")
        .agg(
            F.count("*").alias("n_users"),
            F.sum(F.coalesce(F.col("_bought"), F.lit(0))).alias("n_converted"),
            F.round(
                F.sum(F.coalesce(F.col("_bought"), F.lit(0))) / F.count("*"), 4
            ).alias("conversion_rate"),
        )
    )


def benford_deviation_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford first-digit audit over order totals — the forensic
    data-quality screen for fabricated/truncated monetary columns: the
    observed share of each leading digit vs Benford's log10(1+1/d)
    expectation, with each digit's chi-square contribution. One map
    expression + one 9-group aggregate; a synthetic uniform price column
    (like this fixture's) deviates hard and the query proves it."""
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 0)
    digit = F.substring(F.col("o_totalprice").cast("string"), 1, 1).cast("int")
    counts = (
        o.select(digit.alias("digit"))
        # guard: a sub-1 value would yield digit 0 (Benford share inf);
        # keep the audit defined for any input distribution
        .filter(F.col("digit").between(1, 9))
        .groupBy("digit")
        .agg(F.count("*").alias("n_orders"))
    )
    total = counts.agg(F.sum("n_orders").alias("n_total"))
    expected = F.log10(1.0 + 1.0 / F.col("digit"))
    observed = F.col("n_orders") / F.col("n_total")
    return (
        counts.crossJoin(F.broadcast(total))
        .select(
            "digit",
            "n_orders",
            F.round(observed, 4).alias("observed_share"),
            F.round(expected, 4).alias("benford_share"),
            F.round(
                F.pow(observed - expected, 2) / expected * F.col("n_total"), 2
            ).alias("chi2_contrib"),
        )
    )


def subject_access_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GDPR Article-15 subject access: for each requested subject, how
    many rows each table holds about them — customer profile, orders,
    and order lines (reached through the order join). The read-side twin
    of the erasure op: a real request batch is small and bounded, so AQE
    broadcasts the subject set automatically and cost tracks the
    subjects' data volume, never warehouse size. No explicit broadcast
    hint: the demo derives subjects from the customer table itself (so
    the frame scales with sf), and a hard hint on an sf-scaling side is
    exactly the 100 TB failure mode this repo avoids. One row per
    (subject, table) with the subject's data footprint."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    subjects = cust.filter(F.col("c_custkey") % 97 == 0).select(
        F.col("c_custkey").alias("subject_id")
    )
    c_rows = (
        cust.join(subjects, cust.c_custkey == subjects.subject_id)
        .groupBy("subject_id")
        .agg(F.count("*").alias("n_rows"))
        .select("subject_id", F.lit("customer").alias("table_name"), "n_rows")
    )
    o = orders.join(subjects, orders.o_custkey == subjects.subject_id)
    o_rows = o.groupBy("subject_id").agg(F.count("*").alias("n_rows")).select(
        "subject_id", F.lit("orders").alias("table_name"), "n_rows"
    )
    l_rows = (
        li.join(
            o.select("o_orderkey", "subject_id"), li.l_orderkey == F.col("o_orderkey")
        )
        .groupBy("subject_id")
        .agg(F.count("*").alias("n_rows"))
        .select("subject_id", F.lit("lineitem").alias("table_name"), "n_rows")
    )
    return c_rows.unionByName(o_rows).unionByName(l_rows)


def orders_fully_returned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Relational division (the FOR-ALL shape): orders where EVERY
    lineitem came back returned — one conditional aggregate per order
    (count == returned-count), no double scan, no NOT EXISTS re-probe.
    The canonical rewrite of division onto a grouped comparison."""
    li = load_table(spark, sf_dir, "lineitem")
    per_order = li.groupBy("l_orderkey").agg(
        F.count("*").alias("n_lines"),
        F.sum((F.col("l_returnflag") == "R").cast("long")).alias("n_returned"),
    )
    return (
        per_order.filter(F.col("n_lines") == F.col("n_returned"))
        .select(F.col("l_orderkey").alias("o_orderkey"), "n_lines")
    )


def heavy_hitter_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded-memory heavy hitters (operators/freq.py): Misra-Gries
    candidate pass (k counters per partition, NO shuffle of the distinct
    key space) + exact recount of the tiny shortlist. The fixture derives
    a power-law key from orders — 30% of rows collapse onto 7 hot
    residues, the rest stay unique — the shape where a full groupBy
    shuffles ~0.7n distinct keys to find 7. The MG union guarantee
    (any key with freq > n/k survives some partition's summary) plus the
    exact recount makes the result EQUAL to the full-groupBy answer, so
    it is hash-certified against that oracle. Threshold = floor(n/k)+1 —
    strictly above n/k, because the superset guarantee needs f > n/k (an
    item at exactly n/k can be wiped in every partition); the one
    count() is a bounded 1-row job."""
    from cdc_streaming_pipeline_spark.operators.freq import heavy_hitters

    o = load_table(spark, sf_dir, "orders")
    keyed = o.select(
        F.when(F.col("o_orderkey") % 10 < 3, F.col("o_orderkey") % 7)
        .otherwise(F.col("o_orderkey"))
        .alias("key")
    )
    n = keyed.count()
    return heavy_hitters(keyed, "key", min_count=n // 64 + 1, k=64)


def salted_revenue_by_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-mitigated join as a certified query: lineitem⋈orders through
    operators/joins.py:salted_join (left side salted 8 ways, right side
    replicated per salt), aggregated to revenue per order priority. The
    oracle is the PLAIN join's SQL — hash equality certifies that the
    salt-split rewrite is semantically invisible, which is the entire
    contract that lets it replace a skew-collapsed shuffle at 100 TB."""
    from cdc_streaming_pipeline_spark.operators.joins import salted_join

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_extendedprice", "l_discount"
    )
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority"
    )
    joined = salted_join(li, orders, "l_orderkey", "o_orderkey", n_salts=8, how="inner")
    return joined.groupBy("o_orderpriority").agg(
        F.count("*").alias("n_lineitems"),
        dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"),
    )


def lineitem_price_equidepth_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-depth histogram over a FACT-scale column: 20 equal-count
    price bands of lineitem extendedprice with per-band bounds — the
    optimizer-statistics / pricing-analytics shape that needs a global
    rank over the fact table itself, not a per-entity aggregate. Runs on
    the exact distributed rank operator (operators/rank.py: percentile
    range buckets + per-bucket windows + broadcast offsets), so the
    600M-row-at-scale sort never serializes into one task; the band is
    the NTILE-equivalent integer formula, bit-identical to the DuckDB
    ntile oracle. Tiebreak = the (orderkey, linenumber) composite packed
    into one long (linenumber < 10), making the total order unique and
    engine-independent."""
    from cdc_streaming_pipeline_spark.operators.rank import (
        exact_ntile,
        with_global_rank,
    )

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_extendedprice",
        "l_quantity",
        (F.col("l_orderkey") * 10 + F.col("l_linenumber")).alias("_rid"),
    )
    # materialize_input=False: the input is a pruned fact SCAN — three
    # re-reads beat materializing the whole fact frame to executor disk
    # n_buckets=32: the bucket expression costs O(n_buckets) per fact
    # row per consuming branch; 32 halves that constant while max task
    # stays rows/32 — retune upward at real scale
    ranked = with_global_rank(
        li, key="l_extendedprice", tiebreak="_rid", ascending=True,
        materialize_input=False, n_buckets=32, bucket_impl="chain",
        # chain: the bucket expr runs per FACT row in three consuming
        # branches — the codegen'd CASE chain halves this query
        # (interleaved A/B 3.68→1.92 s; rank.py docstring)
    )
    return (
        ranked.withColumn("band", exact_ntile("_g_rank", "_g_n", 20))
        .groupBy("band")
        .agg(
            F.count("*").alias("n_items"),
            F.min("l_extendedprice").alias("price_lo"),
            F.max("l_extendedprice").alias("price_hi"),
            dsum(F.col("l_quantity"), 2).alias("band_qty"),
        )
    )


def daily_revenue_gapfilled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-filled daily revenue series: every calendar day between the
    first and last order date appears, zero-filled where no orders
    landed — the resampling step every downstream forecaster assumes.
    The calendar spine is F.sequence over the min/max 1-row aggregate
    exploded (bounded by the calendar span, not the data), left-joined
    to the daily rollup; the cumulative sum runs over the same bounded
    day spine (documented-bounded window, same class as the monthly
    series)."""
    orders = load_table(spark, sf_dir, "orders")
    daily = orders.groupBy(F.col("o_orderdate").alias("day")).agg(
        dsum(F.col("o_totalprice")).alias("revenue"),
        F.count("*").alias("n_orders"),
    )
    span = orders.agg(
        F.min("o_orderdate").alias("_lo"), F.max("o_orderdate").alias("_hi")
    )
    spine = span.select(
        F.explode(F.sequence(F.col("_lo"), F.col("_hi"))).alias("day")
    )
    w = Window.orderBy(F.col("day").asc())
    return (
        spine.join(daily, "day", "left")
        .select(
            "day",
            F.coalesce(F.col("revenue"), F.lit(0.0)).alias("revenue"),
            F.coalesce(F.col("n_orders"), F.lit(0)).alias("n_orders"),
            F.col("revenue").isNull().alias("is_gap"),
        )
        .withColumn(
            "cum_revenue",
            F.round(
                F.sum("revenue").over(
                    w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
                ),
                2,
            ),
        )
    )


def daily_new_users_cumulative(spark: SparkSession, sf_dir: str) -> DataFrame:
    """User-growth curve from the event stream: per day, users seen for
    the FIRST time, and the running total — exact (first-seen date per
    user via one groupBy, then a rollup over the bounded day spine; the
    cumsum window runs over days, not users)."""
    ev = load_table(spark, sf_dir, "events")
    first_seen = ev.groupBy("user_id").agg(
        F.min(F.to_date("ts")).alias("day")
    )
    per_day = first_seen.groupBy("day").agg(F.count("*").alias("n_new_users"))
    w = Window.orderBy(F.col("day").asc())
    return per_day.select(
        "day",
        "n_new_users",
        F.sum("n_new_users")
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .alias("cum_users"),
    )


def _derby_nation_url(spark: SparkSession, sf_dir: str) -> str:
    """Seed — once per session, as a ``fixture`` — an embedded Derby
    database with the parquet `nation` table and return its JDBC url.
    Derby ships inside Spark's own jars (no external driver), so this
    stands in for the operational Postgres the reference polls
    (postgres/init/init.sql); because the rows come FROM the parquet
    table, the DuckDB oracle can replicate the federated query exactly."""
    from cdc_streaming_pipeline_spark.sources.jdbc import DERBY_DRIVER

    def build(root: str) -> str:
        url = f"jdbc:derby:{root};create=true"
        (
            load_table(spark, sf_dir, "nation")
            .write.format("jdbc")
            .option("url", url)
            .option("dbtable", "nation")
            .option("driver", DERBY_DRIVER)
            .mode("overwrite")
            .save()
        )
        return url

    return fixture(spark, sf_dir, "fed_nation", build)


def jdbc_federated_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1 federated path as a first-class query: an operational-DB
    dimension (nation, served by embedded Derby over JDBC) joins landed
    parquet facts (customer) in ONE Spark plan — the enrich-without-export
    warehouse pattern. The region predicate is pushed to the REMOTE scan
    (JDBC PushedFilters, pinned in tests/test_jdbc_source.py) and the
    25-row dimension broadcasts; the parquet side never leaves Spark."""
    from cdc_streaming_pipeline_spark.sources.jdbc import DERBY_DRIVER, jdbc_reader

    url = _derby_nation_url(spark, sf_dir)
    dim = (
        jdbc_reader(
            spark, url, "nation", driver=DERBY_DRIVER,
            partition_column="n_nationkey", num_partitions=2,
        )
        .filter(F.col("n_regionkey") <= 2)
        .select("n_nationkey", "n_name")
    )
    cust = load_table(spark, sf_dir, "customer")
    return (
        cust.join(F.broadcast(dim), cust["c_nationkey"] == dim["n_nationkey"])
        .groupBy("n_name")
        .agg(
            F.count("*").alias("n_customers"),
            dsum(F.col("c_acctbal")).alias("total_acctbal"),
        )
        .select("n_name", "n_customers", "total_acctbal")
    )


def bloom_prefiltered_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Runtime-filter join (operators/bloom.py:bloom_semi_join): revenue
    of lineitems belonging to urgent-priority orders, with the probe
    side (lineitem — THE 100 TB table) pruned at the scan by a
    config-constant-sized Bloom filter built from the urgent order keys,
    then exactness restored by the un-hinted semi join of survivors.
    Broadcasting the key set itself would scale with orders and die at
    the broadcast limit (the round-7 verdict family); the Bloom bit
    array stays 128 KiB-1 MiB whatever the build cardinality, and false
    positives cost shuffle bytes, never wrong rows. Same answer as the
    plain semi join — certified by the SQL oracle.

    The call DECLARES the operator's winning regime (match fraction
    ~0.2 — urgent is one of five priorities — and a build side that is
    not broadcastable at the design point); without that declaration
    ``bloom_semi_join`` falls through to the plain semi join, which
    wins every locally-measurable regime (the decision contract and
    measurements live in operators/bloom.py:bloom_regime_wins and
    .benchmarks/SCALE10_r8b.md)."""
    from cdc_streaming_pipeline_spark.operators.bloom import bloom_semi_join

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_returnflag", "l_extendedprice", "l_discount"
    )
    urgent = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderpriority") == "1-URGENT")
        .select("o_orderkey")
    )
    hits = bloom_semi_join(
        li,
        urgent,
        "l_orderkey",
        "o_orderkey",
        m_bits=1 << 20,
        expected_selectivity=0.2,
        broadcastable_build=False,
    )
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return hits.groupBy("l_returnflag").agg(
        F.count("*").alias("n_items"),
        dsum(rev).alias("revenue"),
    )


def supplier_part_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the supplier↔part co-occurrence graph
    (operators/graph.py:pagerank): which suppliers/parts sit at the
    center of the supply network, weighted by who they transact with —
    the iterative-algorithm representative next to connected components.
    Undirected bipartite edges from lineitem (supplier, part) pairs, 8
    power-method rounds; top 20 by rank with the rank rounded so the
    report's ordering is stable across partial-aggregation orders.
    Not SQL-expressible (iterative float fixpoint), but certified by a
    pure-Python oracle (tools/py_oracles.py:supplier_part_pagerank —
    vectorized power iteration; measured cross-engine divergence is
    ulp-level, 7 orders below the rank_bp rounding). Operator semantics
    additionally pinned in tests/test_graph_pagerank.py."""
    from cdc_streaming_pipeline_spark.operators.graph import pagerank

    li = load_table(spark, sf_dir, "lineitem").select("l_suppkey", "l_partkey")
    part_offset = 1_000_000_000
    edges = li.select(
        F.col("l_suppkey").alias("src"),
        (F.col("l_partkey") + part_offset).alias("dst"),
    )
    ranks = pagerank(edges, iters=8)
    return (
        ranks.select(
            F.when(F.col("node") >= part_offset, F.lit("part"))
            .otherwise(F.lit("supplier"))
            .alias("node_type"),
            F.when(
                F.col("node") >= part_offset, F.col("node") - part_offset
            )
            .otherwise(F.col("node"))
            .alias("node_id"),
            F.round(F.col("rank") * 1e4, 6).alias("rank_bp"),
        )
        .orderBy(F.col("rank_bp").desc(), "node_type", "node_id")
        .limit(20)
    )


def lineitem_correlations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson correlations between the fact table's numeric measures —
    the quick feature-redundancy screen before any modeling work. One
    aggregate pass (corr composes from the same five running sums the
    Zipf OLS uses, all map-side combinable); correlations are
    scale-free in [-1,1], so round-4 is far above the cross-engine
    double-summation noise floor (~1e-12 relative at this row count)."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.agg(
        F.count("*").alias("n_rows"),
        F.round(F.corr("l_quantity", "l_extendedprice"), 4).alias("corr_qty_price"),
        F.round(F.corr("l_discount", "l_extendedprice"), 4).alias("corr_disc_price"),
        F.round(F.corr("l_quantity", "l_discount"), 4).alias("corr_qty_disc"),
    )


def weekday_seasonality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonality decomposition over the order stream: per ISO weekday,
    the mean daily revenue and the single most anomalous date (largest
    absolute deviation from that weekday's mean — the day an on-call
    analyst gets paged about). The window ranking runs on the DAILY
    frame — calendar-bounded (one row per date), so the per-weekday
    sort never scales with the fact table; daily totals are
    exact-decimal so both engines agree bit-for-bit before the final
    rounded statistics."""
    orders = load_table(spark, sf_dir, "orders")
    daily = orders.groupBy(F.col("o_orderdate").alias("day")).agg(
        dsum(F.col("o_totalprice")).alias("rev")
    )
    wd = daily.withColumn("weekday", F.expr("weekday(day) + 1"))
    stats = wd.groupBy("weekday").agg(
        F.count("*").alias("n_days"),
        F.round(F.avg("rev"), 2).alias("avg_daily_rev"),
    )
    dev = (
        wd.join(stats, "weekday")
        .withColumn("abs_dev", F.round(F.abs(F.col("rev") - F.col("avg_daily_rev")), 2))
    )
    w = Window.partitionBy("weekday").orderBy(F.col("abs_dev").desc(), F.col("day").asc())
    return (
        dev.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select(
            "weekday",
            "n_days",
            "avg_daily_rev",
            F.col("day").alias("anomaly_day"),
            F.col("abs_dev").alias("anomaly_abs_dev"),
        )
    )


def revenue_estimate_sampled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate query processing — the answer-before-the-scan-ends
    move at 100 TB: estimate total order revenue from a deterministic
    2% md5-bucket sample (engine-portable, so the estimate itself is
    oracle-certifiable) with the CLT standard error and a 95% interval.
    The sample predicate evaluates AT THE SCAN (one cheap pass over 2%
    of the data); the full-scan truth costs 50x more I/O. Exact at this
    SF (oracle recomputes the identical sample): estimate, stderr, and
    the true value side by side with the relative error."""
    from cdc_streaming_pipeline_spark.operators.sampling import md5_bucket

    orders = load_table(spark, sf_dir, "orders")
    rate = 2  # percent
    # exact integer-cents moments: both engines accumulate identical
    # integers, so every downstream double expression is deterministic
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    sample = orders.filter(md5_bucket(F.col("o_orderkey"), 100) < rate)
    scale = 100.0 / rate
    s = sample.agg(
        F.count("*").alias("n"),
        F.sum(cents.cast("decimal(38,0)")).alias("s1c"),
        F.sum(cents.cast("decimal(38,0)") * cents).alias("s2c"),
    )
    truth = orders.agg(
        (F.sum(cents.cast("decimal(38,0)")).cast("double") / 100.0).alias(
            "true_total"
        )
    )
    n = F.col("n").cast("double")
    s1 = F.col("s1c").cast("double") / 100.0
    s2 = F.col("s2c").cast("double") / 10000.0
    mean = s1 / n
    var = s2 / n - mean * mean
    est = s1 * scale
    stderr = F.sqrt(var * n) * scale  # se of the scaled sum
    return s.crossJoin(truth).select(
        F.col("n").alias("sample_n"),
        F.round(est, 2).alias("est_total"),
        F.round(stderr, 2).alias("stderr"),
        F.round(F.col("true_total"), 2).alias("true_total"),
        F.round(F.abs(est - F.col("true_total")) / F.col("true_total"), 4).alias(
            "rel_error"
        ),
    )


def part_copurchase_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle census of the part co-purchase graph
    (operators/graph.py:triangle_count): parts are linked when they
    appear in the same order; triangles (and the global clustering
    coefficient) measure how clique-ish the catalog's co-purchase
    structure is — the classic graph analytic whose naive all-wedges
    plan dies on hub nodes and whose degree-ordered orientation fixes
    it (O(m^1.5) bound). The graph is restricted to the partkey%4
    cohort: a deterministic 1/4 catalog sample that keeps the
    co-purchase density meaningful while bounding the wedge volume the
    bench pays. Fully hash-green: DuckDB recounts triangles with the
    canonical a<b<c three-way join."""
    from cdc_streaming_pipeline_spark.operators.graph import triangle_count

    li = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .filter(F.col("l_partkey") % 4 == 0)
    )
    a, b = li.alias("a"), li.alias("b")
    edges = a.join(
        b,
        (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
        & (F.col("a.l_partkey") < F.col("b.l_partkey")),
    ).select(F.col("a.l_partkey").alias("src"), F.col("b.l_partkey").alias("dst"))
    return triangle_count(edges)


def daily_revenue_cusum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM changepoint screen over the daily revenue series: running
    sum of standardized residuals; a drifting mean walks the statistic
    away from zero long before any single day trips a z-score alarm
    (the classic sequential-detection complement to
    event_rate_anomaly's pointwise z-scores). The cumulative window
    runs on the calendar-bounded daily frame (one row per date — the
    same accepted shape as daily_new_users_cumulative); daily totals
    are exact-decimal so the standardization inputs are deterministic,
    and the output reports the 10 most extreme |CUSUM| days."""
    orders = load_table(spark, sf_dir, "orders")
    daily = orders.groupBy(F.col("o_orderdate").alias("day")).agg(
        dsum(F.col("o_totalprice")).alias("rev")
    )
    stats = daily.agg(
        F.avg("rev").alias("_mu"),
        F.count("*").alias("_n"),
        F.sum(F.col("rev") * F.col("rev")).alias("_s2"),
    )
    j = daily.crossJoin(F.broadcast(stats))
    sd = F.sqrt(F.col("_s2") / F.col("_n") - F.col("_mu") * F.col("_mu"))
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    scored = j.withColumn(
        "cusum", F.round(F.sum((F.col("rev") - F.col("_mu")) / sd).over(w), 4)
    )
    return (
        scored.select("day", "rev", "cusum")
        .orderBy(F.abs(F.col("cusum")).desc(), F.col("day").asc())
        .limit(10)
    )


def part_association_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket association mining over order baskets: for part
    pairs co-purchased in ≥2 orders (TPC-H baskets are uniform-random,
    so repeat co-occurrence tops out near 5 even at sf0.1 — on a real
    catalog this threshold is the scaled min-support knob), support,
    confidence, and lift
    (P(A∧B)/(P(A)·P(B)) — >1 means genuinely bought together, not just
    both popular). One pair-generation self-join per basket (bounded by
    basket size²) → integer count aggregates; all ratios derive from
    exact integers and round at the end, so the ranking is
    engine-deterministic. Top 10 by lift with id tiebreaks."""
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey").distinct()
    # basket count as a broadcast 1-row aggregate, not a separate count()
    # action: keeps the whole query ONE job (the count cost a full extra
    # distinct pass over the fact scan before the real plan even started)
    n_orders_df = li.select("l_orderkey").distinct().agg(
        F.count("*").cast("double").alias("_n_orders")
    )
    item = li.groupBy(F.col("l_partkey").alias("pk")).agg(F.count("*").alias("n_item"))
    a, b = li.alias("a"), li.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .groupBy(
            F.col("a.l_partkey").alias("part_a"), F.col("b.l_partkey").alias("part_b")
        )
        .agg(F.count("*").alias("n_both"))
        .filter(F.col("n_both") >= 2)
    )
    ia = item.select(F.col("pk").alias("part_a"), F.col("n_item").alias("_na"))
    ib = item.select(F.col("pk").alias("part_b"), F.col("n_item").alias("_nb"))
    n = F.col("_n_orders")
    scored = (
        pairs.join(ia, "part_a")
        .join(ib, "part_b")
        .crossJoin(F.broadcast(n_orders_df))
        .select(
            "part_a",
            "part_b",
            "n_both",
            F.round(F.col("n_both") / n, 6).alias("support"),
            F.round(F.col("n_both") / F.col("_na"), 4).alias("confidence"),
            F.round(
                F.col("n_both") * n / (F.col("_na") * F.col("_nb")), 4
            ).alias("lift"),
        )
    )
    return scored.orderBy(
        F.col("lift").desc(), F.col("part_a").asc(), F.col("part_b").asc()
    ).limit(10)


def revenue_trend_by_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-segment revenue trend: OLS slope of monthly revenue against
    the month index, one slope per market segment — the grouped
    regression shape (same five-sums algebra as the Zipf fit, but
    grouped, so every segment's fit happens in ONE aggregation pass
    with no per-group iteration). Monthly totals are exact-decimal; the
    slope is a deterministic double expression over those exact sums,
    reported in K$/month alongside the fit's R²."""
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    monthly = (
        orders.join(cust, orders["o_custkey"] == cust["c_custkey"])
        .groupBy(
            F.col("c_mktsegment").alias("segment"),
            F.months_between(
                F.trunc("o_orderdate", "month"), F.lit("1992-01-01")
            )
            .cast("long")
            .alias("m"),
        )
        .agg(dsum(F.col("o_totalprice")).alias("rev"))
    )
    x, y = F.col("m").cast("double"), F.col("rev") / 1000.0
    stats = monthly.groupBy("segment").agg(
        F.count("*").alias("n_months"),
        F.sum(x).alias("sx"),
        F.sum(y).alias("sy"),
        F.sum(x * x).alias("sxx"),
        F.sum(y * y).alias("syy"),
        F.sum(x * y).alias("sxy"),
    )
    n = F.col("n_months").cast("double")
    cov = F.col("sxy") - F.col("sx") * F.col("sy") / n
    varx = F.col("sxx") - F.col("sx") * F.col("sx") / n
    vary = F.col("syy") - F.col("sy") * F.col("sy") / n
    return stats.select(
        "segment",
        "n_months",
        F.round(cov / varx, 4).alias("slope_kusd_per_month"),
        F.round((cov * cov) / (varx * vary), 4).alias("r2"),
    )


def customer_spend_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of customer spend — the single-number
    inequality/concentration measure next to supplier_pareto_analysis's
    curve: G = 2·Σ(rank·x)/(n·Σx) − (n+1)/n over spend sorted
    ascending. The global rank comes from the exact distributed rank
    operator (operators/rank.py) — customer cardinality scales with the
    corpus, so a single-task ORDER BY window is the r7 trap this
    operator exists to avoid. Spend totals are exact-decimal; ties
    break on custkey in both engines."""
    from cdc_streaming_pipeline_spark.operators.rank import with_global_rank

    orders = load_table(spark, sf_dir, "orders")
    spend = orders.groupBy(F.col("o_custkey").alias("custkey")).agg(
        dsum(F.col("o_totalprice")).alias("spend")
    )
    ranked = with_global_rank(spend, key="spend", tiebreak="custkey", ascending=True)
    stats = ranked.agg(
        F.count("*").alias("n_customers"),
        F.sum("spend").alias("_sx"),
        F.sum(F.col("_g_rank") * F.col("spend")).alias("_srx"),
    )
    n = F.col("n_customers").cast("double")
    gini = 2.0 * F.col("_srx") / (n * F.col("_sx")) - (n + 1.0) / n
    return stats.select(
        "n_customers",
        F.round(F.col("_sx"), 2).alias("total_spend"),
        F.round(gini, 4).alias("gini"),
    )


def supplier_part_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-core of the supplier↔part co-occurrence graph
    (operators/graph.py:kcore): the dense trading backbone left after
    iteratively peeling every node with fewer than 3 distinct partners
    — the standard graph-density sibling to pagerank (influence) and
    triangles (closure) over the same edge fixture. Exact integer
    fixpoint, unique regardless of execution order; certified by a
    pure-Python peeling oracle (tools/py_oracles.py). Output is the
    one-row core census: surviving suppliers / parts, core edge count,
    and the minimum in-core degree (>= 3 by definition — the oracle
    asserts the invariant too)."""
    from cdc_streaming_pipeline_spark.operators.graph import kcore

    li = load_table(spark, sf_dir, "lineitem").select("l_suppkey", "l_partkey")
    off = 1_000_000_000
    edges = li.select(
        F.col("l_suppkey").alias("src"), (F.col("l_partkey") + off).alias("dst")
    )
    core = kcore(edges, k=3)
    return core.agg(
        F.sum((F.col("node") < off).cast("long")).alias("n_core_suppliers"),
        F.sum((F.col("node") >= off).cast("long")).alias("n_core_parts"),
        (F.sum("core_degree") / 2).cast("long").alias("n_core_edges"),
        F.min("core_degree").alias("min_core_degree"),
    )


def part_name_fuzzy_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity resolution by edit distance (operators/fuzzyjoin.py):
    match a corrupted-name cohort (every 193rd part, first two chars
    dropped — edit distance 2 from its source) back to the part
    catalog with ``levenshtein <= 2``. The operator is the exact
    prefix-filtered q-gram join: each side emits only its q·d+1
    globally-rarest grams as join signatures (complete by the gram
    count bound + prefix-filter theorem), candidates verify with
    JVM-side F.levenshtein — no cross join anywhere, candidate volume
    output-proportional. The DuckDB oracle states the ground truth as
    the literal cross-join definition, so a hash match certifies the
    blocking dropped nothing."""
    from cdc_streaming_pipeline_spark.operators.fuzzyjoin import fuzzy_join

    p = load_table(spark, sf_dir, "part").select("p_partkey", "p_name")
    pert = p.filter(F.col("p_partkey") % 193 == 0).select(
        F.col("p_partkey").alias("query_key"),
        F.col("p_name").substr(F.lit(3), F.length("p_name")).alias("query_name"),
    )
    out = fuzzy_join(
        pert, p, "query_key", "query_name", "p_partkey", "p_name", max_distance=2
    )
    return out.select(
        F.col("l_id").alias("query_key"),
        F.col("r_id").alias("match_key"),
        F.col("l_val").alias("query_name"),
        F.col("r_val").alias("match_name"),
        "edit_dist",
    )


def part_bargain_skyline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-objective Pareto frontier (operators/skyline.py): the parts
    no other part beats on ALL of (retail price ↓, total quantity sold ↑,
    average discount ↑) — the multi-criteria generalization of the
    reference's single-metric Hive ranking cuts. The operator runs the
    exact three-phase distributed plan (JVM min-sum prune →
    partition-local skylines → contract-bounded exact merge); the DuckDB
    oracle states the ground truth as the literal quadratic NOT-EXISTS
    definition, so a hash match certifies the pruning dropped nothing.
    Dominance dims are rounded IDENTICALLY in both engines before the
    skyline so last-ulp float-avg noise cannot flip a dominance pair."""
    from cdc_streaming_pipeline_spark.operators.skyline import skyline

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_quantity", "l_discount"
    )
    p = load_table(spark, sf_dir, "part").select("p_partkey", "p_retailprice")
    pv = (
        li.join(p, li["l_partkey"] == p["p_partkey"])
        .groupBy("l_partkey")
        .agg(
            F.round(F.first("p_retailprice"), 2).alias("price"),
            F.round(F.sum("l_quantity"), 2).alias("qty"),
            F.round(F.avg("l_discount"), 6).alias("disc"),
        )
    )
    return skyline(pv, ["price", "qty", "disc"], maximize=["qty", "disc"]).select(
        F.col("l_partkey").alias("part_key"), "price", "qty", "disc"
    )


def supplier_reach_hops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reachability census (operators/graph.py:bfs_hops): minimum hop
    distance from supplier #min(suppkey) over the supplier↔part
    co-occurrence graph, reported as a per-level histogram split by node
    type. Level-synchronous distributed BFS (frontier ⋈ edges →
    anti-join visited per level); certified by a pure-Python BFS oracle
    (tools/py_oracles.py). Completes the graph trio's fourth axis:
    pagerank (influence), triangles (closure), kcore (density),
    bfs (reachability)."""
    from cdc_streaming_pipeline_spark.operators.graph import bfs_hops

    li = load_table(spark, sf_dir, "lineitem").select("l_suppkey", "l_partkey")
    off = 1_000_000_000
    edges = li.select(
        F.col("l_suppkey").alias("src"), (F.col("l_partkey") + off).alias("dst")
    )
    src = li.select(F.min("l_suppkey").alias("node"))
    hops = bfs_hops(edges, src)
    return hops.groupBy("hop").agg(
        F.sum((F.col("node") < off).cast("long")).alias("n_suppliers"),
        F.sum((F.col("node") >= off).cast("long")).alias("n_parts"),
    )


def open_order_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-stabbing by sweep line: how many orders are 'open'
    (orderdate .. last shipment) on each day the count changes. The
    naive plan is a day-scaffold × interval range join — O(orders ×
    avg_open_days) rows shuffled; the sweep decomposes each interval
    into a +1/-1 delta pair, aggregates deltas per day (ONE shuffle on
    ~thousands of calendar days), and takes a running sum over the
    day-aggregated frame — a calendar-bounded window (≤ a few thousand
    rows regardless of order count), the repo's standing policy for
    global windows. Exact integers; oracle runs the identical sweep in
    SQL."""
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    iv = (
        o.join(li, o["o_orderkey"] == li["l_orderkey"])
        .groupBy("o_orderkey")
        .agg(
            F.first(F.to_date("o_orderdate")).alias("s"),
            F.max(F.to_date("l_shipdate")).alias("e"),
        )
    )
    deltas = iv.select(F.col("s").alias("day"), F.lit(1).alias("delta")).unionByName(
        iv.select(F.date_add("e", 1).alias("day"), F.lit(-1).alias("delta"))
    )
    daily = deltas.groupBy("day").agg(F.sum("delta").alias("delta"))
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return daily.select("day", F.sum("delta").over(w).alias("n_open"))


def lineitem_spearman(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman rank correlation between the fact measures — the
    robust, monotonic sibling of lineitem_correlations' Pearson screen
    (outlier-heavy price columns can hide monotone structure from
    Pearson). Spearman = Pearson over TIE-AVERAGED global ranks, and
    the plan routes each measure by its DOMAIN: quantity and discount
    have bounded value sets, so their tie-averaged rank is the closed
    form cnt_less(v) + (cnt(v)+1)/2 over a broadcast-sized frequency
    table (one combinable groupBy, zero full-frame shuffles — measured
    4.2x over ranking them distributedly); only the near-unique,
    unbounded-domain price column rides the exact distributed rank
    operator (operators/rank.py), tie-averaged by groupBy(value)+join
    (never a partitionBy window — tie multiplicity is unbounded in
    principle). Tie-averaged ranks erase the tiebreak ordering, so both
    engines agree exactly; the oracle uses the equivalent closed form
    ``rank() + (tie_count − 1)/2`` for all three."""
    from cdc_streaming_pipeline_spark.operators.rank import RankSpec, with_global_ranks

    li = load_table(spark, sf_dir, "lineitem").select(
        (F.col("l_orderkey") * 10 + F.col("l_linenumber")).alias("rid"),
        "l_quantity",
        "l_extendedprice",
        "l_discount",
    )
    # Two of the three measures have DOMAIN-bounded value sets
    # (quantity: integers 1..50, discount: cents 0.00..0.10), so their
    # tie-averaged rank is a closed form over the tiny value-frequency
    # table — ar(v) = cnt_less(v) + (cnt(v)+1)/2 — computed with one
    # map-side-combinable groupBy + a window over the ≤50-row frequency
    # frame (bounded frame, repo window policy) and broadcast back. No
    # distributed rank, no full-frame shuffle, no skewed join key.
    ranked = li
    for val, ar in (("l_quantity", "ar_q"), ("l_discount", "ar_d")):
        freq = li.groupBy(val).agg(F.count("*").alias("_c"))
        wless = (
            Window.orderBy(val)
            .rowsBetween(Window.unboundedPreceding, -1)
        )
        tiny = freq.select(
            val,
            (
                F.coalesce(F.sum("_c").over(wless), F.lit(0))
                + (F.col("_c") + 1) / 2.0
            ).alias(ar),
        )
        ranked = ranked.join(F.broadcast(tiny), val)
    # Price is near-unique over an unbounded domain — the one measure
    # that genuinely needs the exact distributed global rank; its
    # tie-average is the groupBy(value)+join (never a partitionBy
    # window: tie multiplicity is unbounded in principle).
    ranked = with_global_ranks(
        ranked,
        [RankSpec(key="l_extendedprice", rank_col="r_p")],
        tiebreak="rid",
        materialize_input=True,
        bucket_impl="chain",
        # chain: fact-scale input — the codegen'd CASE chain cut this
        # query 9.29→3.49 s in the interleaved A/B (rank.py docstring)
        # the OUTPUT feeds three subplans (tie groupBy, join probe,
        # final corr) — checkpoint it once so the bucketed window runs
        # once, not per consumer
    ).localCheckpoint(eager=False)
    ties_p = ranked.groupBy("l_extendedprice").agg(F.avg("r_p").alias("ar_p"))
    ranked = ranked.join(ties_p, "l_extendedprice")
    return ranked.agg(
        F.count("*").alias("n_rows"),
        F.round(F.corr("ar_q", "ar_p"), 4).alias("spearman_qty_price"),
        F.round(F.corr("ar_d", "ar_p"), 4).alias("spearman_disc_price"),
        F.round(F.corr("ar_q", "ar_d"), 4).alias("spearman_qty_disc"),
    )


def part_name_entity_resolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end entity resolution: the part catalog plus a
    corrupted-name cohort (every 193rd part, first two chars dropped)
    is resolved into canonical entities by composing TWO custom
    operators — fuzzy_join (operators/fuzzyjoin.py, symmetric-deletion
    blocking) finds every name pair within edit distance 2, and
    connected_components (operators/cluster.py) closes them
    transitively into entities labeled by their minimum member id. The
    pairwise stage runs on DISTINCT names, never raw records (see the
    inline dedupe-before-pairwise note) and record membership rolls up
    by equi-join. Output is the per-entity census (canonical id,
    distinct-name count, member count, corrupted-member count). The
    DuckDB oracle re-states the whole pipeline declaratively: a literal
    cross-join pair definition closed by a recursive-CTE reachability
    fixpoint — so a hash match certifies blocking completeness AND the
    clustering in one gate."""
    from cdc_streaming_pipeline_spark.operators.cluster import connected_components
    from cdc_streaming_pipeline_spark.operators.fuzzyjoin import fuzzy_join

    off = 10_000_000
    p = load_table(spark, sf_dir, "part").select("p_partkey", "p_name")
    pert = p.filter(F.col("p_partkey") % 193 == 0).select(
        (F.col("p_partkey") + off).alias("rec_id"),
        F.col("p_name").substr(F.lit(3), F.length("p_name")).alias("name"),
    )
    recs = (
        p.select(F.col("p_partkey").alias("rec_id"), F.col("p_name").alias("name"))
        .unionByName(pert)
    )
    # ER 101 at scale: DEDUPE BEFORE PAIRWISE. Records sharing a name
    # are the same entity by definition, so the pairwise stage runs
    # over DISTINCT name nodes (keyed by min record id — deterministic)
    # and membership rolls up afterwards by a plain equi-join. Skipping
    # this makes every duplicated value an O(dup²) pair factory: the
    # raw-record formulation measured 11.2M pairs / 73s on this corpus
    # (64 distinct names across 20k parts); the name-level graph is 74
    # nodes.
    names = recs.groupBy("name").agg(F.min("rec_id").alias("id"))
    pairs = fuzzy_join(names, names, "id", "name", "id", "name", max_distance=2)
    edges = pairs.filter(F.col("l_id") < F.col("r_id")).select(
        F.col("l_id").alias("id_a"), F.col("r_id").alias("id_b")
    )
    cc = connected_components(edges, names.select("id"), id_col="id")
    membership = recs.join(names, "name").join(
        cc.withColumnRenamed("id", "_nid"), F.col("id") == F.col("_nid")
    )
    return membership.groupBy(F.col("cluster_id").alias("entity_id")).agg(
        F.countDistinct("name").alias("n_names"),
        F.count("*").alias("n_members"),
        F.sum((F.col("rec_id") >= off).cast("long")).alias("n_corrupted"),
    )


def supplier_affinity_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rarity-weighted shortest-path distance from supplier
    #min(suppkey) to every other supplier (operators/graph.py:sssp):
    edge weight 1/co-occurrence-count, so frequently-trading
    supplier↔part links are 'close' and the distance ranks suppliers by
    network affinity to the source. Frontier Bellman-Ford relaxation —
    two hash shuffles per round, rounds = max hop count of a shortest
    path. Certified by a sequential Dijkstra oracle
    (tools/py_oracles.py): every path distance accumulates
    left-to-right from the source, so candidate values are bit-exact
    across engines and min is order-free."""
    from cdc_streaming_pipeline_spark.operators.graph import sssp

    li = load_table(spark, sf_dir, "lineitem").select("l_suppkey", "l_partkey")
    off = 1_000_000_000
    edges = li.groupBy(
        F.col("l_suppkey").alias("src"), (F.col("l_partkey") + off).alias("dst")
    ).agg((F.lit(1.0) / F.count("*")).alias("weight"))
    src = li.select(F.min("l_suppkey").alias("node"))
    dist = sssp(edges, src)
    return dist.filter(F.col("node") < off).select(
        F.col("node").alias("suppkey"), F.round("dist", 6).alias("affinity_dist")
    )


QUERIES = {
    "q1_pricing_summary": q1_pricing_summary,
    "q3_shipping_priority": q3_shipping_priority,
    "q5_local_supplier_volume": q5_local_supplier_volume,
    "q6_forecast_revenue": q6_forecast_revenue,
    "orders_without_lineitems": orders_without_lineitems,
    "parts_with_lineitems": parts_with_lineitems,
    "top_orders_per_segment": top_orders_per_segment,
    "customer_running_total": customer_running_total,
    "rollup_lineitem": rollup_lineitem,
    "cube_orders": cube_orders,
    "wide_entity_union": wide_entity_union,
    "validate_referential_integrity": validate_referential_integrity,
    "lineitem_skew_report": lineitem_skew_report,
    "join_cardinality_orders_lineitem": join_cardinality_orders_lineitem,
    "jdbc_federated_enrich": jdbc_federated_enrich,
    "salted_revenue_by_priority": salted_revenue_by_priority,
    "heavy_hitter_keys": heavy_hitter_keys,
    "supplier_pareto_analysis": supplier_pareto_analysis,
    "corpus_zipf_slope": corpus_zipf_slope,
    "customer_rfm_segments": customer_rfm_segments,
    "monthly_revenue_growth": monthly_revenue_growth,
    "shipping_latency_stats": shipping_latency_stats,
    "first_touch_conversion": first_touch_conversion,
    "benford_deviation_orders": benford_deviation_orders,
    "subject_access_report": subject_access_report,
    "orders_fully_returned": orders_fully_returned,
    "nations_customers_only": nations_customers_only,
    "order_priority_counts": order_priority_counts,
    "q7_volume_shipping": q7_volume_shipping,
    "q10_returned_items": q10_returned_items,
    "q14_type_share": q14_type_share,
    "q17_small_quantity_revenue": q17_small_quantity_revenue,
    "q18_large_orders": q18_large_orders,
    "q19_or_predicate_revenue": q19_or_predicate_revenue,
    "q22_idle_customers": q22_idle_customers,
    "customer_order_gaps": customer_order_gaps,
    "grouping_sets_revenue": grouping_sets_revenue,
    "order_status_pivot": order_status_pivot,
    "sql_text_revenue_by_nation": sql_text_revenue_by_nation,
    "q2_min_cost_supplier": q2_min_cost_supplier,
    "q4_late_shipment_orders": q4_late_shipment_orders,
    "q8_market_share": q8_market_share,
    "q9_profit_by_nation_year": q9_profit_by_nation_year,
    "q13_order_count_distribution": q13_order_count_distribution,
    "q15_top_supplier": q15_top_supplier,
    "q16_supplier_count_by_part": q16_supplier_count_by_part,
    "q21_sole_late_supplier": q21_sole_late_supplier,
    "q11_important_part_values": q11_important_part_values,
    "q12_late_shipment_priority_mix": q12_late_shipment_priority_mix,
    "q20_excess_shippers": q20_excess_shippers,
    "daily_revenue_7d_ma": daily_revenue_7d_ma,
    "customer_value_deciles": customer_value_deciles,
    "lineitem_price_equidepth_bands": lineitem_price_equidepth_bands,
    "daily_revenue_gapfilled": daily_revenue_gapfilled,
    "daily_new_users_cumulative": daily_new_users_cumulative,
    "bloom_prefiltered_revenue": bloom_prefiltered_revenue,
    "supplier_part_pagerank": supplier_part_pagerank,
    "lineitem_correlations": lineitem_correlations,
    "weekday_seasonality": weekday_seasonality,
    "revenue_estimate_sampled": revenue_estimate_sampled,
    "part_copurchase_triangles": part_copurchase_triangles,
    "daily_revenue_cusum": daily_revenue_cusum,
    "part_association_lift": part_association_lift,
    "revenue_trend_by_segment": revenue_trend_by_segment,
    "customer_spend_gini": customer_spend_gini,
    "part_name_fuzzy_match": part_name_fuzzy_match,
    "supplier_part_kcore": supplier_part_kcore,
    "part_bargain_skyline": part_bargain_skyline,
    "supplier_reach_hops": supplier_reach_hops,
    "open_order_concurrency": open_order_concurrency,
    "lineitem_spearman": lineitem_spearman,
    "part_name_entity_resolution": part_name_entity_resolution,
    "supplier_affinity_distance": supplier_affinity_distance,
}

ORACLE = {
    "q1_pricing_summary": f"""
        SELECT l_returnflag, l_linestatus,
               {sql_dsum('l_quantity')} AS sum_qty,
               {sql_dsum('l_extendedprice')} AS sum_base_price,
               {sql_dsum('l_extendedprice * (1 - l_discount)')} AS sum_disc_price,
               {sql_dsum('l_extendedprice * (1 - l_discount) * (1 + l_tax)')} AS sum_charge,
               {sql_davg('l_quantity')} AS avg_qty,
               {sql_davg('l_extendedprice')} AS avg_price,
               {sql_davg('l_discount')} AS avg_disc,
               COUNT(*) AS count_order
        FROM lineitem
        WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        GROUP BY l_returnflag, l_linestatus
    """,
    "q3_shipping_priority": f"""
        SELECT o_orderkey, o_orderdate, o_orderpriority,
               {sql_dsum('l_extendedprice * (1 - l_discount)')} AS revenue
        FROM customer, orders, lineitem
        WHERE c_mktsegment = 'BUILDING'
          AND c_custkey = o_custkey AND l_orderkey = o_orderkey
          AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
          AND l_shipdate > TIMESTAMP '1998-01-01 00:00:00'
        GROUP BY o_orderkey, o_orderdate, o_orderpriority
    """,
    "q5_local_supplier_volume": f"""
        SELECT n_name,
               {sql_dsum('l_extendedprice * (1 - l_discount)')} AS revenue
        FROM customer, orders, lineitem, supplier, nation, region
        WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
          AND l_suppkey = s_suppkey AND c_nationkey = s_nationkey
          AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
          AND r_name = 'ASIA'
        GROUP BY n_name
    """,
    "q6_forecast_revenue": f"""
        SELECT {sql_dsum('l_extendedprice * l_discount')} AS revenue
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
          AND l_discount BETWEEN 0.03 AND 0.07
          AND l_quantity < 25
    """,
    "orders_without_lineitems": """
        SELECT o_orderkey, o_custkey, o_totalprice
        FROM orders o
        WHERE NOT EXISTS (SELECT 1 FROM lineitem l WHERE l.l_orderkey = o.o_orderkey)
    """,
    "parts_with_lineitems": """
        SELECT p_partkey, p_name
        FROM part p
        WHERE EXISTS (SELECT 1 FROM lineitem l WHERE l.l_partkey = p.p_partkey)
    """,
    "top_orders_per_segment": """
        SELECT c_mktsegment, rank_in_segment, o_orderkey, o_totalprice
        FROM (
            SELECT c_mktsegment, o_orderkey, o_totalprice,
                   ROW_NUMBER() OVER (PARTITION BY c_mktsegment
                                      ORDER BY o_totalprice DESC, o_orderkey ASC) AS rank_in_segment
            FROM orders JOIN customer ON o_custkey = c_custkey
        )
        WHERE rank_in_segment <= 3
    """,
    "customer_running_total": """
        SELECT o_custkey, o_orderkey,
               ROUND(SUM(o_totalprice) OVER (PARTITION BY o_custkey
                     ORDER BY o_orderdate ASC, o_orderkey ASC
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running_total
        FROM orders
    """,
    "rollup_lineitem": f"""
        SELECT l_returnflag, l_linestatus,
               COUNT(*) AS n_items,
               {sql_dsum('l_quantity')} AS sum_qty
        FROM lineitem
        GROUP BY ROLLUP(l_returnflag, l_linestatus)
    """,
    "cube_orders": f"""
        SELECT o_orderstatus, o_orderpriority,
               COUNT(*) AS n_orders,
               {sql_dsum('o_totalprice')} AS sum_price
        FROM orders
        GROUP BY CUBE(o_orderstatus, o_orderpriority)
    """,
    "wide_entity_union": """
        SELECT c_custkey AS entity_key, c_name AS entity_name, c_acctbal AS acctbal,
               c_mktsegment AS mktsegment, 'customer' AS entity_kind
        FROM customer
        UNION ALL
        SELECT s_suppkey AS entity_key, s_name AS entity_name, s_acctbal AS acctbal,
               NULL AS mktsegment, 'supplier' AS entity_kind
        FROM supplier
    """,
    "nations_customers_only": """
        SELECT nationkey FROM (SELECT DISTINCT c_nationkey AS nationkey FROM customer)
        EXCEPT ALL
        SELECT nationkey FROM (SELECT DISTINCT s_nationkey AS nationkey FROM supplier)
    """,
    "order_priority_counts": """
        SELECT o_orderpriority, COUNT(*) AS order_count
        FROM orders o
        WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
          AND EXISTS (SELECT 1 FROM lineitem l WHERE l.l_orderkey = o.o_orderkey)
        GROUP BY o_orderpriority
    """,
    "q7_volume_shipping": f"""
        SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
               CAST(year(l_shipdate) AS BIGINT) AS l_year,
               {sql_dsum('l_extendedprice * (1 - l_discount)')} AS revenue
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation n1 ON s_nationkey = n1.n_nationkey
        JOIN nation n2 ON c_nationkey = n2.n_nationkey
        WHERE n1.n_name <> n2.n_name
        GROUP BY 1, 2, 3
    """,
    "q10_returned_items": f"""
        SELECT c_custkey, c_name, c_acctbal, c_mktsegment,
               {sql_dsum('l_extendedprice * (1 - l_discount)')} AS revenue
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        WHERE l_returnflag = 'R'
          AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND o_orderdate < TIMESTAMP '1996-07-01 00:00:00'
        GROUP BY 1, 2, 3, 4
    """,
    "q14_type_share": f"""
        SELECT economy_rev, total_rev,
               ROUND(100.0 * economy_rev / total_rev, 4) AS economy_share_pct
        FROM (
            SELECT {sql_dsum("CASE WHEN p_type = 'ECONOMY' THEN l_extendedprice * (1 - l_discount) ELSE 0.0 END")} AS economy_rev,
                   {sql_dsum('l_extendedprice * (1 - l_discount)')} AS total_rev
            FROM lineitem JOIN part ON l_partkey = p_partkey
            WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
              AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
        )
    """,
    "q17_small_quantity_revenue": """
        WITH branded AS (
            SELECT l_partkey, l_quantity, l_extendedprice
            FROM lineitem JOIN part ON l_partkey = p_partkey
            WHERE p_brand = 'Brand#1'
        ), avg_qty AS (
            SELECT l_partkey AS ap_key,
                   ROUND(CAST(SUM(CAST(l_quantity AS DECIMAL(28,6))) AS DOUBLE) / COUNT(l_quantity), 4) AS avg_qty
            FROM branded GROUP BY 1
        )
        SELECT CAST(ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(28,6))) AS DOUBLE) / 7.0, 2) AS DOUBLE) AS avg_yearly
        FROM branded JOIN avg_qty ON l_partkey = ap_key
        WHERE l_quantity < 0.2 * avg_qty
    """,
    "q18_large_orders": f"""
        WITH big AS (
            SELECT l_orderkey, {sql_dsum('l_quantity')} AS total_qty
            FROM lineitem GROUP BY 1
            HAVING {sql_dsum('l_quantity')} > 120
        )
        SELECT c_custkey, c_name, o_orderkey, o_orderdate, o_totalprice, total_qty
        FROM big
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
    """,
    "q19_or_predicate_revenue": f"""
        SELECT {sql_dsum('l_extendedprice * (1 - l_discount)')} AS revenue,
               COUNT(*) AS n_items
        FROM lineitem JOIN part ON l_partkey = p_partkey
        WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 1 AND 11)
           OR (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 25 AND l_quantity BETWEEN 10 AND 20)
           OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 35 AND l_quantity BETWEEN 20 AND 30)
    """,
    "q22_idle_customers": f"""
        SELECT c_mktsegment, COUNT(*) AS n_custs,
               {sql_dsum('c_acctbal')} AS total_bal
        FROM customer c
        WHERE c_acctbal > (
                SELECT ROUND(CAST(SUM(CAST(c_acctbal AS DECIMAL(28,6))) AS DOUBLE) / COUNT(c_acctbal), 4)
                FROM customer WHERE c_acctbal > 0)
          AND NOT EXISTS (SELECT 1 FROM orders o
                          WHERE o.o_custkey = c.c_custkey
                            AND o.o_orderdate >= TIMESTAMP '2000-01-01 00:00:00')
        GROUP BY c_mktsegment
    """,
    "customer_order_gaps": """
        WITH gaps AS (
            SELECT o_custkey,
                   date_diff('day',
                             CAST(LAG(o_orderdate) OVER (PARTITION BY o_custkey
                                  ORDER BY o_orderdate ASC, o_orderkey ASC) AS DATE),
                             CAST(o_orderdate AS DATE)) AS gap_days
            FROM orders
        )
        SELECT o_custkey, COUNT(*) AS n_gaps,
               ROUND(AVG(gap_days), 4) AS avg_gap_days,
               MAX(gap_days) AS max_gap_days
        FROM gaps WHERE gap_days IS NOT NULL
        GROUP BY o_custkey
    """,
    "grouping_sets_revenue": """
        SELECT l_returnflag, l_linestatus,
               COUNT(*) AS n_items,
               CAST(ROUND(SUM(CAST(l_quantity AS DECIMAL(28,6))), 2) AS DOUBLE) AS sum_qty
        FROM lineitem
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus))
    """,
    "order_status_pivot": """
        SELECT o_orderpriority,
               COUNT(*) FILTER (o_orderstatus = 'F') AS n_F,
               COUNT(*) FILTER (o_orderstatus = 'O') AS n_O,
               COUNT(*) FILTER (o_orderstatus = 'P') AS n_P
        FROM orders GROUP BY o_orderpriority
    """,
    "sql_text_revenue_by_nation": """
        SELECT n_name, COUNT(*) AS n_lineitems,
               CAST(ROUND(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,6))), 2) AS DOUBLE) AS revenue
        FROM lineitem
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation ON s_nationkey = n_nationkey
        GROUP BY n_name
    """,
    "q2_min_cost_supplier": """
        WITH offer AS (
            SELECT l_partkey, l_suppkey,
                   MIN(CAST(ROUND((l_extendedprice * 10000.0) / l_quantity) AS BIGINT)) AS unit_price_e4
            FROM lineitem GROUP BY l_partkey, l_suppkey
        ), best AS (
            SELECT *, MIN(unit_price_e4) OVER (PARTITION BY l_partkey) AS min_price_e4
            FROM offer
        )
        SELECT p_partkey, p_brand, s_name, n_name, unit_price_e4
        FROM best
        JOIN part ON l_partkey = p_partkey
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation ON s_nationkey = n_nationkey
        WHERE unit_price_e4 = min_price_e4 AND p_type = 'STANDARD' AND p_size <= 25
    """,
    "q4_late_shipment_orders": """
        SELECT o_orderpriority, COUNT(*) AS order_count
        FROM orders
        WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
          AND EXISTS (
            SELECT 1 FROM lineitem
            WHERE l_orderkey = o_orderkey
              AND l_shipdate > o_orderdate + INTERVAL 90 DAY
          )
        GROUP BY o_orderpriority
    """,
    "q8_market_share": """
        SELECT EXTRACT(year FROM o_orderdate) AS o_year,
               CAST(ROUND(
                 SUM(CASE WHEN n2.n_name = 'NATION_3'
                          THEN CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,6))
                          ELSE CAST(0 AS DECIMAL(28,6)) END)
                 / SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,6))), 6)
               AS DOUBLE) AS mkt_share
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation n2 ON s_nationkey = n2.n_nationkey
        WHERE o_custkey IN (
            SELECT c_custkey FROM customer
            JOIN nation n1 ON c_nationkey = n1.n_nationkey
            JOIN region ON n1.n_regionkey = r_regionkey
            WHERE r_name = 'EUROPE'
        )
        GROUP BY 1
    """,
    "q9_profit_by_nation_year": f"""
        SELECT n_name AS nation, EXTRACT(year FROM o_orderdate) AS o_year,
               {sql_dsum('l_extendedprice * (1 - l_discount) - 0.8 * p_retailprice * l_quantity')} AS sum_profit
        FROM lineitem
        JOIN part ON l_partkey = p_partkey
        JOIN orders ON l_orderkey = o_orderkey
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation ON s_nationkey = n_nationkey
        WHERE p_name LIKE '%g%'
        GROUP BY 1, 2
    """,
    "q13_order_count_distribution": """
        SELECT c_count, COUNT(*) AS custdist
        FROM (
            SELECT c_custkey, COUNT(o_orderkey) AS c_count
            FROM customer
            LEFT OUTER JOIN orders
              ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
            GROUP BY c_custkey
        )
        GROUP BY c_count
    """,
    "q15_top_supplier": f"""
        WITH revenue AS (
            SELECT l_suppkey,
                   {sql_dsum('l_extendedprice * (1 - l_discount)')} AS total_revenue
            FROM lineitem
            WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
              AND l_shipdate < TIMESTAMP '1997-04-01 00:00:00'
            GROUP BY l_suppkey
        )
        SELECT s_suppkey, s_name, total_revenue
        FROM revenue JOIN supplier ON l_suppkey = s_suppkey
        WHERE total_revenue = (SELECT MAX(total_revenue) FROM revenue)
    """,
    "q16_supplier_count_by_part": """
        SELECT p_brand, p_size, COUNT(DISTINCT l_suppkey) AS supplier_cnt
        FROM lineitem
        JOIN part ON l_partkey = p_partkey
        WHERE p_type <> 'PROMO' AND p_size IN (5, 10, 15, 20, 25, 30)
          AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
        GROUP BY p_brand, p_size
    """,
    "q11_important_part_values": f"""
        WITH per_part AS (
            SELECT l_partkey,
                   {sql_dsum('l_extendedprice * (1 - l_discount)')} AS part_value
            FROM lineitem
            WHERE l_suppkey IN (
                SELECT s_suppkey FROM supplier
                JOIN nation ON s_nationkey = n_nationkey
                WHERE n_name = 'NATION_1'
            )
            GROUP BY l_partkey
        ), tot AS (
            SELECT CAST(SUM(CAST(part_value AS DECIMAL(28,6))) AS DOUBLE) * 0.001 AS threshold
            FROM per_part
        )
        SELECT l_partkey, part_value
        FROM per_part CROSS JOIN tot
        WHERE part_value > threshold
    """,
    "q12_late_shipment_priority_mix": """
        SELECT l_returnflag,
               SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS high_line_count,
               SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 0 ELSE 1 END) AS low_line_count
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
          AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
          AND l_shipdate > o_orderdate + INTERVAL 60 DAY
        GROUP BY l_returnflag
    """,
    "q20_excess_shippers": f"""
        SELECT s_suppkey, s_name, n_name
        FROM supplier
        JOIN nation ON s_nationkey = n_nationkey
        WHERE s_suppkey IN (
            SELECT l_suppkey FROM lineitem
            WHERE l_partkey IN (SELECT p_partkey FROM part WHERE p_name LIKE '%blue%')
              AND l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
              AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
            GROUP BY l_suppkey
            HAVING {sql_dsum('l_quantity')} > 100
        )
    """,
    "daily_revenue_7d_ma": f"""
        WITH daily AS (
            SELECT CAST(o_orderdate AS DATE) AS d,
                   {sql_dsum('o_totalprice')} AS day_revenue
            FROM orders GROUP BY 1
        )
        SELECT d, day_revenue,
               ROUND(
                 CAST(SUM(CAST(day_revenue AS DECIMAL(28,6))) OVER w AS DOUBLE)
                 / COUNT(*) OVER w, 4) AS ma7
        FROM daily
        WINDOW w AS (ORDER BY date_diff('day', DATE '1970-01-01', d)
                     RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)
    """,
    "customer_value_deciles": f"""
        WITH spend AS (
            SELECT o_custkey, {sql_dsum('o_totalprice')} AS spend
            FROM orders GROUP BY o_custkey
        ), bucketed AS (
            SELECT spend, NTILE(10) OVER (ORDER BY spend DESC, o_custkey ASC) AS decile
            FROM spend
        )
        SELECT decile, COUNT(*) AS n_customers,
               {sql_dsum('spend')} AS total_spend
        FROM bucketed GROUP BY decile
    """,
    "q21_sole_late_supplier": """
        WITH flagged AS (
            SELECT l_orderkey, l_suppkey,
                   CAST(l_shipdate > o_orderdate + INTERVAL 60 DAY AS INT) AS is_late
            FROM lineitem JOIN orders ON l_orderkey = o_orderkey
            WHERE o_orderstatus = 'F'
        ), per_order AS (
            SELECT l_orderkey,
                   COUNT(DISTINCT l_suppkey) AS n_supp,
                   COUNT(DISTINCT CASE WHEN is_late = 1 THEN l_suppkey END) AS n_late_supp
            FROM flagged GROUP BY l_orderkey
        ), culprit AS (
            SELECT DISTINCT f.l_orderkey, f.l_suppkey
            FROM flagged f JOIN per_order p ON f.l_orderkey = p.l_orderkey
            WHERE f.is_late = 1 AND p.n_supp > 1 AND p.n_late_supp = 1
        )
        SELECT s_name, COUNT(*) AS numwait
        FROM culprit JOIN supplier ON l_suppkey = s_suppkey
        GROUP BY s_name
    """,
}

ORACLE["validate_referential_integrity"] = """
    WITH checks(check_name, violations, n_rows) AS (
        SELECT 'orders_custkey',
               CAST(COUNT(*) FILTER (WHERE NOT EXISTS
                   (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)) AS BIGINT),
               COUNT(*)
        FROM orders o WHERE o.o_custkey IS NOT NULL
        UNION ALL SELECT 'lineitem_orderkey',
               CAST(COUNT(*) FILTER (WHERE NOT EXISTS
                   (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)) AS BIGINT),
               COUNT(*)
        FROM lineitem l WHERE l.l_orderkey IS NOT NULL
        UNION ALL SELECT 'lineitem_partkey',
               CAST(COUNT(*) FILTER (WHERE NOT EXISTS
                   (SELECT 1 FROM part p WHERE p.p_partkey = l.l_partkey)) AS BIGINT),
               COUNT(*)
        FROM lineitem l WHERE l.l_partkey IS NOT NULL
        UNION ALL SELECT 'lineitem_suppkey',
               CAST(COUNT(*) FILTER (WHERE NOT EXISTS
                   (SELECT 1 FROM supplier s WHERE s.s_suppkey = l.l_suppkey)) AS BIGINT),
               COUNT(*)
        FROM lineitem l WHERE l.l_suppkey IS NOT NULL
        UNION ALL SELECT 'customer_nationkey',
               CAST(COUNT(*) FILTER (WHERE NOT EXISTS
                   (SELECT 1 FROM nation n WHERE n.n_nationkey = c.c_nationkey)) AS BIGINT),
               COUNT(*)
        FROM customer c WHERE c.c_nationkey IS NOT NULL
        UNION ALL SELECT 'supplier_nationkey',
               CAST(COUNT(*) FILTER (WHERE NOT EXISTS
                   (SELECT 1 FROM nation n WHERE n.n_nationkey = s.s_nationkey)) AS BIGINT),
               COUNT(*)
        FROM supplier s WHERE s.s_nationkey IS NOT NULL
        UNION ALL SELECT 'nation_regionkey',
               CAST(COUNT(*) FILTER (WHERE NOT EXISTS
                   (SELECT 1 FROM region r WHERE r.r_regionkey = n.n_regionkey)) AS BIGINT),
               COUNT(*)
        FROM nation n WHERE n.n_regionkey IS NOT NULL
    )
    SELECT check_name, violations, n_rows, violations = 0 AS passed FROM checks
"""

ORACLE["lineitem_skew_report"] = """
    WITH counts AS (
        SELECT l_orderkey AS key, COUNT(*) AS cnt FROM lineitem GROUP BY 1
    ), totals AS (
        SELECT SUM(cnt) AS total, AVG(cnt) AS mean FROM counts
    ), ranked AS (
        -- rank on the NUMERIC key; aliasing the VARCHAR cast to the same
        -- name and ordering by it in the outer query would tie-break
        -- lexicographically and pick a different top-10 at count ties
        SELECT row_number() OVER (ORDER BY cnt DESC, key) AS rnk,
               key, cnt, total, mean
        FROM counts, totals
    )
    SELECT CAST(rnk AS INT) AS rank, CAST(key AS VARCHAR) AS key, cnt,
           ROUND(cnt / total, 4) AS share,
           ROUND(cnt / mean, 2) AS skew_factor
    FROM ranked WHERE rnk <= 10
"""

ORACLE["join_cardinality_orders_lineitem"] = """
    WITH ha AS (SELECT o_orderkey AS k, COUNT(*) AS ca FROM orders GROUP BY 1),
         hb AS (SELECT l_orderkey AS k, COUNT(*) AS cb FROM lineitem GROUP BY 1)
    SELECT SUM(ca * cb) AS n_join_rows,
           COUNT(*) AS n_matching_keys,
           MAX(ca * cb) AS max_key_contribution
    FROM ha JOIN hb USING (k)
"""

# The Derby dimension is seeded FROM the parquet nation table, so the
# federated join replicates exactly against the parquet views.
ORACLE["jdbc_federated_enrich"] = f"""
    SELECT n_name, COUNT(*) AS n_customers,
           {sql_dsum('c_acctbal')} AS total_acctbal
    FROM customer JOIN nation ON c_nationkey = n_nationkey
    WHERE n_regionkey <= 2
    GROUP BY n_name
"""

# plain-join oracle: the salted rewrite must be semantically invisible
ORACLE["salted_revenue_by_priority"] = f"""
    SELECT o.o_orderpriority, COUNT(*) AS n_lineitems,
           {sql_dsum("l.l_extendedprice * (1 - l.l_discount)")} AS revenue
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    GROUP BY 1
"""

# full-groupBy truth: the MG shortlist + recount must equal it exactly
ORACLE["heavy_hitter_keys"] = """
    WITH keyed AS (
        SELECT CASE WHEN o_orderkey % 10 < 3 THEN o_orderkey % 7
                    ELSE o_orderkey END AS key
        FROM orders
    )
    SELECT key, COUNT(*) AS n_occurrences
    FROM keyed GROUP BY 1
    HAVING COUNT(*) >= (SELECT COUNT(*) FROM keyed) // 64 + 1
"""

ORACLE["subject_access_report"] = """
    WITH subjects AS (
        SELECT c_custkey AS subject_id FROM customer WHERE c_custkey % 97 = 0
    )
    SELECT s.subject_id, 'customer' AS table_name, COUNT(*) AS n_rows
    FROM customer c JOIN subjects s ON c.c_custkey = s.subject_id GROUP BY 1
    UNION ALL
    SELECT s.subject_id, 'orders', COUNT(*)
    FROM orders o JOIN subjects s ON o.o_custkey = s.subject_id GROUP BY 1
    UNION ALL
    SELECT s.subject_id, 'lineitem', COUNT(*)
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN subjects s ON o.o_custkey = s.subject_id
    GROUP BY 1
"""

ORACLE["orders_fully_returned"] = """
    SELECT l_orderkey AS o_orderkey, COUNT(*) AS n_lines
    FROM lineitem
    GROUP BY 1
    HAVING COUNT(*) = SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)
"""

ORACLE["benford_deviation_orders"] = """
    WITH counts AS (
        SELECT CAST(substr(CAST(o_totalprice AS VARCHAR), 1, 1) AS INT) AS digit,
               COUNT(*) AS n_orders
        FROM orders WHERE o_totalprice > 0
          AND CAST(substr(CAST(o_totalprice AS VARCHAR), 1, 1) AS INT) BETWEEN 1 AND 9
        GROUP BY 1
    ), tot AS (SELECT SUM(n_orders) AS n_total FROM counts)
    SELECT digit, n_orders,
           ROUND(n_orders / n_total, 4) AS observed_share,
           ROUND(log10(1.0 + 1.0 / digit), 4) AS benford_share,
           ROUND(POW(n_orders / n_total - log10(1.0 + 1.0 / digit), 2)
                 / log10(1.0 + 1.0 / digit) * n_total, 2) AS chi2_contrib
    FROM counts CROSS JOIN tot
"""

ORACLE["shipping_latency_stats"] = f"""
    SELECT o.o_orderpriority, COUNT(*) AS n_lineitems,
           {sql_davg("date_diff('day', o.o_orderdate, l.l_shipdate)", 4)} AS avg_days,
           MAX(date_diff('day', o.o_orderdate, l.l_shipdate)) AS max_days,
           ROUND(SUM(CASE WHEN date_diff('day', o.o_orderdate, l.l_shipdate) > 30
                          THEN 1 ELSE 0 END)::DOUBLE / COUNT(*), 4) AS sla_breach_frac
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    GROUP BY 1
"""

ORACLE["first_touch_conversion"] = """
    WITH first AS (
        SELECT user_id, event_type AS first_type
        FROM (SELECT user_id, event_type,
                     ROW_NUMBER() OVER (PARTITION BY user_id
                                        ORDER BY ts, event_id) AS rn
              FROM events)
        WHERE rn = 1
    ), buyers AS (
        SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase'
    )
    SELECT f.first_type, COUNT(*) AS n_users,
           SUM(CASE WHEN b.user_id IS NOT NULL THEN 1 ELSE 0 END) AS n_converted,
           ROUND(SUM(CASE WHEN b.user_id IS NOT NULL THEN 1 ELSE 0 END)::DOUBLE
                 / COUNT(*), 4) AS conversion_rate
    FROM first f LEFT JOIN buyers b ON f.user_id = b.user_id
    GROUP BY 1
"""

ORACLE["customer_rfm_segments"] = f"""
    WITH per_cust AS (
        SELECT o_custkey,
               MIN(date_diff('day', o_orderdate,
                   (SELECT MAX(o_orderdate) FROM orders))) AS recency_days,
               COUNT(*) AS frequency,
               {sql_dsum("o_totalprice")} AS monetary
        FROM orders GROUP BY 1
    ), scored AS (
        SELECT *,
               NTILE(4) OVER (ORDER BY recency_days ASC, o_custkey ASC) AS r_quartile,
               NTILE(4) OVER (ORDER BY frequency DESC, o_custkey ASC) AS f_quartile,
               NTILE(4) OVER (ORDER BY monetary DESC, o_custkey ASC) AS m_quartile
        FROM per_cust
    )
    SELECT r_quartile, f_quartile, m_quartile, COUNT(*) AS n_customers,
           {sql_dsum("monetary")} AS segment_revenue
    FROM scored GROUP BY 1, 2, 3
"""

ORACLE["monthly_revenue_growth"] = f"""
    WITH monthly AS (
        SELECT date_trunc('month', o_orderdate) AS month,
               {sql_dsum("o_totalprice")} AS revenue
        FROM orders GROUP BY 1
    )
    SELECT month, revenue,
           ROUND((revenue - LAG(revenue) OVER (ORDER BY month))
                 / LAG(revenue) OVER (ORDER BY month), 4) AS mom_growth
    FROM monthly
"""

ORACLE["supplier_pareto_analysis"] = """
    WITH rev AS (
        SELECT l_suppkey,
               SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,6))) AS r
        FROM lineitem GROUP BY 1
    ), ranked AS (
        SELECT l_suppkey, r,
               NTILE(10) OVER (ORDER BY r DESC, l_suppkey ASC) AS decile,
               SUM(r) OVER (ORDER BY r DESC, l_suppkey ASC
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        FROM rev
    )
    SELECT decile, COUNT(*) AS n_suppliers,
           ROUND(CAST(MAX(cum) / (SELECT SUM(r) FROM rev) AS DOUBLE), 4)
               AS cum_revenue_share
    FROM ranked GROUP BY 1
"""

ORACLE["corpus_zipf_slope"] = r"""
    WITH words AS (
        SELECT unnest(string_split_regex(trim(regexp_replace(lower(lower(text)), '\s+', ' ', 'g')), '\s+')) AS w
        FROM documents
    ), freq AS (
        SELECT w, COUNT(*) AS f FROM words GROUP BY 1
    ), ranked AS (
        SELECT f, ROW_NUMBER() OVER (ORDER BY f DESC, w ASC) AS r FROM freq
    ), s AS (
        SELECT COUNT(*) AS n, SUM(ln(r)) AS sx, SUM(ln(f)) AS sy,
               SUM(ln(r) * ln(r)) AS sxx, SUM(ln(f) * ln(f)) AS syy,
               SUM(ln(r) * ln(f)) AS sxy
        FROM ranked
    )
    SELECT n AS n_terms,
           ROUND((sxy - sx * sy / n) / (sxx - sx * sx / n), 4) AS zipf_slope,
           ROUND(POW(sxy - sx * sy / n, 2)
                 / ((sxx - sx * sx / n) * (syy - sy * sy / n)), 4) AS r2
    FROM s
"""
ORACLE["lineitem_price_equidepth_bands"] = """
    WITH ranked AS (
        SELECT l_extendedprice, l_quantity,
               NTILE(20) OVER (ORDER BY l_extendedprice,
                               l_orderkey * 10 + l_linenumber) AS band
        FROM lineitem
    )
    SELECT band, COUNT(*) AS n_items,
           MIN(l_extendedprice) AS price_lo,
           MAX(l_extendedprice) AS price_hi,
           ROUND(SUM(CAST(l_quantity AS DECIMAL(28,6))), 2)::DOUBLE AS band_qty
    FROM ranked GROUP BY 1
"""
ORACLE["daily_revenue_gapfilled"] = """
    WITH daily AS (
        SELECT o_orderdate AS day,
               ROUND(SUM(CAST(o_totalprice AS DECIMAL(28,6))), 2)::DOUBLE AS revenue,
               COUNT(*) AS n_orders
        FROM orders GROUP BY 1
    ), spine AS (
        SELECT UNNEST(generate_series(MIN(o_orderdate), MAX(o_orderdate),
                                      INTERVAL 1 DAY))::DATE AS day
        FROM orders
    ), filled AS (
        SELECT s.day,
               COALESCE(d.revenue, 0.0) AS revenue,
               COALESCE(d.n_orders, 0) AS n_orders,
               d.revenue IS NULL AS is_gap
        FROM spine s LEFT JOIN daily d USING (day)
    )
    SELECT day, revenue, n_orders, is_gap,
           ROUND(SUM(revenue) OVER (ORDER BY day
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS cum_revenue
    FROM filled
"""

ORACLE["daily_new_users_cumulative"] = """
    WITH first_seen AS (
        SELECT user_id, MIN(CAST(ts AS DATE)) AS day FROM events GROUP BY 1
    ), per_day AS (
        SELECT day, COUNT(*) AS n_new_users FROM first_seen GROUP BY 1
    )
    SELECT day, n_new_users,
           SUM(n_new_users) OVER (ORDER BY day
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_users
    FROM per_day
"""
ORACLE["bloom_prefiltered_revenue"] = f"""
    SELECT l_returnflag, COUNT(*) AS n_items,
           {sql_dsum("l_extendedprice * (1 - l_discount)")} AS revenue
    FROM lineitem
    SEMI JOIN (SELECT o_orderkey FROM orders
               WHERE o_orderpriority = '1-URGENT') u
      ON l_orderkey = o_orderkey
    GROUP BY l_returnflag
"""
ORACLE["lineitem_correlations"] = """
    SELECT COUNT(*) AS n_rows,
           ROUND(corr(l_quantity, l_extendedprice), 4) AS corr_qty_price,
           ROUND(corr(l_discount, l_extendedprice), 4) AS corr_disc_price,
           ROUND(corr(l_quantity, l_discount), 4) AS corr_qty_disc
    FROM lineitem
"""
ORACLE["weekday_seasonality"] = """
    WITH daily AS (
        SELECT o_orderdate AS day,
               CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(28,6))), 2) AS DOUBLE)
                   AS rev
        FROM orders GROUP BY 1
    ), wd AS (
        SELECT day, rev, isodow(day) AS weekday FROM daily
    ), stats AS (
        SELECT weekday, COUNT(*) AS n_days, ROUND(AVG(rev), 2) AS avg_daily_rev
        FROM wd GROUP BY 1
    ), dev AS (
        SELECT wd.weekday, stats.n_days, stats.avg_daily_rev, wd.day,
               ROUND(ABS(wd.rev - stats.avg_daily_rev), 2) AS abs_dev,
               ROW_NUMBER() OVER (PARTITION BY wd.weekday
                   ORDER BY ROUND(ABS(wd.rev - stats.avg_daily_rev), 2) DESC,
                            wd.day ASC) AS rn
        FROM wd JOIN stats USING (weekday)
    )
    SELECT weekday, n_days, avg_daily_rev, day AS anomaly_day,
           abs_dev AS anomaly_abs_dev
    FROM dev WHERE rn = 1
"""
ORACLE["revenue_estimate_sampled"] = """
    WITH c AS (
        SELECT o_orderkey,
               CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents
        FROM orders
    ), s AS (
        SELECT COUNT(*) AS n,
               CAST(SUM(CAST(cents AS DECIMAL(38,0))) AS DOUBLE) / 100.0 AS s1,
               CAST(SUM(CAST(cents AS DECIMAL(38,0)) * cents) AS DOUBLE)
                   / 10000.0 AS s2
        FROM c
        WHERE CAST(CAST(('0x' || substr(md5(o_orderkey::VARCHAR), 1, 8))
                   AS UBIGINT) % 100 AS BIGINT) < 2
    ), t AS (
        SELECT CAST(SUM(CAST(cents AS DECIMAL(38,0))) AS DOUBLE) / 100.0
                   AS true_total
        FROM c
    )
    SELECT n AS sample_n,
           ROUND(s1 * 50.0, 2) AS est_total,
           ROUND(SQRT((s2 / n - (s1 / n) * (s1 / n)) * n) * 50.0, 2) AS stderr,
           ROUND(true_total, 2) AS true_total,
           ROUND(ABS(s1 * 50.0 - true_total) / true_total, 4) AS rel_error
    FROM s CROSS JOIN t
"""
ORACLE["part_copurchase_triangles"] = """
    WITH e AS (
        SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
        FROM lineitem a
        JOIN lineitem b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        WHERE a.l_partkey % 4 = 0 AND b.l_partkey % 4 = 0
    ), deg AS (
        SELECT node, COUNT(*) AS d
        FROM (SELECT u AS node FROM e UNION ALL SELECT v FROM e)
        GROUP BY node
    ), tri AS (
        SELECT COUNT(*) AS n_triangles
        FROM e xy
        JOIN e yz ON xy.v = yz.u
        JOIN e xz ON xz.u = xy.u AND xz.v = yz.v
    ), s AS (
        SELECT (SELECT COUNT(*) FROM deg) AS n_nodes,
               (SELECT COUNT(*) FROM e) AS n_edges,
               (SELECT n_triangles FROM tri) AS n_triangles,
               (SELECT CAST(SUM((d * (d - 1)) // 2) AS BIGINT) FROM deg) AS w
    )
    SELECT n_nodes, n_edges, n_triangles,
           CASE WHEN w > 0 THEN ROUND(3.0 * n_triangles / w, 4) ELSE 0.0 END
               AS clustering_coeff
    FROM s
"""
ORACLE["daily_revenue_cusum"] = """
    WITH daily AS (
        SELECT o_orderdate AS day,
               CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(28,6))), 2) AS DOUBLE)
                   AS rev
        FROM orders GROUP BY 1
    ), s AS (
        SELECT AVG(rev) AS mu, COUNT(*) AS n, SUM(rev * rev) AS s2 FROM daily
    ), sc AS (
        SELECT day, rev,
               ROUND(SUM((rev - mu) / SQRT(s2 / n - mu * mu))
                         OVER (ORDER BY day
                               ROWS BETWEEN UNBOUNDED PRECEDING
                               AND CURRENT ROW), 4) AS cusum
        FROM daily, s
    )
    SELECT day, rev, cusum FROM sc
    ORDER BY ABS(cusum) DESC, day ASC LIMIT 10
"""
ORACLE["part_association_lift"] = """
    WITH li AS (
        SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ), n AS (
        SELECT COUNT(DISTINCT l_orderkey) AS n_orders FROM li
    ), item AS (
        SELECT l_partkey AS pk, COUNT(*) AS n_item FROM li GROUP BY 1
    ), pairs AS (
        SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
               COUNT(*) AS n_both
        FROM li a JOIN li b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        GROUP BY 1, 2 HAVING COUNT(*) >= 2
    )
    SELECT part_a, part_b, n_both,
           ROUND(n_both / (SELECT n_orders FROM n)::DOUBLE, 6) AS support,
           ROUND(n_both::DOUBLE / ia.n_item, 4) AS confidence,
           ROUND(n_both * (SELECT n_orders FROM n)::DOUBLE
                 / (ia.n_item * ib.n_item), 4) AS lift
    FROM pairs
    JOIN item ia ON ia.pk = part_a
    JOIN item ib ON ib.pk = part_b
    ORDER BY lift DESC, part_a ASC, part_b ASC LIMIT 10
"""
ORACLE["revenue_trend_by_segment"] = """
    WITH monthly AS (
        SELECT c_mktsegment AS segment,
               datediff('month', DATE '1992-01-01',
                        date_trunc('month', o_orderdate)) AS m,
               CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(28,6))), 2)
                    AS DOUBLE) / 1000.0 AS y
        FROM orders JOIN customer ON o_custkey = c_custkey
        GROUP BY 1, 2
    ), s AS (
        SELECT segment, COUNT(*) AS n_months,
               SUM(m::DOUBLE) AS sx, SUM(y) AS sy,
               SUM(m::DOUBLE * m::DOUBLE) AS sxx, SUM(y * y) AS syy,
               SUM(m::DOUBLE * y) AS sxy
        FROM monthly GROUP BY 1
    )
    SELECT segment, n_months,
           ROUND((sxy - sx * sy / n_months)
                 / (sxx - sx * sx / n_months), 4) AS slope_kusd_per_month,
           ROUND((sxy - sx * sy / n_months) * (sxy - sx * sy / n_months)
                 / ((sxx - sx * sx / n_months) * (syy - sy * sy / n_months)), 4)
               AS r2
    FROM s
"""
ORACLE["customer_spend_gini"] = """
    WITH spend AS (
        SELECT o_custkey AS custkey,
               CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(28,6))), 2) AS DOUBLE)
                   AS spend
        FROM orders GROUP BY 1
    ), ranked AS (
        SELECT spend,
               ROW_NUMBER() OVER (ORDER BY spend ASC, custkey ASC) AS r
        FROM spend
    ), s AS (
        SELECT COUNT(*) AS n_customers, SUM(spend) AS sx, SUM(r * spend) AS srx
        FROM ranked
    )
    SELECT n_customers, ROUND(sx, 2) AS total_spend,
           ROUND(2.0 * srx / (n_customers * sx)
                 - (n_customers + 1.0) / n_customers, 4) AS gini
    FROM s
"""
ORACLE["part_name_fuzzy_match"] = """
    WITH pert AS (
        SELECT p_partkey AS query_key, substr(p_name, 3) AS query_name
        FROM part WHERE p_partkey % 193 = 0
    )
    SELECT query_key, p.p_partkey AS match_key, query_name,
           p.p_name AS match_name,
           levenshtein(query_name, p.p_name) AS edit_dist
    FROM pert, part p
    WHERE levenshtein(query_name, p.p_name) <= 2
"""
ORACLE["part_bargain_skyline"] = """
    WITH pv AS (
        SELECT l_partkey AS part_key,
               round(any_value(p_retailprice), 2) AS price,
               round(sum(l_quantity), 2) AS qty,
               round(avg(l_discount), 6) AS disc
        FROM lineitem JOIN part ON p_partkey = l_partkey
        GROUP BY l_partkey
    )
    SELECT part_key, price, qty, disc
    FROM pv p
    WHERE NOT EXISTS (
        SELECT 1 FROM pv q
        WHERE q.price <= p.price AND q.qty >= p.qty AND q.disc >= p.disc
          AND (q.price < p.price OR q.qty > p.qty OR q.disc > p.disc)
    )
"""
ORACLE["open_order_concurrency"] = """
    WITH iv AS (
        SELECT o_orderkey, any_value(CAST(o_orderdate AS DATE)) AS s,
               max(CAST(l_shipdate AS DATE)) AS e
        FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        GROUP BY o_orderkey
    ),
    daily AS (
        SELECT day, sum(delta) AS delta
        FROM (
            SELECT s AS day, 1 AS delta FROM iv
            UNION ALL
            SELECT e + 1 AS day, -1 AS delta FROM iv
        )
        GROUP BY day
    )
    SELECT day, CAST(sum(delta) OVER (ORDER BY day) AS BIGINT) AS n_open
    FROM daily
"""
ORACLE["lineitem_spearman"] = """
    WITH r AS (
        SELECT
            rank() OVER (ORDER BY l_quantity)
              + (count(*) OVER (PARTITION BY l_quantity) - 1) / 2.0 AS ar_q,
            rank() OVER (ORDER BY l_extendedprice)
              + (count(*) OVER (PARTITION BY l_extendedprice) - 1) / 2.0 AS ar_p,
            rank() OVER (ORDER BY l_discount)
              + (count(*) OVER (PARTITION BY l_discount) - 1) / 2.0 AS ar_d
        FROM lineitem
    )
    SELECT count(*) AS n_rows,
           round(corr(ar_q, ar_p), 4) AS spearman_qty_price,
           round(corr(ar_d, ar_p), 4) AS spearman_disc_price,
           round(corr(ar_q, ar_d), 4) AS spearman_qty_disc
    FROM r
"""
ORACLE["part_name_entity_resolution"] = """
    WITH RECURSIVE recs AS (
        SELECT p_partkey AS rec_id, p_name AS name FROM part
        UNION ALL
        SELECT p_partkey + 10000000 AS rec_id, substr(p_name, 3) AS name
        FROM part WHERE p_partkey % 193 = 0
    ),
    names AS (SELECT name, min(rec_id) AS id FROM recs GROUP BY name),
    pairs AS (
        SELECT a.id AS ia, b.id AS ib
        FROM names a, names b
        WHERE a.id <> b.id AND abs(length(a.name) - length(b.name)) <= 2
          AND levenshtein(a.name, b.name) <= 2
    ),
    reach(a, b) AS (
        SELECT id, id FROM names
        UNION
        SELECT r.a, p.ib FROM reach r JOIN pairs p ON r.b = p.ia
    ),
    lbl AS (SELECT a AS id, min(b) AS entity_id FROM reach GROUP BY a)
    SELECT CAST(entity_id AS BIGINT) AS entity_id,
           CAST(count(DISTINCT m.name) AS BIGINT) AS n_names,
           count(*) AS n_members,
           CAST(sum(CASE WHEN m.rec_id >= 10000000 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_corrupted
    FROM recs m JOIN names n ON m.name = n.name JOIN lbl ON lbl.id = n.id
    GROUP BY entity_id
"""


def supplier_part_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community detection over the supplier↔part co-occurrence graph
    (operators/graph.py:label_propagation): 5 synchronous LPA rounds
    with self-vote damping and min-label tie-break — which
    supplier/part groups transact mostly among themselves, the market-
    segmentation view next to pagerank's centrality view. Fully
    integer-deterministic (no floats), so the whole algorithm is
    EXACTLY replayed by the pure-Python oracle
    (tools/py_oracles.py:supplier_part_communities); operator semantics
    additionally pinned in tests/test_graph_pagerank.py. Output: the 20
    largest communities with member/supplier/part counts."""
    from cdc_streaming_pipeline_spark.operators.graph import label_propagation

    li = load_table(spark, sf_dir, "lineitem").select("l_suppkey", "l_partkey")
    part_offset = 1_000_000_000
    # REPEAT relationships only (the pair transacted >= 2 times): the raw
    # bipartite graph is one connected blob that LPA collapses to a
    # single community — thresholding edge weight is the standard
    # co-occurrence-graph sparsification, and it is what exposes real
    # segment structure here (probed: all-edges -> 1 community of 2100;
    # weight>=2 -> top sizes 189/115/93...)
    edges = (
        li.groupBy(
            F.col("l_suppkey").alias("src"),
            (F.col("l_partkey") + part_offset).alias("dst"),
        )
        .agg(F.count("*").alias("_w"))
        .filter(F.col("_w") >= 2)
        .select("src", "dst")
    )
    labels = label_propagation(edges, iters=5)
    return (
        labels.groupBy(F.col("label").alias("community"))
        .agg(
            F.count("*").alias("n_members"),
            F.sum(F.when(F.col("node") < part_offset, 1).otherwise(0)).alias(
                "n_suppliers"
            ),
            F.sum(F.when(F.col("node") >= part_offset, 1).otherwise(0)).alias(
                "n_parts"
            ),
        )
        .orderBy(F.col("n_members").desc(), F.col("community").asc())
        .limit(20)
    )


QUERIES["supplier_part_communities"] = supplier_part_communities
# integer-exact iterative algorithm: certified by the pure-Python LPA
# replay (tools/py_oracles.py:supplier_part_communities), not SQL


def monthly_revenue_theilsen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil–Sen robust trend of monthly revenue — the
    outlier-insensitive slope estimator (median of all pairwise slopes)
    a forecasting pipeline prefers over OLS when single months spike:
    the fact table aggregates to ~84 month points FIRST (map-side
    combinable, the only corpus-scale work), then the pairwise slopes
    are a bounded self-join over that aggregate frame (84² /2 ≈ 3.5k
    pairs — a parameter bound, never data-scale) and the slope is their
    EXACT interpolated median (F.percentile, not the approximate
    sketch, so the DuckDB quantile_cont oracle matches bit-for-bit on
    the identical multiset). Intercept = median residual under the
    estimated slope."""
    from cdc_streaming_pipeline_spark.functions.precision import dsum

    o = load_table(spark, sf_dir, "orders")
    monthly = (
        o.groupBy(F.trunc("o_orderdate", "month").alias("month"))
        .agg(dsum(F.col("o_totalprice")).alias("rev"))
        .select(
            F.months_between(F.col("month"), F.lit("1992-01-01")).cast("int").alias("x"),
            "rev",
        )
    )
    a = monthly.alias("a")
    b = monthly.alias("b")
    pairs = a.join(b, F.col("a.x") < F.col("b.x")).select(
        (
            (F.col("b.rev") - F.col("a.rev")) / (F.col("b.x") - F.col("a.x"))
        ).alias("slope")
    )
    slope = pairs.agg(
        F.count("*").alias("n_pairs"),
        F.percentile(F.col("slope"), F.lit(0.5)).alias("sen_slope"),
    )
    resid = monthly.crossJoin(F.broadcast(slope)).select(
        "n_pairs",
        "sen_slope",
        (F.col("rev") - F.col("sen_slope") * F.col("x")).alias("r"),
    )
    return resid.groupBy("n_pairs", "sen_slope").agg(
        F.count("*").alias("n_points"),
        F.percentile(F.col("r"), F.lit(0.5)).alias("intercept"),
    ).select(
        "n_points",
        "n_pairs",
        F.round("sen_slope", 4).alias("sen_slope"),
        F.round("intercept", 2).alias("intercept"),
    )


def event_type_weekday_chi2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square independence test of event_type × weekday — the data-
    quality screen that catches a skewed event pipeline (a type that
    only fires on Mondays is a batch job pretending to be user
    traffic). Observed counts are one corpus aggregate; expected counts
    and the statistic live on the bounded 5×7 contingency frame
    (broadcast margins, 35 cells — parameter-bounded, never
    data-scale). Integer counts make the cell terms deterministic;
    rounding after the 35-term sum."""
    ev = load_table(spark, sf_dir, "events")
    obs = ev.groupBy(
        F.col("event_type"), F.dayofweek("ts").alias("dow")
    ).agg(F.count("*").alias("o"))
    rows = obs.groupBy("event_type").agg(F.sum("o").alias("row_tot"))
    cols = obs.groupBy("dow").agg(F.sum("o").alias("col_tot"))
    n = obs.agg(F.sum("o").alias("n"))
    cells = (
        obs.join(F.broadcast(rows), "event_type")
        .join(F.broadcast(cols), "dow")
        .crossJoin(F.broadcast(n))
    )
    term = (
        F.col("o") - F.col("row_tot") * F.col("col_tot") / F.col("n")
    ) ** 2 / (F.col("row_tot") * F.col("col_tot") / F.col("n"))
    return cells.agg(
        F.max("n").cast("long").alias("n_events"),
        (F.count_distinct("event_type") - 1).alias("dof_rows"),
        (F.count_distinct("dow") - 1).alias("dof_cols"),
        F.round(F.sum(term), 4).alias("chi2"),
    ).select(
        "n_events",
        (F.col("dof_rows") * F.col("dof_cols")).alias("dof"),
        "chi2",
    )


QUERIES["monthly_revenue_theilsen"] = monthly_revenue_theilsen
QUERIES["event_type_weekday_chi2"] = event_type_weekday_chi2
ORACLE["monthly_revenue_theilsen"] = f"""
    WITH monthly AS (
        SELECT DATEDIFF('month', DATE '1992-01-01',
                        DATE_TRUNC('month', o_orderdate)) AS x,
               {sql_dsum('o_totalprice')} AS rev
        FROM orders GROUP BY 1
    ), pairs AS (
        SELECT (b.rev - a.rev) / (b.x - a.x) AS slope
        FROM monthly a JOIN monthly b ON a.x < b.x
    ), sl AS (
        SELECT COUNT(*) AS n_pairs, QUANTILE_CONT(slope, 0.5) AS sen_slope
        FROM pairs
    )
    SELECT (SELECT COUNT(*) FROM monthly) AS n_points,
           n_pairs,
           ROUND(sen_slope, 4) AS sen_slope,
           ROUND((SELECT QUANTILE_CONT(rev - sl.sen_slope * x, 0.5)
                  FROM monthly), 2) AS intercept
    FROM sl
"""
ORACLE["event_type_weekday_chi2"] = """
    WITH obs AS (
        SELECT event_type, DAYOFWEEK(ts) + 1 AS dow, COUNT(*) AS o
        FROM events GROUP BY 1, 2
    ), m AS (
        SELECT obs.*, 
               SUM(o) OVER (PARTITION BY event_type) AS row_tot,
               SUM(o) OVER (PARTITION BY dow) AS col_tot,
               SUM(o) OVER () AS n
        FROM obs
    )
    SELECT CAST(MAX(n) AS BIGINT) AS n_events,
           CAST((COUNT(DISTINCT event_type) - 1)
                * (COUNT(DISTINCT dow) - 1) AS BIGINT) AS dof,
           ROUND(SUM(POW(o - row_tot * col_tot / CAST(n AS DOUBLE), 2)
                     / (row_tot * col_tot / CAST(n AS DOUBLE))), 4) AS chi2
    FROM m
"""

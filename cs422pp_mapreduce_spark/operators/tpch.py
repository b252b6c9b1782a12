"""TPC-H-shaped benchmark queries over the synthetic star schema.

The classic shapes (Q3 shipping-priority, Q5 local-supplier volume,
Q6 forecast-revenue, Q10 returned-items) adapted to the fixture schema
(FIXTURES.md §B: no o_shippriority, synthetic nation names). These are
the canonical multi-join + selective-predicate + top-k patterns an
analytics engine is judged on; all follow the engine's determinism
conventions so each has an exact DuckDB oracle.

Scale notes: every query is fully declarative — date predicates push to
the scans, dims broadcast, aggregates are partial→final, top-k is
TakeOrderedAndProject. No hints beyond `broadcast()` on true dims.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.numeric import (
    charge_dec,
    disc_price_dec,
    disc_rev_dec,
    exact_avg,
    exact_sum,
    exact_sum_wide,
    rate_dec,
)
from ..sources.catalog import load_table


def q_tpch_q3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q3 shape: top-10 open orders by potential revenue for one
    market segment."""
    customer = load_table(spark, sf_dir, "customer").where(
        F.col("c_mktsegment") == "BUILDING"
    )
    orders = load_table(spark, sf_dir, "orders").where(
        F.col("o_orderdate") < F.lit("1999-03-15")
    )
    lineitem = load_table(spark, sf_dir, "lineitem").where(
        F.col("l_shipdate") > F.lit("1999-03-15")
    )
    return (
        lineitem.join(orders, lineitem.l_orderkey == orders.o_orderkey)
        .join(customer, orders.o_custkey == customer.c_custkey)
        .groupBy(
            "l_orderkey",
            F.col("o_orderdate").cast("timestamp").alias("o_orderdate"),
            "o_orderpriority",
        )
        .agg(
            exact_sum(
                disc_price_dec(), 4, "revenue"
            )
        )
        .orderBy(F.col("revenue").desc(), "l_orderkey")
        .limit(10)
    )


def q_tpch_q5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q5 shape: revenue by nation within one region where the
    supplier and customer share a nation (local supply)."""
    region = load_table(spark, sf_dir, "region").where(F.col("r_name") == "ASIA")
    nation = load_table(spark, sf_dir, "nation")
    customer = load_table(spark, sf_dir, "customer")
    supplier = load_table(spark, sf_dir, "supplier")
    orders = load_table(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1998-01-01"))
        & (F.col("o_orderdate") < F.lit("2000-01-01"))
    )
    lineitem = load_table(spark, sf_dir, "lineitem")
    return (
        lineitem.join(orders, lineitem.l_orderkey == orders.o_orderkey)
        .join(customer, orders.o_custkey == customer.c_custkey)
        .join(
            F.broadcast(supplier),
            (lineitem.l_suppkey == supplier.s_suppkey)
            & (customer.c_nationkey == supplier.s_nationkey),
        )
        .join(F.broadcast(nation), supplier.s_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("n_name")
        .agg(
            exact_sum(
                disc_price_dec(), 4, "revenue"
            )
        )
    )


def q_tpch_q2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q2 shape (minimum-cost supplier), adapted: unit price
    (l_extendedprice/l_quantity) from lineitem stands in for the
    missing ps_supplycost. For size-9 parts, the ASIA-region suppliers
    achieving the per-part minimum unit cost, top-100 by account
    balance.

    The defining piece is the correlated-min: per-(part, supplier)
    MIN(unit price), then per-part MIN over suppliers, then the
    equality join back — the decorrelated two-aggregate form of the
    spec's correlated subquery. Dims (region-filtered suppliers, the
    size-9 part slice) broadcast; only lineitem keys move."""
    nation = load_table(spark, sf_dir, "nation").where(
        F.col("n_regionkey") == 2
    )
    sup = (
        load_table(spark, sf_dir, "supplier")
        .join(
            F.broadcast(nation),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select("s_suppkey", "s_name", "s_acctbal", "n_name")
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey",
        "l_suppkey",
        (F.col("l_extendedprice") / F.col("l_quantity")).alias("u"),
    )
    cost = (
        li.join(
            F.broadcast(sup.select("s_suppkey")),
            li.l_suppkey == F.col("s_suppkey"),
        )
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.min("u").alias("unit_cost"))
    )
    best = cost.groupBy("l_partkey").agg(
        F.min("unit_cost").alias("best_cost")
    )
    part9 = load_table(spark, sf_dir, "part").where(
        F.col("p_size") == 9
    ).select("p_partkey")
    return (
        cost.join(best, "l_partkey")
        .where(F.col("unit_cost") == F.col("best_cost"))
        .join(F.broadcast(part9), F.col("l_partkey") == F.col("p_partkey"))
        .join(F.broadcast(sup), F.col("l_suppkey") == F.col("s_suppkey"))
        .select(
            "s_acctbal",
            "s_name",
            "n_name",
            F.col("l_partkey").alias("p_partkey"),
            "unit_cost",
        )
        .orderBy(
            F.col("s_acctbal").desc(), "n_name", "s_name", "p_partkey"
        )
        .limit(100)
    )


def q_tpch_q9(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q9 shape (product-type profit by nation and year), adapted:
    profit = l_extendedprice × (1 − l_discount) (no ps_supplycost to
    subtract) for parts whose name contains 'gear', grouped by
    supplier nation × order year. The classic 5-table star join: both
    dims broadcast, lineitem shuffles once for the final aggregate,
    profit sums decimal-routed."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_partkey",
        "l_extendedprice", "l_discount",
    )
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate"
    )
    sup = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_nationkey"
    )
    nation = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name"
    )
    part = load_table(spark, sf_dir, "part").where(
        F.col("p_name").contains("gear")
    ).select("p_partkey")
    return (
        li.join(F.broadcast(part), li.l_partkey == F.col("p_partkey"))
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(sup), li.l_suppkey == sup.s_suppkey)
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy(
            "n_name", F.year("o_orderdate").cast("long").alias("o_year")
        )
        .agg(
            exact_sum(
                disc_price_dec(),
                4,
                "profit",
            )
        )
    )


def q_tpch_q20(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q20 shape (excess-inventory suppliers), adapted: suppliers whose
    total shipped quantity of 'small…' parts exceeds the cross-supplier
    average (no ps_availqty to compare against). Scalar threshold =
    decimal-routed mean of the per-supplier sums, broadcast as one row
    — the same 1-row-scalar-subquery physical shape as Q22/Q11."""
    part = load_table(spark, sf_dir, "part").where(
        F.col("p_name").startswith("small")
    ).select("p_partkey")
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_suppkey", "l_quantity"
    )
    ship = (
        li.join(F.broadcast(part), li.l_partkey == F.col("p_partkey"))
        .groupBy("l_suppkey")
        .agg(exact_sum("l_quantity", 2, "qty"))
    )
    thr = ship.agg(
        (exact_sum_wide("qty", 2) / F.count(F.lit(1))).alias("avg_qty")
    )
    sup = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_name"
    )
    return (
        ship.crossJoin(F.broadcast(thr))
        .where(F.col("qty") > F.col("avg_qty"))
        .join(F.broadcast(sup), F.col("l_suppkey") == F.col("s_suppkey"))
        .select("s_name", "qty")
    )


def q_tpch_q4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q4 shape (order-priority checking), adapted: the fixtures lack
    l_commitdate/l_receiptdate, so "late" is a lineitem shipped more
    than 60 days after the order date. Per-priority count of one
    quarter's orders having at least one late line.

    The defining physical piece is the EXISTS → LEFT SEMI join: orders
    never duplicate however many lines are late, and the date window
    pushes to the orders scan. At 100 TB both scans prune columns to
    keys+dates; the semi join shuffles keys only."""
    orders = load_table(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1999-01-01"))
        & (F.col("o_orderdate") < F.lit("1999-04-01"))
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_shipdate"
    )
    late = orders.join(
        li,
        (li.l_orderkey == orders.o_orderkey)
        & (
            F.col("l_shipdate")
            > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")
        ),
        "left_semi",
    )
    return late.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("order_count")
    )


def q_tpch_q12(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q12 shape (shipping-mode priority histogram), adapted: the
    fixtures lack l_shipmode, so l_linestatus stands in as the grouping
    dimension and "late" is shipped >90 days after the order date.
    Counts urgent (1-URGENT/2-HIGH) vs lower-priority orders among one
    year's late lines.

    One key-only join (lineitem keys+dates against orders
    keys+priority) and one conditional partial→final aggregate — the
    plan the real Q12 wants: no wide columns move, the date filter
    reaches the lineitem scan."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_orderpriority"
    )
    li = load_table(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1999-01-01"))
        & (F.col("l_shipdate") < F.lit("2000-01-01"))
    ).select("l_orderkey", "l_shipdate", "l_linestatus")
    late = li.join(orders, li.l_orderkey == orders.o_orderkey).where(
        F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS")
    )
    urgent = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return late.groupBy("l_linestatus").agg(
        F.sum(urgent.cast("long")).alias("high_line_count"),
        F.sum((~urgent).cast("long")).alias("low_line_count"),
    )


def q_tpch_q11(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q11 shape (important-stock identification), adapted: the
    fixtures have no partsupp, so lineitem revenue stands in for
    supply value — per-part revenue from nation-1 suppliers, keeping
    parts above 2× the nation's mean part value. (The spec scales its
    fraction by 1/SF; a mean-relative cut is the scale-invariant form
    — selective and non-vacuous at every fixture scale.)

    The classic pieces: group-agg per part, a 1-row scalar threshold
    (broadcast), and the filter. Per-part sums are decimal-routed; the
    grand total re-sums the per-part doubles through a wide decimal so
    the threshold is partitioning-invariant on both engines."""
    sup = (
        load_table(spark, sf_dir, "supplier")
        .where(F.col("s_nationkey") == 1)
        .select("s_suppkey")
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_suppkey", "l_extendedprice", "l_discount"
    )
    pv = (
        li.join(F.broadcast(sup), li.l_suppkey == sup.s_suppkey)
        .groupBy("l_partkey")
        .agg(
            exact_sum(
                disc_price_dec(),
                4,
                "part_value",
            )
        )
    )
    thr = pv.agg(
        (exact_sum_wide("part_value", 4) / F.count(F.lit(1))).alias("mean_value")
    )
    return (
        pv.crossJoin(F.broadcast(thr))
        .where(F.col("part_value") > 2.0 * F.col("mean_value"))
        .select("l_partkey", "part_value")
    )


def q_tpch_q16(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q16 shape (parts/supplier relationship count), adapted: distinct
    supplier count per (p_type, p_size) for selected sizes, with
    lineitem as the part↔supplier relation (no partsupp in the
    fixtures). The size filter pushes to the part scan; the distinct
    count expands to Spark's two-phase distinct aggregation."""
    part = load_table(spark, sf_dir, "part").where(
        F.col("p_size").isin(1, 5, 9, 13)
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_suppkey"
    )
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy("p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )


def q_tpch_q21(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q21 shape (suppliers who kept orders waiting): top-20 suppliers
    by the number of multi-supplier orders where THEY were the only
    late supplier ("late" = shipped >90 days after order date, per the
    fixture adaptation).

    The spec's EXISTS/NOT-EXISTS pair is expressed as two key-only
    aggregates — per-order supplier count and per-order late-supplier
    count — joined back to the late set: exactly the decorrelation
    Catalyst would want, with no per-row correlated subquery and no
    wide columns in any shuffle. Equivalent because "some other
    supplier in the order" ⟺ n_suppliers ≥ 2 and "no other late
    supplier" ⟺ n_late = 1."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate"
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_shipdate"
    )
    late = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .where(
            F.col("l_shipdate")
            > F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS")
        )
        .select("l_orderkey", "l_suppkey")
        .distinct()
    )
    n_supp = li.select("l_orderkey", "l_suppkey").distinct().groupBy(
        "l_orderkey"
    ).agg(F.count(F.lit(1)).alias("n_supp"))
    n_late = late.groupBy("l_orderkey").agg(
        F.count(F.lit(1)).alias("n_late")
    )
    sup = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_name"
    )
    return (
        late.join(n_supp, "l_orderkey")
        .join(n_late, "l_orderkey")
        .where((F.col("n_supp") >= 2) & (F.col("n_late") == 1))
        .join(F.broadcast(sup), F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.col("numwait").desc(), "s_name")
        .limit(20)
    )


def q_tpch_q6(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q6 shape: forecast revenue change — a pure scan-filter-agg whose
    predicates must ALL reach the parquet reader."""
    lineitem = load_table(spark, sf_dir, "lineitem")
    return (
        lineitem.where(
            (F.col("l_shipdate") >= F.lit("1999-01-01"))
            & (F.col("l_shipdate") < F.lit("2000-01-01"))
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .groupBy()
        .agg(
            exact_sum(
                disc_rev_dec(), 4, "revenue"
            ),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


def q_tpch_q14(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q14 shape: promo revenue share for one ship month. Conditional
    aggregation over a broadcast dim join; both sums decimal-routed and
    the percentage is one double expression so the result is
    bit-stable."""
    part = load_table(spark, sf_dir, "part")
    lineitem = load_table(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1999-09-01"))
        & (F.col("l_shipdate") < F.lit("1999-10-01"))
    )
    rev = disc_price_dec()
    promo_rev = exact_sum(
        F.when(F.col("p_type") == "PROMO", rev).otherwise(rate_dec(F.lit(0))), 4
    )
    total_rev = exact_sum(rev, 4)
    return (
        lineitem.join(F.broadcast(part), lineitem.l_partkey == part.p_partkey)
        .groupBy()
        .agg(
            (F.lit(100.0) * promo_rev / total_rev).alias("promo_pct"),
            total_rev.alias("total_revenue"),
        )
    )


def q_tpch_q18(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q18 shape: large-volume customers — orders whose total quantity
    exceeds a threshold, with customer attribution. The aggregate-then-
    join order matters at scale: the heavy lineitem aggregation reduces
    to one row per qualifying order BEFORE any join, so the joins move
    ~1% of the data."""
    threshold = 250
    lineitem = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    big = (
        lineitem.groupBy("l_orderkey")
        .agg(exact_sum("l_quantity", 2, "sum_qty"))
        .where(F.col("sum_qty") > threshold)
    )
    return (
        big.join(orders, big.l_orderkey == orders.o_orderkey)
        .join(customer, orders.o_custkey == customer.c_custkey)
        .select(
            "c_name",
            "c_custkey",
            "o_orderkey",
            F.col("o_orderdate").cast("timestamp").alias("o_orderdate"),
            "o_totalprice",
            "sum_qty",
        )
        .orderBy(F.col("o_totalprice").desc(), "o_orderkey")
        .limit(100)
    )


def q_tpch_q10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q10 shape: top-20 customers by lost revenue from returned items
    in one quarter."""
    customer = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    orders = load_table(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1999-10-01"))
        & (F.col("o_orderdate") < F.lit("2000-01-01"))
    )
    lineitem = load_table(spark, sf_dir, "lineitem").where(
        F.col("l_returnflag") == "R"
    )
    return (
        lineitem.join(orders, lineitem.l_orderkey == orders.o_orderkey)
        .join(customer, orders.o_custkey == customer.c_custkey)
        .join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(
            exact_sum(
                disc_price_dec(), 4, "revenue"
            )
        )
        .orderBy(F.col("revenue").desc(), "c_custkey")
        .limit(20)
    )


def q_tpch_q7(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q7 shape: volume shipped between two nations by year, keyed on
    (supplier nation, customer nation). Two independent nation joins —
    both broadcast — against one fact pass; the year extraction happens
    before the aggregate so the shuffle key is (2 strings, 1 int)."""
    nation = load_table(spark, sf_dir, "nation")
    n1 = nation.select(
        F.col("n_nationkey").alias("s_nkey"), F.col("n_name").alias("supp_nation")
    )
    n2 = nation.select(
        F.col("n_nationkey").alias("c_nkey"), F.col("n_name").alias("cust_nation")
    )
    pair = (
        (F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2")
    ) | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
    lineitem = load_table(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1998-01-01"))
        & (F.col("l_shipdate") < F.lit("2000-01-01"))
    )
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    supplier = load_table(spark, sf_dir, "supplier")
    return (
        lineitem.join(orders, lineitem.l_orderkey == orders.o_orderkey)
        .join(customer, orders.o_custkey == customer.c_custkey)
        .join(F.broadcast(supplier), lineitem.l_suppkey == supplier.s_suppkey)
        .join(F.broadcast(n1), supplier.s_nationkey == n1.s_nkey)
        .join(F.broadcast(n2), customer.c_nationkey == n2.c_nkey)
        .where(pair)
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").cast("long").alias("l_year"),
        )
        .agg(
            exact_sum(
                disc_price_dec(), 4, "revenue"
            )
        )
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


def q_tpch_q13(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q13 shape: distribution of orders-per-customer (a LEFT join so
    zero-order customers appear as c_count = 0), then a histogram over
    the counts. Two aggregations, each a single hash shuffle; the
    second input is one row per customer — tiny."""
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").where(
        F.col("o_orderpriority") != "1-URGENT"
    )
    per_cust = (
        customer.join(orders, customer.c_custkey == orders.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
        .orderBy(F.col("custdist").desc(), F.col("c_count").desc())
    )


def q_tpch_q15(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q15 shape: top supplier by quarterly revenue — an aggregate
    reused twice (per-supplier revenue AND its max) without
    recomputation hazards: the max is a broadcast single-row join, so
    the revenue aggregate is computed once per branch off one scan.
    Ties (several suppliers at max) are all returned, per spec."""
    lineitem = load_table(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1999-01-01"))
        & (F.col("l_shipdate") < F.lit("1999-04-01"))
    )
    supplier = load_table(spark, sf_dir, "supplier")
    revenue = lineitem.groupBy(F.col("l_suppkey").alias("supplier_no")).agg(
        exact_sum(
            disc_price_dec(), 4, "total_revenue"
        )
    )
    top = revenue.groupBy().agg(F.max("total_revenue").alias("max_revenue"))
    return (
        revenue.join(
            F.broadcast(top), revenue.total_revenue == top.max_revenue
        )
        .join(F.broadcast(supplier), revenue.supplier_no == supplier.s_suppkey)
        .select("s_suppkey", "s_name", "s_acctbal", "total_revenue")
        .orderBy("s_suppkey")
    )


def q_tpch_q17(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q17 shape: revenue from small-quantity orders — lineitems below
    20% of their part's average quantity, for one brand. The correlated
    scalar subquery becomes an aggregate-then-join: per-part averages
    reduce to one row per part BEFORE joining back to the fact, the
    decorrelation Catalyst itself would pick."""
    part = load_table(spark, sf_dir, "part").where(F.col("p_brand") == "Brand#12")
    lineitem = load_table(spark, sf_dir, "lineitem")
    branded = lineitem.join(
        F.broadcast(part), lineitem.l_partkey == part.p_partkey
    ).select("l_partkey", "l_quantity", "l_extendedprice")
    per_part = branded.groupBy(F.col("l_partkey").alias("avg_partkey")).agg(
        exact_avg("l_quantity", 2, "avg_qty")
    )
    return (
        branded.join(
            F.broadcast(per_part), branded.l_partkey == per_part.avg_partkey
        )
        .where(F.col("l_quantity") < 0.2 * F.col("avg_qty"))
        .groupBy()
        .agg(
            (exact_sum("l_extendedprice", 4) / F.lit(7.0)).alias("avg_yearly"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


def q_tpch_q19(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q19 shape: disjunctive multi-attribute predicate (brand × size ×
    quantity OR-chains) over a part join. The join key predicate is
    conjunctive so the join stays an equi-join; the OR-chain is one
    post-join filter Catalyst can partially push to both scans
    (brand/size terms to part, quantity bounds to lineitem)."""
    part = load_table(spark, sf_dir, "part")
    lineitem = load_table(spark, sf_dir, "lineitem")
    disj = (
        (
            (F.col("p_brand") == "Brand#12")
            & F.col("p_size").between(1, 15)
            & F.col("l_quantity").between(1, 11)
        )
        | (
            (F.col("p_brand") == "Brand#23")
            & F.col("p_size").between(1, 25)
            & F.col("l_quantity").between(10, 20)
        )
        | (
            (F.col("p_brand") == "Brand#34")
            & F.col("p_size").between(1, 35)
            & F.col("l_quantity").between(20, 30)
        )
    )
    return (
        lineitem.join(F.broadcast(part), lineitem.l_partkey == part.p_partkey)
        .where(disj)
        .groupBy()
        .agg(
            exact_sum(
                disc_price_dec(), 4, "revenue"
            ),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


def q_tpch_q1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q1 pricing-summary report — THE canonical scan+wide-aggregate.

    Full ten-column aggregate (the lighter q_group_agg variant predates
    it): every sum is decimal-routed so results are partition-order
    independent; sum_charge needs scale 6 because price(2) × disc(2) ×
    tax(2) compounds to six fractional digits exactly. One scan, one
    partial→final hash aggregate over a 4-ish-group key, the shipdate
    predicate pushed to the parquet reader — the shuffle moves O(groups)
    rows no matter the corpus size, the textbook 100 TB aggregate."""
    li = load_table(spark, sf_dir, "lineitem").where(
        F.col("l_shipdate") <= F.lit("2001-08-06")
    )
    disc_price = disc_price_dec()
    charge = charge_dec()
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            exact_sum("l_quantity", 2, "sum_qty"),
            exact_sum("l_extendedprice", 2, "sum_base_price"),
            exact_sum(disc_price, 4, "sum_disc_price"),
            exact_sum(charge, 6, "sum_charge"),
            exact_avg("l_quantity", 2, "avg_qty"),
            exact_avg("l_extendedprice", 2, "avg_price"),
            exact_avg("l_discount", 2, "avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


def q_tpch_q8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q8 national-market-share: NATION_1's share of AMERICA-customer
    ECONOMY-part revenue by order year.

    Shape notes for scale: part is the selective entry point (one
    p_type) and broadcasts; supplier/nation/region broadcast; the only
    big-big join is lineitem⋈orders on the natural key. The share is
    two decimal-routed sums in ONE aggregate pass (conditional sum over
    the same rows, q14-style) and a single double division — bit-stable
    across partitionings."""
    part = load_table(spark, sf_dir, "part").where(F.col("p_type") == "ECONOMY")
    supplier = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region").where(F.col("r_name") == "AMERICA")
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1998-01-01"))
        & (F.col("o_orderdate") < F.lit("2000-01-01"))
    )
    lineitem = load_table(spark, sf_dir, "lineitem")
    n1 = nation.select(
        F.col("n_nationkey").alias("c_nkey"), F.col("n_regionkey").alias("c_rkey")
    )
    n2 = nation.select(
        F.col("n_nationkey").alias("s_nkey"), F.col("n_name").alias("supp_nation")
    )
    volume = disc_price_dec()
    nat_volume = F.when(F.col("supp_nation") == "NATION_1", volume).otherwise(
        rate_dec(F.lit(0))
    )
    return (
        lineitem.join(orders, lineitem.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(part), lineitem.l_partkey == part.p_partkey)
        .join(customer, orders.o_custkey == customer.c_custkey)
        .join(F.broadcast(supplier), lineitem.l_suppkey == supplier.s_suppkey)
        .join(F.broadcast(n1), customer.c_nationkey == F.col("c_nkey"))
        .join(F.broadcast(region), F.col("c_rkey") == region.r_regionkey)
        .join(F.broadcast(n2), supplier.s_nationkey == F.col("s_nkey"))
        .groupBy(F.year("o_orderdate").cast("long").alias("o_year"))
        .agg(
            (
                exact_sum(nat_volume, 4) / exact_sum(volume, 4)
            ).alias("mkt_share"),
            exact_sum(volume, 4, "total_volume"),
        )
        .orderBy("o_year")
    )


def q_tpch_q22(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q22 shape (global-sales-opportunity), adapted: nation key stands
    in for the phone country code the fixtures lack. Wealthy-but-idle
    customers — balance above the global positive-balance average, no
    orders — counted per nation.

    The three classic pieces: a scalar aggregate subquery (1-row
    broadcast, exact-decimal avg so the threshold is bit-stable), an
    anti join against orders (no order ever ships the big side twice),
    and a final partial→final aggregate. At 100 TB: customer scans
    once, orders scans once (keys only, price filter pushed to the
    scan), the scalar threshold broadcasts. Every fixture customer
    has SOME order, so the idleness predicate is "no large order"
    (> 300k) — same plan, non-vacuous output."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    avg_bal = cust.where(F.col("c_acctbal") > 0.0).agg(
        exact_avg("c_acctbal", 2, "avg_bal")
    )
    return (
        cust.crossJoin(F.broadcast(avg_bal))
        .where(F.col("c_acctbal") > F.col("avg_bal"))
        .join(
            orders.where(F.col("o_totalprice") > 300000.0).select(
                F.col("o_custkey").alias("c_custkey")
            ),
            "c_custkey",
            "left_anti",
        )
        .groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            exact_sum("c_acctbal", 2, "totacctbal"),
        )
    )

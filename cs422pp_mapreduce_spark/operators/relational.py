"""Relational operator surface (SURVEY.md §2.2/§2.3).

The reference has exactly one hardcoded query; everything here is the
generalization a real engine needs: scans, projections, filters, hash
aggregation (partial→final, the generalization of the reference's
combiner+reduce, /root/reference/thread_pool.cc:90-98,204-230), joins of
all shapes, set ops, sorts/top-k, window functions, scalar functions.

Everything is expressed declaratively so Catalyst handles pushdown,
pruning, join planning and AQE. Scale posture per operator:

- scans: projections/filters land in the parquet reader (ReadSchema /
  PushedFilters) — verified in tests/test_plans.py;
- big⋈big joins (orders⋈customer, lineitem⋈orders): shuffle hash/sort
  joins on the key — correct at any scale, AQE handles skew;
- big⋈small joins (⋈nation/region): explicit ``F.broadcast`` so no
  shuffle of the big side ever happens;
- top-k: ``orderBy().limit(k)`` compiles to TakeOrderedAndProject —
  per-partition heaps + driver merge of k rows, never a global sort;
- money sums go through ``exact_sum`` (functions/numeric.py) so results
  are independent of accumulation order, i.e. of partitioning.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window
from pyspark.storagelevel import StorageLevel

from ..functions.numeric import (
    comoment,
    disc_price_dec,
    exact_avg,
    exact_sum,
    exact_sum_over,
    exact_sum_wide,
    fixed_long,
    long_dec,
    rate_long,
)
from ..functions.scan import prefix_scan
from ..functions.text import md5_int
from ..sources.catalog import load_table


# --- scans / projections / filters ---------------------------------------


def q_scan_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Projection pruning: only 3 columns may reach the scan."""
    return load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_quantity", "l_extendedprice"
    )


def q_filter_pred(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compound predicate, pushed to the parquet reader."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.where(
        (F.col("l_quantity") > 30) & (F.col("l_returnflag") == "R")
    ).select(
        "l_orderkey",
        "l_linenumber",
        "l_quantity",
        "l_returnflag",
        (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("net_price"),
    )


# --- aggregation ----------------------------------------------------------


def q_group_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-shaped multi-function hash aggregate.

    Catalyst plans partial_* aggregates before the shuffle — the exact
    generalization of the reference's map-side combiner
    (thread_pool.cc:90-98): shuffle volume is O(groups), not O(rows).
    """
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        exact_sum("l_quantity", 2, "sum_qty"),
        exact_sum("l_extendedprice", 2, "sum_base_price"),
        exact_sum(disc_price_dec(), 4, "sum_disc_price"),
        exact_avg("l_quantity", 2, "avg_qty"),
        exact_avg("l_extendedprice", 2, "avg_price"),
        F.count(F.lit(1)).alias("count_order"),
    )


def q_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COUNT(DISTINCT) per group — Spark expands to a two-phase
    distinct-then-count plan; stays O(distinct keys) in the shuffle."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_suppkey").agg(
        F.countDistinct("l_partkey").alias("n_parts"),
        F.count(F.lit(1)).alias("n_items"),
    )


def q_rollup_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUP BY ROLLUP — hierarchical totals in one pass."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.rollup("l_returnflag", "l_linestatus").agg(
        F.count(F.lit(1)).alias("n_rows"),
        exact_sum("l_quantity", 2, "sum_qty"),
    )


def q_cube_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUP BY CUBE — all grouping-set combinations."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.cube("l_returnflag", "l_linestatus").agg(
        F.count(F.lit(1)).alias("n_rows"),
        exact_sum("l_extendedprice", 2, "sum_price"),
    )


def q_case_expr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CASE WHEN bucketing feeding an aggregate."""
    li = load_table(spark, sf_dir, "lineitem")
    bucket = (
        F.when(F.col("l_quantity") < 10, F.lit("small"))
        .when(F.col("l_quantity") < 30, F.lit("medium"))
        .otherwise(F.lit("large"))
        .alias("qty_bucket")
    )
    return li.select(bucket, "l_extendedprice").groupBy("qty_bucket").agg(
        F.count(F.lit(1)).alias("n_rows"),
        exact_sum("l_extendedprice", 2, "sum_price"),
    )


# --- joins ----------------------------------------------------------------


def q_hash_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inner equi-join of two fact-sized tables: shuffle join on the
    key. At 100 TB both sides shuffle-partition by o_custkey/c_custkey;
    AQE picks shuffled-hash vs sort-merge and splits skewed keys."""
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    return orders.join(
        customer, orders.o_custkey == customer.c_custkey, "inner"
    ).select("o_orderkey", "o_totalprice", "c_custkey", "c_name", "c_mktsegment")


def q_broadcast_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dimension joins with explicit broadcast: the big side never
    shuffles — the plan must show BroadcastHashJoin (tests assert it)."""
    supplier = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    return (
        supplier.join(
            F.broadcast(nation), supplier.s_nationkey == nation.n_nationkey
        )
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .select("s_suppkey", "s_name", "n_name", "r_name")
    )


def q_multi_join_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue per nation: customer⋈orders⋈lineitem⋈nation + agg
    (TPC-H Q5 shape). Fact⋈fact legs shuffle on their keys; the nation
    dimension broadcasts; aggregation is partial→final."""
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    lineitem = load_table(spark, sf_dir, "lineitem")
    nation = load_table(spark, sf_dir, "nation")
    return (
        lineitem.join(orders, lineitem.l_orderkey == orders.o_orderkey)
        .join(customer, orders.o_custkey == customer.c_custkey)
        .join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .groupBy("n_name")
        .agg(
            exact_sum(disc_price_dec(), 4, "revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


def q_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-semi: customers having at least one big order. Only keys
    cross the shuffle; no row multiplication ever."""
    customer = load_table(spark, sf_dir, "customer")
    big = load_table(spark, sf_dir, "orders").where(F.col("o_totalprice") > 300000)
    return customer.join(
        big, customer.c_custkey == big.o_custkey, "left_semi"
    ).select("c_custkey", "c_name")


def q_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-anti: customers with no orders at all."""
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    return customer.join(
        orders, customer.c_custkey == orders.o_custkey, "left_anti"
    ).select("c_custkey", "c_name", "c_mktsegment")


def q_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-outer join preserving order-less customers with NULLs,
    aggregated to orders-per-customer (COUNT(col) skips NULLs)."""
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    return (
        customer.join(orders, customer.c_custkey == orders.o_custkey, "left")
        .groupBy("c_custkey", "c_name")
        .agg(F.count("o_orderkey").alias("n_orders"))
    )


# --- set operations -------------------------------------------------------


def q_union_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNION (distinct) of two key sets."""
    c = load_table(spark, sf_dir, "customer").select(
        F.col("c_nationkey").alias("nationkey")
    )
    s = load_table(spark, sf_dir, "supplier").select(
        F.col("s_nationkey").alias("nationkey")
    )
    return c.union(s).distinct()


def q_except_op(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT ALL — multiset difference (duplicates preserved)."""
    c = load_table(spark, sf_dir, "customer").select(
        F.col("c_nationkey").alias("nationkey")
    )
    s = load_table(spark, sf_dir, "supplier").select(
        F.col("s_nationkey").alias("nationkey")
    )
    return c.exceptAll(s)


def q_intersect_op(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT (distinct) of two key sets."""
    c = load_table(spark, sf_dir, "customer").select(
        F.col("c_nationkey").alias("nationkey")
    )
    s = load_table(spark, sf_dir, "supplier").select(
        F.col("s_nationkey").alias("nationkey")
    )
    return c.intersect(s)


# --- sort / top-k ---------------------------------------------------------


def q_latest_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-1-per-key dedupe: each customer's most recent order
    (row_number over a per-key descending sort, keep rank 1 — SQL
    QUALIFY). THE workhorse for snapshotting mutable entities out of
    an append-only log; at scale it is one shuffle on the key with the
    rank computed per partition, and AQE handles hot keys. Unique-key
    tiebreak (o_orderkey) keeps the winner deterministic."""
    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_orderdate").desc(), F.col("o_orderkey").desc()
    )
    return (
        orders.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("o_custkey", "o_orderkey", "o_orderdate", "o_totalprice")
    )


def q_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global top-10 orders by price; unique-key tiebreak for
    determinism. Compiles to TakeOrderedAndProject (per-partition heaps
    + driver merge of k rows) — no global sort at any scale."""
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.select("o_orderkey", "o_custkey", "o_totalprice")
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .limit(10)
    )


# --- window functions -----------------------------------------------------


def q_window_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 orders per customer via rank() — the distributed 'top-N
    per group' idiom: one shuffle on the partition key, per-partition
    sort, early filter."""
    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    return (
        orders.select(
            "o_custkey",
            "o_orderkey",
            "o_totalprice",
            F.rank().over(w).cast("long").alias("rnk"),
        )
        .where(F.col("rnk") <= 3)
    )


def q_window_running(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running per-customer revenue (ROWS UNBOUNDED PRECEDING..CURRENT).
    Decimal-routed so the cumulative sum is accumulation-order exact."""
    orders = load_table(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return orders.select(
        "o_custkey",
        "o_orderkey",
        # normalize NTZ → TIMESTAMP (same instant under the UTC session)
        F.col("o_orderdate").cast("timestamp").alias("o_orderdate"),
        exact_sum_over("o_totalprice", w, 2).alias("running_total"),
    )


def q_window_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lag() analytic: gap to the customer's previous order."""
    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    prev = F.lag("o_totalprice").over(w)
    return orders.select(
        "o_custkey",
        "o_orderkey",
        "o_totalprice",
        prev.alias("prev_price"),
        (F.col("o_totalprice") - prev).alias("price_delta"),
    )


def q_window_misc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Remaining ranking/analytic window functions: row_number,
    dense_rank, ntile, first/last value over a running frame."""
    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_orderdate"), F.col("o_orderkey")
    )
    wf = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return orders.select(
        "o_custkey",
        "o_orderkey",
        F.row_number().over(w).cast("long").alias("rn"),
        F.dense_rank().over(w).cast("long").alias("drk"),
        F.ntile(4).over(w).cast("long").alias("quartile"),
        F.first("o_totalprice").over(wf).alias("first_price"),
        F.last("o_totalprice").over(wf).alias("latest_price"),
    )


def q_union_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNION ALL (bag union, no dedup shuffle) + provenance tag."""
    c = load_table(spark, sf_dir, "customer").select(
        F.col("c_nationkey").alias("nationkey"), F.lit("customer").alias("src")
    )
    s = load_table(spark, sf_dir, "supplier").select(
        F.col("s_nationkey").alias("nationkey"), F.lit("supplier").alias("src")
    )
    return c.unionAll(s)


def q_null_handling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NULL semantics surface: coalesce/nullif/nvl2-style over an outer
    join that genuinely produces NULLs."""
    customer = load_table(spark, sf_dir, "customer")
    big = load_table(spark, sf_dir, "orders").where(
        F.col("o_totalprice") > 450000
    )
    j = customer.join(big, customer.c_custkey == big.o_custkey, "left")
    return j.groupBy("c_custkey").agg(
        F.coalesce(F.max("o_totalprice"), F.lit(0.0)).alias("best_big_order"),
        F.count("o_orderkey").alias("n_big_orders"),
        F.nullif(F.count("o_orderkey"), F.lit(0)).alias("n_or_null"),
    )


def q_null_safe_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-safe equality join (``<=>`` / IS NOT DISTINCT FROM): NULL
    keys match each other instead of silently dropping — the semantics
    CDC/merge pipelines need when the join key is nullable.

    The fixture keys are non-null, so a nullable key is derived
    (nullif(o_orderstatus, 'F')): 'F' rows join through the NULL arm,
    proving both match paths. Spark plans ``<=>`` as an ordinary hash
    join (NULL hashes to a regular bucket), NOT a cartesian fallback —
    same single-shuffle shape at any scale."""
    orders = load_table(spark, sf_dir, "orders")
    dim = spark.createDataFrame(
        [("O", "open"), ("P", "pending"), (None, "finished")],
        "status_key string, status_name string",
    )
    key = F.nullif(F.col("o_orderstatus"), F.lit("F"))
    return (
        orders.withColumn("o_status_key", key)
        .join(
            F.broadcast(dim),
            F.col("o_status_key").eqNullSafe(dim.status_key),
        )
        .groupBy("status_name")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            exact_sum("o_totalprice", 2, "total_value"),
        )
    )


def q_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Percent-of-total: each nation's revenue share via an
    unpartitioned window sum over the aggregated (25-row) result — the
    classic BI ratio. The whole-table window runs AFTER aggregation,
    so the single-partition window stage sees O(groups) rows, never
    the fact table (the plan a naive total-subquery join would also
    reach, minus the extra scan)."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    rev = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(customer, orders.o_custkey == customer.c_custkey)
        .join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .groupBy("n_name")
        .agg(
            exact_sum(disc_price_dec(), 4, "revenue")
        )
    )
    total = exact_sum_over("revenue", Window.partitionBy(), 4)
    return rev.select(
        "n_name",
        "revenue",
        (F.round(F.col("revenue") / total * 100.0, 6) + 0.0).alias(
            "revenue_share_pct"
        ),
    )


def q_global_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Total-order global rank over the whole table WITHOUT the
    single-partition window anti-pattern.

    An unpartitioned ``row_number()`` funnels every row through one
    task — the classic 100 TB killer. The rank is the range-exchange
    prefix scan (``functions.scan.prefix_scan``); output is identical
    to the naive global window, which is what the oracle computes."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_totalprice"
    )
    ranked = prefix_scan(orders, ["o_orderdate", "o_orderkey"], "row_number")
    return ranked.frame.select(
        "o_orderkey",
        F.col("o_orderdate").cast("timestamp").alias("o_orderdate"),
        "o_totalprice",
        ranked.value.cast("long").alias("global_rn"),
    )


# --- scalar functions -----------------------------------------------------


def q_string_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String scalar surface: upper/length/substring/concat — all
    JVM-side codegen'd expressions."""
    part = load_table(spark, sf_dir, "part")
    return part.select(
        "p_partkey",
        F.upper("p_name").alias("name_upper"),
        F.length("p_name").cast("long").alias("name_len"),
        F.substring("p_type", 1, 5).alias("type_prefix"),
        F.concat_ws("#", "p_brand", "p_type").alias("brand_type"),
    )


def q_math_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Math scalar surface: sqrt/ln/power/abs/ceil/floor/round — all
    single-pass codegen'd projections, bit-identical across engines."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.sqrt("l_quantity").alias("qty_sqrt"),
        # ln rounded to 6: JVM Math.log vs libm differ in the last ulp
        F.round(F.log("l_extendedprice"), 6).alias("price_ln"),
        F.pow("l_discount", F.lit(2)).alias("disc_sq"),
        F.ceil(F.col("l_tax") * 100).alias("tax_cents_ceil"),
        F.floor(F.col("l_quantity") / 7).alias("qty_div7_floor"),
        # truncate, don't round: round-half modes differ across engines
        # on exact .xx5 quotients
        (F.floor(F.col("l_extendedprice") / F.col("l_quantity") * 100)
         / F.lit(100.0)).alias("unit_price_t2"),
    )


def q_json_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON extraction from the events.props blob + aggregation —
    get_json_object stays JVM-side (Jackson), no Python."""
    ev = load_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("long")
    return (
        ev.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("k").alias("sum_k"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
        )
    )


def q_stats_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Variance/stddev via explicit moment sums (decimal-routed), not
    the engines' streaming variance kernels — the only formulation
    whose result is independent of accumulation order and therefore
    of partitioning. (Welford-merge results differ run-to-run on a
    cluster; these don't.)"""
    li = load_table(spark, sf_dir, "lineitem")
    n = F.count(F.lit(1)).cast("double")
    s1 = exact_sum("l_quantity", 2)
    s2 = exact_sum_wide(F.col("l_quantity") * F.col("l_quantity"), 4)
    mean = s1 / n
    var = (s2 - s1 * s1 / n) / (n - F.lit(1.0))
    return li.groupBy("l_returnflag").agg(
        n.cast("long").alias("n_rows"),
        mean.alias("mean_qty"),
        var.alias("var_qty"),
        F.sqrt(var).alias("stddev_qty"),
    )


# approx_agg bound contract knobs: approx_count_distinct(rsd=0.02) is
# HLL++ whose error is ~Gaussian with σ=rsd ⇒ 3σ = 6% relative;
# percentile_approx(accuracy=10000) is a GK summary guaranteeing rank
# error ≤ n/accuracy = 1e-4·n — the contract allows 50× slack (0.5%
# of n), still ~tight enough that a broken sketch path cannot pass.
ACD_BOUND_REL = 0.06
PCTL_RANK_EPS = 0.005


def q_approx_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch aggregates — the mergeable, bounded-memory forms that
    replace exact distinct/percentile at 100 TB: HyperLogLog++ distinct
    counts (approx_count_distinct) and GK quantile summaries
    (percentile_approx).

    HASH-VERIFIED bound contract (the q_hll_bound pattern): sketch
    values are engine-specific — which is why the OLD (approx_parts,
    approx_median_price) shape was
    rows-only — so the driver row ships what SQL replays exactly:
    per l_returnflag, n_rows, the EXACT distinct part count, and two
    contract booleans. ``distinct_within_bound`` = |HLL++ estimate −
    exact| ≤ 6% (3σ at rsd=0.02). ``median_within_bound`` checks the
    GK guarantee positionally: v = percentile_approx(price, 0.5) must
    satisfy rank_lt(v) − εn ≤ n/2 ≤ rank_le(v) + εn with ε=0.5%
    (rank_lt/rank_le bracket v's true rank, making the check
    inclusivity-convention-proof). The oracle recomputes the exact
    side and asserts the booleans TRUE — a hash match proves both
    sketch pipelines run AND honor their published error bounds.

    Plan: one grouped aggregate learns the sketch values (3 groups);
    the EXACT distinct runs as its own second aggregate joined on the
    3-row result — NOT inside the sketch aggregate: mixing
    count_distinct with TypedImperativeAggregate sketches makes Spark
    route the Expand-multiplied stream (rows × distinct-groups)
    through a sort-based fallback, measured 37 s vs 2+2 s split at
    sf1. The ≤3-row (group, median) table then broadcast-joins back
    to the fact for the rank counts — one extra linear scan, no
    second wide shuffle. The exact distinct is verification-only;
    production reads the sketches alone."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_partkey", "l_extendedprice"
    )
    sk = li.groupBy("l_returnflag").agg(
        F.approx_count_distinct("l_partkey", rsd=0.02).alias("approx_parts"),
        F.percentile_approx("l_extendedprice", F.lit(0.5), F.lit(10000)).alias(
            "med"
        ),
        F.count(F.lit(1)).alias("n_rows"),
    )
    exact = li.groupBy("l_returnflag").agg(
        F.count_distinct("l_partkey").alias("exact_parts")
    )
    sk = sk.join(F.broadcast(exact), "l_returnflag")
    ranks = (
        li.join(
            F.broadcast(sk.select("l_returnflag", "med")),
            "l_returnflag",
        )
        .groupBy("l_returnflag")
        .agg(
            F.sum((F.col("l_extendedprice") < F.col("med")).cast("long"))
            .alias("r_lt"),
            F.sum((F.col("l_extendedprice") <= F.col("med")).cast("long"))
            .alias("r_le"),
        )
    )
    out = sk.join(F.broadcast(ranks), "l_returnflag")
    half = F.col("n_rows") / 2.0
    eps_n = F.lit(PCTL_RANK_EPS) * F.col("n_rows")
    return out.select(
        "l_returnflag",
        "n_rows",
        "exact_parts",
        (
            F.abs(F.col("approx_parts") - F.col("exact_parts"))
            <= F.lit(ACD_BOUND_REL) * F.col("exact_parts")
        ).alias("distinct_within_bound"),
        (
            ((F.col("r_lt") - eps_n) <= half) & (half <= (F.col("r_le") + eps_n))
        ).alias("median_within_bound"),
    )


def q_exact_distinct_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-group distinct counts — the hash-checkable twin of
    q_approx_agg's HLL column (sketches are rows-only by nature; the
    exact formulation gets a full oracle row). Expands to Spark's
    two-phase distinct aggregation: partial de-dup on (group, value)
    before the shuffle, so volume is O(distinct), not O(rows)."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.countDistinct("l_partkey").alias("exact_parts"),
        F.count(F.lit(1)).alias("n_rows"),
    )


def q_price_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width value histogram of order totals (20k-wide buckets):
    bucket id by floor-division, count + exact-decimal mass per bucket.

    Binning is a pure projection, so the histogram is one partial→final
    hash aggregate over O(buckets) groups — the distributed analog of a
    single-pass histogram, and the shape profilers/BI layers push down."""
    orders = load_table(spark, sf_dir, "orders")
    bucket = F.floor(F.col("o_totalprice") / F.lit(20000.0)).cast("long")
    return (
        orders.select(bucket.alias("price_bucket"), "o_totalprice")
        .groupBy("price_bucket")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            exact_sum("o_totalprice", 2, "total_value"),
        )
    )


# Profiled columns of ``orders`` (name, null-count + distinct-count).
_PROFILE_COLS = (
    "o_orderkey",
    "o_custkey",
    "o_orderstatus",
    "o_totalprice",
    "o_orderdate",
    "o_orderpriority",
)


def q_table_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-profiling summary of ``orders``: per-column null count and
    exact distinct count, plus the table rowcount, in ONE pass.

    All metrics aggregate in a single scan (one agg row), then a
    ``stack`` melts the row into (column_name, metric...) long form —
    profiling N columns costs one job, not N. The exact distincts
    expand to Spark's multi-distinct plan; a 100 TB profiler would flip
    them to HLL sketches (q_approx_agg) with the same output shape."""
    orders = load_table(spark, sf_dir, "orders")
    row = orders.agg(
        F.count(F.lit(1)).alias("n_rows"),
        *[
            F.sum(F.col(c).isNull().cast("long")).alias(f"nn_{c}")
            for c in _PROFILE_COLS
        ],
        *[F.countDistinct(c).alias(f"nd_{c}") for c in _PROFILE_COLS],
    )
    stack = ", ".join(
        f"'{c}', n_rows, nn_{c}, nd_{c}" for c in _PROFILE_COLS
    )
    return row.selectExpr(
        f"stack({len(_PROFILE_COLS)}, {stack}) AS "
        "(column_name, n_rows, n_nulls, n_distinct)"
    )


def q_percentile_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles per group (median + p90). Exact
    percentile is a sort-based aggregate — fine per-group; at 100 TB
    scale the approx_percentile sketch is the mergeable alternative."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_linestatus").agg(
        F.round(F.percentile("l_quantity", F.lit(0.5)), 4).alias("median_qty"),
        F.round(F.percentile("l_quantity", F.lit(0.9)), 4).alias("p90_qty"),
        F.count(F.lit(1)).alias("n_rows"),
    )


def q_array_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array scalar surface over the embedding column: size, element
    access, bounded slice aggregation — all JVM-side HOF-light."""
    emb = load_table(spark, sf_dir, "embeddings")
    vec = F.col("embedding").cast("array<double>")
    # + 0.0 after round: normalizes IEEE signed zero. Spark and DuckDB
    # disagree on round(-2e-5, 4) → 0.0 vs -0.0; numerically equal but
    # they stringify differently, which breaks hash/sort-based
    # cross-engine comparison (bit us at sf0.1, vec_id 1753).
    return emb.select(
        "vec_id",
        F.size("embedding").cast("long").alias("dim"),
        (F.round(F.element_at(vec, 1), 4) + 0.0).alias("first_val"),
        (F.round(F.array_max(vec), 4) + 0.0).alias("max_val"),
        (F.round(F.array_min(vec), 4) + 0.0).alias("min_val"),
        (
            F.round(
                F.aggregate(F.slice(vec, 1, 8), F.lit(0.0), lambda a, x: a + x),
                4,
            )
            + 0.0
        ).alias("head8_sum"),
    )


def q_cross_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit cartesian product of two tiny dims — the one join shape
    that must NEVER appear implicitly (plan audits assert its absence
    elsewhere); legitimate only for small×small enumerations."""
    r1 = load_table(spark, sf_dir, "region").select(
        F.col("r_regionkey").alias("ra"), F.col("r_name").alias("name_a")
    )
    r2 = load_table(spark, sf_dir, "region").select(
        F.col("r_regionkey").alias("rb"), F.col("r_name").alias("name_b")
    )
    return r1.crossJoin(r2).where(F.col("ra") < F.col("rb"))


def q_having(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUP BY + HAVING (post-aggregation predicate)."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_suppkey")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            exact_sum("l_quantity", 2, "sum_qty"),
        )
        .where(F.col("n_items") > 550)
    )


def q_collect_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collection aggregate: per-nation roster of suppliers as a
    sorted, comma-joined string (sorted ⇒ deterministic under any
    partitioning; collect_list alone is NOT — order reflects arrival)."""
    supplier = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    return (
        supplier.join(F.broadcast(nation),
                      supplier.s_nationkey == nation.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.array_join(
                F.sort_array(F.collect_list("s_name")), ","
            ).alias("suppliers"),
            F.count(F.lit(1)).alias("n_suppliers"),
        )
    )


def q_string_funcs2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extended string surface: regexp_extract, pad, replace, split_part,
    reverse, position."""
    part = load_table(spark, sf_dir, "part")
    return part.select(
        "p_partkey",
        F.regexp_extract("p_name", "([0-9]+)", 1).alias("name_digits"),
        F.lpad("p_brand", 12, "_").alias("brand_padded"),
        F.replace("p_type", F.lit(" "), F.lit("-")).alias("type_dashed"),
        F.split_part("p_type", F.lit(" "), F.lit(1)).alias("type_first_word"),
        F.reverse("p_brand").alias("brand_rev"),
        F.instr("p_name", "a").cast("long").alias("first_a_pos"),
    )


def q_date_funcs2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extended date surface: quarter, day, date_diff vs epoch, month
    truncation, interval arithmetic."""
    orders = load_table(spark, sf_dir, "orders")
    return orders.select(
        "o_orderkey",
        F.quarter("o_orderdate").cast("long").alias("oquarter"),
        F.dayofmonth("o_orderdate").cast("long").alias("oday"),
        F.datediff(F.col("o_orderdate"), F.lit("1995-01-01").cast("date"))
        .cast("long")
        .alias("days_since_epoch_start"),
        F.date_trunc("month", "o_orderdate").alias("omonth_start"),
        (F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS"))
        .cast("timestamp")
        .alias("due_date"),
    )


def q_date_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date part extraction + aggregation by calendar month."""
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.select(
            F.year("o_orderdate").cast("long").alias("oyear"),
            F.month("o_orderdate").cast("long").alias("omonth"),
            "o_totalprice",
        )
        .groupBy("oyear", "omonth")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            exact_sum("o_totalprice", 2, "month_revenue"),
        )
    )


def q_map_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map-typed column surface: build a map from columns (create_map),
    merge in a JSON-parsed map (from_json → map<string,string>,
    map_concat), then interrogate it (size, sorted map_keys serialized
    to one comma-joined string per the collection-output convention —
    the driver's canonicalizer cannot sort raw array cells, r03 red
    row — and element_at lookups). Maps stay JVM-side expressions
    end-to-end; the oracle recomputes the fixed-key layout directly."""
    ev = load_table(spark, sf_dir, "events")
    m = F.map_concat(
        F.create_map(
            F.lit("type"), F.col("event_type"),
            F.lit("uid"), F.col("user_id").cast("string"),
        ),
        F.from_json("props", "map<string,string>"),
    )
    return ev.select(
        "event_id",
        F.size(m).cast("long").alias("n_keys"),
        F.array_join(F.array_sort(F.map_keys(m)), ",").alias("keys"),
        F.element_at(m, F.lit("type")).alias("type_val"),
        F.element_at(m, F.lit("k")).cast("bigint").alias("k_val"),
    )


def q_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide→long UNPIVOT (melt): lineitem's four numeric measures become
    (key, measure, value) rows — the normalization step feeding
    per-measure statistics or sparse storage. `unpivot` is pure
    row-local reshaping: no shuffle, stays in whole-stage codegen, and
    column pruning still reaches the scan (only the id + measure
    columns are read)."""
    li = load_table(spark, sf_dir, "lineitem").where(
        F.col("l_orderkey") % 100 == 0
    )
    return li.unpivot(
        ids=["l_orderkey", "l_linenumber"],
        values=["l_quantity", "l_extendedprice", "l_discount", "l_tax"],
        variableColumnName="measure",
        valueColumnName="value",
    )


def q_skewed_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-safe two-stage aggregation as a contract query: revenue +
    row count per l_returnflag (3 hot keys over the whole fact — the
    textbook skewed-aggregation shape) computed via salting
    (functions/skew.salted_sum_count): stage 1 spreads each hot key
    over 16 salt buckets, stage 2 merges partials. Decimal-routed sums
    make the result bit-identical to the unsalted single-stage plan,
    which is exactly what the DuckDB oracle runs — the gate proves the
    decomposition is lossless, not just close."""
    from ..functions.skew import salted_sum_count

    li = load_table(spark, sf_dir, "lineitem")
    rev = disc_price_dec()
    out = salted_sum_count(
        li,
        ["l_returnflag"],
        {
            "revenue": (F.sum(rev), "sum"),
            "n_rows": (F.count(F.lit(1)), "count"),
        },
    )
    return out.select(
        "l_returnflag",
        F.col("revenue").cast("double").alias("revenue"),
        "n_rows",
    )


def q_skew_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-safe JOIN as a contract query: every event row enriched
    with its event_type's global stats — a 5-key dimension against a
    100k+-row fact, i.e. every dim key is catastrophically hot (the
    shape where a plain shuffle join puts ~20% of the fact on ONE
    reducer). Computed via functions/skew.salted_join_small_skewed:
    the fact side gets a deterministic 16-bucket salt (xxhash64 of the
    whole row), the dim side is replicated ×16, and the join runs on
    (key, salt) — each hot key spreads over 16 reducers.

    The DuckDB oracle runs the plain unsalted join: the gate proves
    the salted decomposition returns the identical row set (join
    results are row-tuples, so equality is exact — no float caveats;
    the dim's type_sum routes through decimal as usual).

    At 100 TB this is the fallback when the skewed side ISN'T small
    enough to broadcast (here it would be — the query exists to pin
    the operator, and the plan audit allowlists nothing: it is two
    hash exchanges, salt-spread). AQE's skew-join split handles
    mid-size skew automatically (enabled engine-wide); explicit
    salting is for the guaranteed-pathological keys known at plan
    time."""
    from ..functions.skew import salted_join_small_skewed

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type", "value"
    )
    dim = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("type_n"),
        exact_sum("value", 2, "type_sum"),
    )
    out = salted_join_small_skewed(ev, dim, key="event_type", buckets=16)
    return out.select(
        "event_id", "event_type", "value", "type_n", "type_sum"
    )


def q_hll_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGEABLE HyperLogLog sketches (Apache DataSketches, via
    Spark's hll_sketch_agg family) — the property q_approx_agg's
    scalar approx_count_distinct doesn't expose: per-group sketches
    are first-class BINARY values that union losslessly, so a 100 TB
    pipeline computes per-shard sketches once, stores them, and
    answers any rollup (per-type here, plus the __all__ union row) by
    merging kilobyte sketches instead of rescanning raw data.

    HASH-VERIFIED bound contract (the q_hll_bound pattern): the sketch
    estimates stay in-engine (sketch internals are engine-specific,
    which is why the OLD shape was
    rows-only), and the driver row ships what SQL can replay —
    n_rows, within_bound = |estimate − exact| ≤ 5% of exact (3σ for
    lgConfigK=12 ≈ 4.9%), and merge_exact. Where q_hll_bound proves
    the ERROR bound, this row's distinct contribution is the
    MERGE-ASSOCIATIVITY proof inside the driver gate: merge_exact on
    the ``__all__`` row asserts hll_sketch_estimate(hll_union_agg(
    5 per-type sketches)) == hll_sketch_estimate(hll_union_agg(10
    finer per-(type, user_id%2) sketches)) — union register state is
    a per-slot max, so ANY grouping of the same rows must union to
    identical registers; that grouping-independence is exactly what
    makes per-shard sketch rollups sound. (Estimate-equality against
    a DIRECT single sketch is deliberately NOT the contract: a
    direct-built sketch keeps its HIP estimator while any union
    result uses the composite estimator, so the two legitimately
    diverge once past sparse mode — observed at sf0.1, 1494 vs 1488
    on 1500 exact. Per-group rows carry merge_exact=TRUE so the
    schema is uniform.)

    Plan: the sketch sides are two partial→final aggregates into KB
    registers; the exact side (verification-only — production reads
    the sketches alone) rides the same aggregates."""
    ev = load_table(spark, sf_dir, "events").select("event_type", "user_id")
    # exact distinct as its OWN aggregate, joined on the 5-row result:
    # mixing count_distinct into the sketch aggregate routes the
    # Expand-multiplied stream through a sort-based fallback (the r09
    # approx_agg catch, 37 s vs split passes at sf1)
    sk = ev.groupBy("event_type").agg(
        F.hll_sketch_agg("user_id").alias("sk"),
        F.count(F.lit(1)).alias("n_rows"),
    ).join(
        F.broadcast(
            ev.groupBy("event_type").agg(
                F.count_distinct("user_id").alias("exact_users")
            )
        ),
        "event_type",
    )
    within = F.abs(
        F.hll_sketch_estimate(F.col("sk")) - F.col("exact_users")
    ) <= (F.lit(HLL_BOUND_REL) * F.col("exact_users"))
    per = sk.select(
        "event_type",
        "n_rows",
        within.alias("within_bound"),
        F.lit(True).alias("merge_exact"),
    )
    fine = (
        ev.groupBy("event_type", (F.col("user_id") % 2).alias("b"))
        .agg(F.hll_sketch_agg("user_id").alias("sk"))
        .agg(
            F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("est_fine"),
        )
    )
    exact_all = ev.agg(F.count_distinct("user_id").alias("exact_users"))
    allrow = (
        sk.agg(
            F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("est_merged"),
            F.sum("n_rows").alias("n_rows"),
        )
        .crossJoin(F.broadcast(fine))  # 1-row × 1-row
        .crossJoin(F.broadcast(exact_all))  # 1-row × 1-row
        .select(
            F.lit("__all__").alias("event_type"),
            "n_rows",
            (
                F.abs(F.col("est_merged") - F.col("exact_users"))
                <= F.lit(HLL_BOUND_REL) * F.col("exact_users")
            ).alias("within_bound"),
            (F.col("est_merged") == F.col("est_fine")).alias("merge_exact"),
        )
    )
    return per.unionByName(allrow)


HLL_BOUND_REL = 0.05  # 3σ for lgK=12 is ≈4.9%: within_bound at 5%


def q_hll_bound(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HASH-VERIFIED error-bound contract for the HLL sketch family
    (r07 verdict ask #8 — converting a rows-only-by-nature sketch row
    into a driver-checked contract): per event_type AND for the
    union-of-sketches ``__all__`` row, emit the EXACT distinct user
    count alongside ``within_bound`` = |HLL estimate − exact| ≤ 5% of
    exact (3σ for the default lgConfigK=12 is ≈4.9%). The sketch
    estimate itself never crosses engines — sketch internals are
    engine-specific, which is WHY hll_distinct is rows-only — but the
    exact side and the boolean replay in SQL, so a hash match proves
    (a) the sketch pipeline runs, (b) its estimate honors the
    published error bound, and (c) the UNION row's bound holds on the
    merged sketch (mergeability inside the driver gate, not just
    pytest).

    Plan: one (type, user) exchange feeds the exact distinct; the
    sketch side aggregates the same scan map-side into KB registers;
    the union row merges 5 sketches. At 100 TB the exact side is the
    expensive half — which is the point: the contract row is a
    verification query; production reads the sketches alone
    (q_hll_distinct)."""
    ev = load_table(spark, sf_dir, "events").select("event_type", "user_id")
    # split aggregates (the r09 approx_agg catch): count_distinct mixed
    # into a TypedImperativeAggregate pass forces Expand + sort-based
    # fallback; two single-pass aggregates + a 5-row broadcast join
    # run linearly
    sk = ev.groupBy("event_type").agg(
        F.hll_sketch_agg("user_id").alias("sk"),
    ).join(
        F.broadcast(
            ev.groupBy("event_type").agg(
                F.count_distinct("user_id").alias("exact_users")
            )
        ),
        "event_type",
    )
    per = sk.select(
        "event_type",
        "exact_users",
        F.hll_sketch_estimate("sk").alias("approx"),
    )
    allrow = (
        sk.agg(
            F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("approx"),
        )
        .crossJoin(
            F.broadcast(
                ev.agg(F.count_distinct("user_id").alias("exact_users"))
            )
        )
        .select(F.lit("__all__").alias("event_type"), "exact_users", "approx")
    )
    rel = F.abs(F.col("approx") - F.col("exact_users")) <= (
        F.lit(HLL_BOUND_REL) * F.col("exact_users")
    )
    return per.unionByName(allrow).select(
        "event_type", "exact_users", rel.alias("within_bound")
    )


KLL_PROBS = (0.25, 0.5, 0.75, 0.99)
# KLL(k=200)'s published two-sided normalized rank error is ~1.65% at
# 99% confidence (Karnin-Lang-Liberty 2016 / DataSketches docs).
# Compaction is RANDOMIZED — outputs are run-specific — so the driver
# contract uses 2.1× that (3.5%): the tail probability of a correct
# sketch exceeding it is astronomically small, while a broken sketch
# path (wrong weights, lost rows) still cannot pass.
KLL_RANK_EPS = 0.035


def q_kll_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGEABLE KLL quantile sketches (Apache DataSketches, via
    Spark's kll_sketch_agg family) — completing the sketch surface
    next to HLL (distinct), Bloom (membership), and Count-Min
    (frequency): per-group sketches are first-class BINARY values, so
    a 100 TB pipeline sketches each shard once, stores kilobytes, and
    answers any quantile on any rollup by MERGING sketches instead of
    re-scanning (exact distributed quantiles need a full sort or the
    range-exchange machinery of quality_deciles — per-shard O(log n)
    sketch state replaces both).

    HASH-VERIFIED bound contract: KLL
    compaction is RANDOMIZED (run-specific values), which is why the
    OLD quantile-value shape was rows-only. The driver row now ships,
    per order priority AND for the kll_merge_agg ``__all__`` row
    (mergeability inside the driver gate): n_rows + one boolean per
    target rank p ∈ {25, 50, 75, 99} asserting the published
    rank-error guarantee POSITIONALLY — with v = sketch quantile at p,
    rank_lt(v) − εn ≤ p·n ≤ rank_le(v) + εn at ε = KLL_RANK_EPS
    (the rank_lt/rank_le bracket makes the check
    inclusivity-convention-proof). The oracle recomputes n and asserts
    the booleans TRUE; a hash match proves the sketch/merge pipeline
    runs and every learned quantile honors the KLL bound.

    Plan: one grouped aggregate learns the sketches; the learned
    (5-row per-group + 1-row merged) quantile tables broadcast back
    onto ONE orders re-scan whose single grouped aggregate counts both
    the per-group and the global rank brackets (the __all__ counts
    fold from per-group partials — no second pass, no wide shuffle)."""
    ords = load_table(spark, sf_dir, "orders").select(
        "o_orderpriority", "o_totalprice"
    )
    sk = ords.groupBy("o_orderpriority").agg(
        F.kll_sketch_agg_double("o_totalprice").alias("sk"),
        F.count(F.lit(1)).alias("n_rows"),
    )

    def qcols(sk_col, prefix):
        return [
            F.kll_sketch_get_quantile_double(sk_col, F.lit(p)).alias(
                f"{prefix}{int(p * 100)}"
            )
            for p in KLL_PROBS
        ]

    grp_q = sk.select("o_orderpriority", *qcols(F.col("sk"), "g"))
    all_q = sk.agg(*qcols(F.kll_merge_agg_double("sk"), "a"))
    probe = ords.join(F.broadcast(grp_q), "o_orderpriority").crossJoin(
        F.broadcast(all_q)  # 1-row learned-quantile vector
    )
    cnt = lambda c: F.sum(c.cast("long"))  # noqa: E731
    x = F.col("o_totalprice")
    counts = probe.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_rows"),
        *[
            agg
            for p in KLL_PROBS
            for agg in (
                cnt(x < F.col(f"g{int(p*100)}")).alias(f"g_lt{int(p*100)}"),
                cnt(x <= F.col(f"g{int(p*100)}")).alias(f"g_le{int(p*100)}"),
                cnt(x < F.col(f"a{int(p*100)}")).alias(f"a_lt{int(p*100)}"),
                cnt(x <= F.col(f"a{int(p*100)}")).alias(f"a_le{int(p*100)}"),
            )
        ],
    )

    def ok(lt, le, n, p):
        eps_n = F.lit(KLL_RANK_EPS) * n
        target = F.lit(p) * n
        return ((lt - eps_n) <= target) & (target <= (le + eps_n))

    per = counts.select(
        "o_orderpriority",
        "n_rows",
        *[
            ok(
                F.col(f"g_lt{int(p*100)}"),
                F.col(f"g_le{int(p*100)}"),
                F.col("n_rows"),
                p,
            ).alias(f"p{int(p*100)}_ok")
            for p in KLL_PROBS
        ],
    )
    tot = counts.agg(
        F.sum("n_rows").alias("n_rows"),
        *[
            s
            for p in KLL_PROBS
            for s in (
                F.sum(f"a_lt{int(p*100)}").alias(f"a_lt{int(p*100)}"),
                F.sum(f"a_le{int(p*100)}").alias(f"a_le{int(p*100)}"),
            )
        ],
    )
    allrow = tot.select(
        F.lit("__all__").alias("o_orderpriority"),
        "n_rows",
        *[
            ok(
                F.col(f"a_lt{int(p*100)}"),
                F.col(f"a_le{int(p*100)}"),
                F.col("n_rows"),
                p,
            ).alias(f"p{int(p*100)}_ok")
            for p in KLL_PROBS
        ],
    )
    return per.unionByName(allrow)


def skyline_2d(points: DataFrame, x: str, y: str) -> DataFrame:
    """Distinct Pareto-minimal (x, y) pairs of any frame under joint
    minimization — the reusable skyline kernel (property-tested on
    synthetic frames in tests/test_properties.py).

    After collapsing to per-x minima (distinct x), a point is on the
    frontier iff its y is strictly below the prefix-minimum of every
    smaller x. A naive unpartitioned running-min window funnels the
    distinct-x table through one task, so the prefix minimum is the
    range-exchange prefix scan (``functions.scan.prefix_scan``); the
    empty prefix (null) keeps the smallest x with no sentinel."""
    g = points.groupBy(F.col(x).alias("x")).agg(F.min(y).alias("ymin"))
    pm = prefix_scan(g, ["x"], "min", "ymin", exclusive=True)
    return (
        pm.frame.where(pm.value.isNull() | (F.col("ymin") < pm.value))
        .select(F.col("x").alias(x), F.col("ymin").alias(y))
    )


def q_skyline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global 2-D skyline (Pareto frontier) of parts under joint
    minimization of (p_retailprice, p_size): every part for which no
    other part is <= on both axes and < on one — the SKYLINE OF
    operator of Borzsony/Kossmann/Stocker 2001, as a scale-safe
    composition (kernel: skyline_2d — the textbook dominance
    formulation is an O(n²) self-join; the range-exchange prefix-min
    buys it back in two key-ranged shuffles of the distinct-x table,
    nothing data-sized on one task; the frontier itself is tiny by
    construction since y strictly improves at every kept row)."""
    part = load_table(spark, sf_dir, "part").select(
        F.col("p_retailprice").alias("price"), F.col("p_size").alias("size")
    )
    sk = skyline_2d(part, "price", "size")
    return sk.select("price", F.col("size").cast("long").alias("size"))


# --- exact distributed order statistics (round 6) -------------------------

ORDER_STAT_BUCKETS = 1024


def exact_kth_cents(df: DataFrame, cents_col: str, k: int) -> int:
    """Exact k-th smallest (1-based) of an integer column by iterative
    histogram narrowing — the classic distributed SELECTION algorithm
    (Blum et al. medians-of-medians lineage, histogram form): no
    global sort, no data-sized collect.

    Each round scans only rows inside the current [lo, hi] candidate
    range (a pushdown-friendly BETWEEN filter over the persisted
    frame), buckets them into ≤ ORDER_STAT_BUCKETS equal-width integer
    cells with a partial-aggregating groupBy, and collects ONE
    ≤1024-row histogram (bounded driver metadata, the codebook-collect
    convention) to pick the cell containing rank k. The range shrinks
    ≥1024× per round, so convergence is ⌈log₁₀₂₄(range)⌉ scans (≤3 for
    cent-scale money) regardless of row count — at 100 TB this is 3
    column-pruned scans and 3 KB of driver traffic, where a global
    sort would be a full-data range exchange."""
    row = df.agg(
        F.min(cents_col).alias("lo"), F.max(cents_col).alias("hi")
    ).first()
    lo, hi = int(row["lo"]), int(row["hi"])
    c = F.col(cents_col)
    while hi > lo:
        width = hi - lo + 1
        nb = min(ORDER_STAT_BUCKETS, width)
        bucket = ((c - F.lit(lo)) * nb / F.lit(width)).cast("long")
        hist = (
            df.where(c.between(lo, hi))
            .groupBy(bucket.alias("b"))
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()  # bounded: ≤ ORDER_STAT_BUCKETS rows
        )
        counts = {int(r["b"]): int(r["n"]) for r in hist}
        cum = 0
        for b in range(nb):
            n = counts.get(b, 0)
            if cum + n >= k:
                k -= cum
                # invert floor bucketing: v lands in cell b iff
                # (v-lo)*nb // width == b iff
                # v-lo ∈ [⌈b·width/nb⌉, ⌈(b+1)·width/nb⌉ - 1]
                lo_b = lo + (b * width + nb - 1) // nb
                hi_b = lo + ((b + 1) * width + nb - 1) // nb - 1
                lo, hi = max(lo, lo_b), min(hi, hi_b)
                break
            cum += n
    return lo


def q_order_stat(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact global median and p90 of l_extendedprice WITHOUT a global
    sort: iterative-histogram distributed selection over the price in
    integer cents. Emits (stat_name, k, value_cents) — all-BIGINT, so
    the row is engine-exact and hash-verified against the oracle's
    ROW_NUMBER order statistic (ranks: lower median k=(N+1)//2, p90
    k=⌈0.9N⌉, both on the 1-based ascending order)."""
    from ..functions.numeric import money_dec

    li = load_table(spark, sf_dir, "lineitem").select(
        (money_dec("l_extendedprice") * 100)
        .cast("long")
        .alias("cents")
    ).persist(StorageLevel.MEMORY_AND_DISK)
    n = li.count()
    stats = [
        ("p50", (n + 1) // 2),
        ("p90", (9 * n + 9) // 10),
    ]
    # The two selections are independent driver-paced job chains over
    # the same persisted frame; running them from two threads lets each
    # round's tasks back-fill the other's stragglers (guide §2.6
    # overlap-independent-jobs) — each selection is deterministic, so
    # the result rows are unchanged.
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=2) as pool:
        vals = list(
            pool.map(
                lambda s: exact_kth_cents(li, "cents", s[1]), stats
            )
        )
    rows = [
        (name, k, v) for (name, k), v in zip(stats, vals)
    ]
    li.unpersist()
    return spark.createDataFrame(
        rows, "stat_name string, k long, value_cents long"
    ).orderBy("stat_name")


# --- distributed statistics: sufficient-statistics regression -------------


def q_linreg_ols(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped simple linear regression (OLS) of extended price on
    quantity per (l_returnflag, l_linestatus): slope, intercept, r2 via
    SUFFICIENT STATISTICS — the canonical distributed-ML aggregation
    pattern (one partial-aggregating scan computes n, Σx, Σy, Σxy,
    Σx², Σy² map-side; only O(groups) rows ever reach the exchange).
    This is how closed-form fits run at 100 TB: the fact table is
    scanned once, the normal equations are solved on the reduced
    statistics — no iteration, no driver-side data.

    Determinism convention: x and y are routed to exact integer cents
    (DECIMAL(18,2)·100 → LONG), the five sums are exact (LONG /
    DECIMAL(38,0) — addition is associative), and the closed-form
    combination n·Σxy − Σx·Σy etc. happens in DECIMAL(38,0) (exact at
    these magnitudes; the scale-0 cap never truncates). Only the final
    slope/intercept/r2 are DOUBLE, computed with the identical operation
    sequence as the DuckDB twin (correctly-rounded decimal→double casts,
    then one division each) — bit-identical cross-engine. The ×100
    scaling of x and y cancels in slope and r2; intercept divides by
    100·n explicitly.
    """
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        "l_linestatus",
        fixed_long("l_quantity", 2).alias("xi"),
        fixed_long("l_extendedprice", 2).alias("yi"),
    )
    stats = li.groupBy("l_returnflag", "l_linestatus").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("xi").alias("sx"),
        F.sum("yi").alias("sy"),
        # per-term products fit LONG (x ≤ 5e3·100, y ≤ 1e5·100 cents),
        # but their SUMs can pass 2^63 at sf ≥ 1 → decimal accumulators
        F.sum(long_dec(F.col("xi") * F.col("xi"))).alias("sxx"),
        F.sum(long_dec(F.col("xi") * F.col("yi"))).alias("sxy"),
        F.sum(long_dec(F.col("yi") * F.col("yi"))).alias("syy"),
    )
    num = comoment("n", "sxy", "sx", "sy")
    den = comoment("n", "sxx", "sx", "sx")
    ssy = comoment("n", "syy", "sy", "sy")
    slope = num.cast("double") / den.cast("double")
    intercept = (
        F.col("sy").cast("double") - slope * F.col("sx").cast("double")
    ) / (F.col("n").cast("double") * F.lit(100.0))
    r2 = (num.cast("double") * num.cast("double")) / (
        den.cast("double") * ssy.cast("double")
    )
    return stats.select(
        "l_returnflag",
        "l_linestatus",
        F.col("n").alias("n_rows"),
        slope.alias("slope"),
        intercept.alias("intercept"),
        r2.alias("r2"),
    )


# --- record linkage: blocked fuzzy entity matching ------------------------


def _wildcard_keys(sfx, n: int = 9):
    """The 9 position-masked variants of a 9-char string ("wildcard
    keys"): two equal-length strings are Hamming ≤ 1 iff they share the
    key with the differing position masked (or every key, when equal)."""
    return F.array(
        *[
            F.concat(
                F.substring(sfx, 1, i),
                F.lit("*"),
                F.substring(sfx, i + 2, n - i - 1),
            )
            for i in range(n)
        ]
    )


def q_entity_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked fuzzy record linkage between the customer and supplier
    name registries: pairs whose 9-digit name suffixes are within
    Levenshtein distance 1.

    The scale-correct shape is WILDCARD-KEY blocking (the FastSS /
    deletion-neighborhood technique), never all-pairs: for equal-
    length strings, edit distance ≤ 1 forces a single substitution (an
    insert or delete would change the length), so two suffixes match
    iff they share one of the 9 position-masked variants ("00*000042"
    …) — each side emits 9 keys, candidates come from ONE equi-join on
    the masked key, and the exact ``levenshtein`` verify runs only on
    candidates. Every bucket pins 8 of 9 positions, so bucket size is
    bounded by alphabet size regardless of key-space skew — unlike
    substring-half blocking (first-5 OR last-4), whose prefix block
    DEGENERATES on low-entropy prefixes (these registries share
    leading zeros: at sf0.1 the "00000"/"00001" prefix blocks put 10 M
    pairs through the verify, 10.8 s and quadratic-at-scale — the r07c
    bench caught it; the wildcard join is O(9n) and verified
    identical). At 100 TB both sides hash-shuffle on the masked key
    (the supplier side additionally qualifies for a broadcast).
    """
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", F.substring("c_name", 10, 9).alias("c_sfx")
    )
    supp = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", F.substring("s_name", 10, 9).alias("s_sfx")
    )
    c = cust.select(
        "c_custkey", "c_sfx", F.explode(_wildcard_keys("c_sfx")).alias("wk")
    )
    s = supp.select(
        "s_suppkey", "s_sfx", F.explode(_wildcard_keys("s_sfx")).alias("wk")
    )
    cand = (
        c.join(F.broadcast(s), "wk")
        .select("c_custkey", "c_sfx", "s_suppkey", "s_sfx")
        .distinct()
    )
    return cand.where(
        F.levenshtein("c_sfx", "s_sfx") <= 1
    ).select(
        "c_custkey",
        "s_suppkey",
        F.levenshtein("c_sfx", "s_sfx").cast("int").alias("edit_dist"),
    )


def q_corr_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Pearson correlation matrix over the four lineitem
    measures (quantity, extendedprice, discount, tax) from ONE
    partial-aggregating scan: the 15 sufficient statistics (n, 4 sums,
    4 sums of squares, 6 cross-sums) reduce map-side to a single row;
    all 6 correlations are closed-form selections over it. This is the
    one-pass covariance/corr pattern feature stores run at 100 TB —
    the fact table is never re-scanned per pair, and nothing but one
    stat row crosses the exchange.

    Determinism: inputs route to exact integer units (2-decimal
    DECIMAL·100 → LONG), every sufficient statistic is exact
    (DECIMAL(20,0)-accumulated products), the n·Σxy − Σx·Σy
    combinations are exact DECIMAL(38,0), and each corr is the
    identical double sequence both engines run: num / sqrt(denx·deny)
    over correctly-rounded decimal→double casts.
    """
    li = load_table(spark, sf_dir, "lineitem").select(
        fixed_long("l_quantity", 2).alias("q"),
        fixed_long("l_extendedprice", 2).alias("p"),
        rate_long("l_discount").alias("dd"),
        rate_long("l_tax").alias("t"),
    )
    cols = ["q", "p", "dd", "t"]
    names = {
        "q": "quantity",
        "p": "extendedprice",
        "dd": "discount",
        "t": "tax",
    }
    aggs = [F.count(F.lit(1)).alias("n")]
    aggs += [F.sum(c).alias(f"s_{c}") for c in cols]
    pairs = [
        (a, b) for i, a in enumerate(cols) for b in cols[i:]
    ]  # includes (a, a) → the 4 squares + 6 cross products
    aggs += [
        F.sum(long_dec(F.col(a) * F.col(b))).alias(f"ss_{a}_{b}")
        for a, b in pairs
    ]
    st = li.agg(*aggs)

    def corr(a: str, b: str):
        num = comoment("n", f"ss_{a}_{b}", f"s_{a}", f"s_{b}")
        dena = comoment("n", f"ss_{a}_{a}", f"s_{a}", f"s_{a}")
        denb = comoment("n", f"ss_{b}_{b}", f"s_{b}", f"s_{b}")
        return num.cast("double") / F.sqrt(
            dena.cast("double") * denb.cast("double")
        )

    exprs = []
    for i, a in enumerate(cols):
        for b in cols[i + 1 :]:
            exprs.append(
                F.struct(
                    F.lit(names[a]).alias("var_x"),
                    F.lit(names[b]).alias("var_y"),
                    corr(a, b).alias("corr_xy"),
                )
            )
    return (
        st.select(F.explode(F.array(*exprs)).alias("s"), "n")
        .select("s.var_x", "s.var_y", "s.corr_xy", F.col("n").alias("n_rows"))
    )


# --- Bloom-filter-accelerated semi join ------------------------------------

BLOOM_M = 1 << 20  # bits in the filter (128 KiB bitmap)
BLOOM_K = 4  # hash probes per key


def _bloom_pos(key, i: int):
    """Probe position i for a join key — the repo's md5-prefix integer
    convention (15 hex chars < 2^60, always non-negative), replayable
    in the oracle as ('0x' || substr(md5(...), 1, 15))::BIGINT % M."""
    return md5_int(F.concat(key.cast("string"), F.lit(f":{i}")), 15) % BLOOM_M


def bloom_probe_report(
    spark: SparkSession, sf_dir: str, sel: DataFrame, bitmap: list[int]
) -> DataFrame:
    """The probe side of ``q_bloom_semi_join``: broadcast the M/64-word
    ``bitmap``, test every lineitem key's k md5 probe bits inside
    codegen, verify survivors exactly against the selective keys
    ``sel`` (o_orderkey), and count probe / bloom-pass / match /
    false-positive rows per return flag. The plan twin
    (``plans.analysis.bloom_semi_join_plan``) passes an all-zeros
    bitmap to get the same plan without building the filter."""
    bm = spark.createDataFrame(
        [(bitmap,)], "bm: array<long>"
    )  # 16384 longs → broadcast to every probe task

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_returnflag"
    )
    probe = li.crossJoin(F.broadcast(bm))
    bit_ok = None
    for i in range(BLOOM_K):
        p = _bloom_pos(F.col("l_orderkey"), i)
        t = (
            F.element_at("bm", (p / 64).cast("int") + 1).bitwiseAND(
                F.call_function(
                    "shiftleft", F.lit(1).cast("long"), (p % 64).cast("int")
                )
            )
            != 0
        )
        bit_ok = t if bit_ok is None else (bit_ok & t)
    passed = probe.select(
        "l_orderkey", "l_returnflag", bit_ok.cast("int").alias("bloom_pass")
    )
    matched = passed.join(
        F.broadcast(sel.withColumn("is_match", F.lit(1))),
        passed.l_orderkey == F.col("o_orderkey"),
        "left",
    ).select(
        "l_returnflag",
        "bloom_pass",
        F.coalesce("is_match", F.lit(0)).alias("is_match"),
    )
    return matched.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n_probe"),
        F.sum("bloom_pass").alias("n_bloom_pass"),
        F.sum("is_match").alias("n_match"),
        (F.sum("bloom_pass") - F.sum("is_match")).alias("n_false_pos"),
    )


def q_bloom_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-prefiltered semi join — THE shuffle-avoidance pattern for
    selective joins at 100 TB: build a Bloom filter over the selective
    side's keys (urgent orders), broadcast the 128 KiB bitmap, prune
    the probe side MAP-SIDE (k md5 probes + bit tests, all inside
    codegen), and only then run the exact semi join on survivors — so
    the shuffle carries the bloom-surviving fraction instead of the
    full fact table. Spark's AQE injects this automatically for large
    plans (runtime bloom filter); this operator makes the mechanism
    explicit, DETERMINISTIC (md5-derived positions, not engine-private
    hashing), and cross-engine verifiable.

    Output per return flag: probe rows, bloom-pass rows, exact-match
    rows, and false positives (pass − match) — the oracle replays the
    identical filter from the same md5 arithmetic, so the hash match
    verifies the BLOOM ITSELF (every bit position and every probe),
    not just the final join.

    Bounded collect: the bitmap is FOLDED JVM-SIDE — groupBy(pos >> 6) +
    bit_or word aggregate, with map-side partial merge — so the driver
    collects at most M/64 = 16384
    (word, bits) rows (~256 KiB) instead of up to M = 2^20 distinct
    positions. Driver-resident BY DESIGN, like the IVF centroids / PQ
    codebooks: a bloom filter IS bounded index metadata.
    """
    orders = load_table(spark, sf_dir, "orders")
    sel = orders.where(F.col("o_orderpriority") == "1-URGENT").select(
        "o_orderkey"
    )
    word_rows = (
        sel.select(
            F.explode(
                F.array(
                    *[_bloom_pos(F.col("o_orderkey"), i) for i in range(BLOOM_K)]
                )
            ).alias("pos")
        )
        .select(
            F.shiftright("pos", 6).alias("word"),
            # JVM shiftleft(1L, 63) is already the signed-64 bit
            # pattern, so bit_or accumulates exactly the long words
            # the probe side element_at/bitwiseAND expects — no
            # Python-side wrap needed.
            F.call_function(
                "shiftleft", F.lit(1).cast("long"), (F.col("pos") % 64).cast("int")
            ).alias("bit"),
        )
        .groupBy("word")
        .agg(F.bit_or("bit").alias("bits"))
        .collect()
    )
    bitmap = [0] * (BLOOM_M // 64)
    for r in word_rows:
        bitmap[r["word"]] = r["bits"]
    return bloom_probe_report(spark, sf_dir, sel, bitmap)

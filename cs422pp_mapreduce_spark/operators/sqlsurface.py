"""spark.sql surface: queries expressed as SQL over registered views.

The reference has no query language at all (the job is hardcoded into
MapFunction, /root/reference/thread_pool.cc:76-110); this engine's third
entry point (SURVEY.md §3.5) is full SQL through the same Catalyst
pipeline as the DataFrame API. These queries exercise the SQL-only
surface: GROUPING SETS + grouping_id, correlated/scalar subqueries,
CTEs, and a multi-granularity "hypertable rollup" over event time.

Determinism conventions are identical to the DataFrame side (decimal-
routed sums, BIGINT casts).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..functions.numeric import (
    DISC_PRICE_SQL,
    spark_exact_sum_over_sql,
    spark_exact_sum_sql,
)
from ..sources.catalog import register_views


def _sql(spark: SparkSession, sf_dir: str, sql: str) -> DataFrame:
    register_views(spark, sf_dir)
    return spark.sql(sql)


def q_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS with grouping_id — finer control than
    rollup/cube, one shuffle for all sets."""
    return _sql(
        spark,
        sf_dir,
        f"""
        SELECT l_returnflag, l_linestatus,
               CAST(grouping_id(l_returnflag, l_linestatus) AS BIGINT)
                   AS gid,
               COUNT(*) AS n_rows,
               {spark_exact_sum_sql('l_quantity', 2)} AS sum_qty
        FROM lineitem
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus),
                                (l_returnflag, l_linestatus))
        """,
    )


def q_sql_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar subquery threshold + IN-subquery membership. The
    threshold avg is decimal-routed so the comparison boundary is
    bit-identical across engines."""
    return _sql(
        spark,
        sf_dir,
        f"""
        SELECT o_orderkey, o_custkey, o_totalprice
        FROM orders
        WHERE o_totalprice > (
                SELECT {spark_exact_sum_sql('o_totalprice', 2)} / COUNT(*)
                FROM orders)
          AND o_custkey IN (SELECT c_custkey FROM customer
                            WHERE c_mktsegment = 'BUILDING')
        """,
    )


def q_sql_cte_topnation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CTE pipeline: revenue per nation, then each nation's share of
    the total — mixes a window over an aggregate with a CTE."""
    return _sql(
        spark,
        sf_dir,
        f"""
        WITH rev AS (
            SELECT n_name,
                   {spark_exact_sum_sql(DISC_PRICE_SQL, 4)} AS revenue
            FROM lineitem
            JOIN orders   ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            JOIN nation   ON c_nationkey = n_nationkey
            GROUP BY n_name
        )
        SELECT n_name, revenue,
               revenue / {spark_exact_sum_over_sql('revenue', '()', 4)}
                   AS revenue_share
        FROM rev
        """,
    )


def q_event_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style multi-granularity rollup: hourly and daily
    continuous aggregates of the event stream in ONE pass via GROUPING
    SETS over truncated timestamps (the batch form of a timeseries
    DB's cascaded rollup)."""
    return _sql(
        spark,
        sf_dir,
        f"""
        SELECT date_trunc('hour', ts) AS bucket_hour,
               date_trunc('day', ts)  AS bucket_day,
               event_type,
               COUNT(*) AS n_events,
               {spark_exact_sum_sql('value', 2)} AS sum_value
        FROM events
        GROUP BY GROUPING SETS
            ((date_trunc('hour', ts), event_type),
             (date_trunc('day', ts), event_type))
        """,
    )


def q_pivot_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot order counts by status per priority (DataFrame pivot with
    a fixed value list compiles to one pass of conditional aggregates —
    the same CASE-WHEN plan the SQL oracle spells out)."""
    from pyspark.sql import functions as F

    from ..sources.catalog import load_table

    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .agg(F.count(F.lit(1)))
        .select(
            "o_orderpriority",
            *[F.coalesce(F.col(s), F.lit(0)).alias(f"n_{s}") for s in "FOP"],
        )
    )

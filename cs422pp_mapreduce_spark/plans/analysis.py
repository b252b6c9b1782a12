"""Analysis-only plan twins for queries that execute work at
plan-BUILD time.

The plan-audit / dtype-sweep tools call every registered query builder
to get a DataFrame whose plan and schema they inspect WITHOUT running
it. Two classes of queries break that assumption:

* streaming contract queries — calling them runs a real streaming job
  and returns a memory-sink scan that hides the aggregation plan;
* queries that run bounded driver jobs while building (order_stat,
  bloom_semi_join, pca_power) — calling them pays real scans eagerly,
  and order_stat returns a trivial ``LocalTableScan``.

``analysis_plan_builders()`` maps each such query to a lazy builder that
(a) has the exact output schema of the real query (the dtype sweep
compares it column-by-column against the oracle) and (b) exposes the
representative distributed plan shape (the audit scans it for
anti-patterns).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def order_stat_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lazy twin of ``q_order_stat`` (which is driver-paced: the real
    query runs a count plus ≤3 bounded histogram collects per statistic
    at build time, so its returned plan is a LocalTableScan).

    This twin builds ONE representative selection round — the
    column-pruned cents scan feeding a ≤ORDER_STAT_BUCKETS-cell
    partial-aggregating histogram — then folds the histogram into the
    real output schema (stat_name string, k long, value_cents long)
    via a second aggregate + a 2-element explode, all without a single
    driver job. The audit sees the plan shape that dominates the real
    query's cost; the dtype sweep sees the exact driver schema.
    """
    from ..functions.numeric import money_dec
    from ..operators.relational import ORDER_STAT_BUCKETS
    from ..sources.catalog import load_table

    cents = (
        load_table(spark, sf_dir, "lineitem")
        .select((money_dec("l_extendedprice") * 100).cast("long").alias("cents"))
    )
    hist = (
        cents.groupBy((F.col("cents") % ORDER_STAT_BUCKETS).alias("b"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    summ = hist.agg(
        F.sum("n").alias("n_rows"), F.min("b").alias("bmin")
    )
    stat = lambda name, k: F.struct(  # noqa: E731 — local plan shaping
        F.lit(name).alias("stat_name"),
        k.cast("long").alias("k"),
        F.col("bmin").cast("long").alias("value_cents"),
    )
    n = F.col("n_rows")
    return (
        summ.select(
            F.explode(
                F.array(
                    stat("p50", (n + 1) / 2),
                    stat("p90", (9 * n + 9) / 10),
                )
            ).alias("s")
        )
        .select("s.*")
        .orderBy("stat_name")
    )


def bloom_semi_join_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lazy twin of ``q_bloom_semi_join`` (which builds the broadcast
    bloom bitmap with one bounded JVM-folded word-aggregate collect —
    <=16384 (word, bits) rows — at build time). The twin hands the
    query's own probe side an all-zeros bitmap: same plan, same output
    schema, zero driver jobs."""
    from ..operators.relational import BLOOM_M, bloom_probe_report
    from ..sources.catalog import load_table

    sel = (
        load_table(spark, sf_dir, "orders")
        .where(F.col("o_orderpriority") == "1-URGENT")
        .select("o_orderkey")
    )
    return bloom_probe_report(spark, sf_dir, sel, [0] * (BLOOM_M // 64))


def pca_power_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lazy twin of ``q_pca_power`` (which collects the bounded d²-row
    covariance at build time and iterates on the driver). The twin
    exposes the REAL distributed plan — the double-posexplode centered
    covariance build, the query's entire corpus-scale cost — folded
    into the exact output schema (pos int, v long, rayleigh double)
    without a driver job."""
    from ..operators.similarity import centered_cov_ints

    cov = centered_cov_ints(spark, sf_dir)
    summ = cov.agg(
        F.min("i").alias("p0"), F.count(F.lit(1)).alias("cnt")
    )
    return summ.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("p0").cast("int").alias("pos"),
                    F.col("cnt").cast("long").alias("v"),
                    F.lit(0.0).alias("rayleigh"),
                )
            )
        ).alias("s")
    ).select("s.*")


def analysis_plan_builders() -> dict:
    """Full name → lazy-builder map for the analysis tools: one twin
    per streaming contract query (every ``stream_*`` query, checked by
    tests/test_plan_twins.py) plus one per query that runs driver jobs
    while building (``order_stat``, ``bloom_semi_join``, ``pca_power``).
    A query that builds lazily needs no twin: the tools read its own
    plan."""
    from ..streaming.dedup import stream_dedup_plan
    from ..streaming.events import (
        stream_event_session_plan,
        stream_event_tumbling_plan,
        stream_late_audit_plan,
        stream_sliding_plan,
    )
    from ..streaming.joins import stream_enrich_plan, stream_interval_join_plan
    from ..streaming.quality import stream_quality_gate_plan
    from ..streaming.stateful import (
        stream_cusum_plan,
        stream_ewma_plan,
        stream_profile_plan,
        stream_twap_plan,
    )
    from ..streaming.wordcount import stream_wordcount_plan

    return {
        "stream_event_tumbling": stream_event_tumbling_plan,
        "stream_event_session": stream_event_session_plan,
        "stream_sliding": stream_sliding_plan,
        # the recovery and upsert queries run the tumbling aggregation
        # (same _tumbling_agg over a file stream) through a restart
        # sequence; mapping them to its plan keeps the analysis tools
        # from executing that sequence
        "stream_event_recovery": stream_event_tumbling_plan,
        "stream_foreach_upsert": stream_event_tumbling_plan,
        "stream_late_audit": stream_late_audit_plan,
        "stream_dedup": stream_dedup_plan,
        "stream_interval_join": stream_interval_join_plan,
        "stream_enrich": stream_enrich_plan,
        "stream_profile": stream_profile_plan,
        "stream_ewma": stream_ewma_plan,
        "stream_twap": stream_twap_plan,
        "stream_cusum": stream_cusum_plan,
        "stream_wordcount": stream_wordcount_plan,
        "stream_quality_gate": stream_quality_gate_plan,
        "order_stat": order_stat_plan,
        "bloom_semi_join": bloom_semi_join_plan,
        "pca_power": pca_power_plan,
    }

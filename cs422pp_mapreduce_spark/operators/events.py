"""Event-time window operators over the ``events`` stream table.

The reference is pure batch with a hard map→reduce barrier
(/root/reference/mapreduce.cc:200); it has no notion of time. These
operators add the event-time surface a stream-analytics engine needs —
written against *event-time semantics* (batch DataFrames here), so the
Structured Streaming variants (streaming/events.py) are the same
expressions behind ``readStream`` + ``withWatermark``.

Scale notes:
- tumbling/sliding windows are pure groupBy aggregations: partial→final
  HashAggregate, shuffle volume O(windows × groups), not O(events);
- sliding windows multiply input by window/slide (2× here) — Spark's
  ``window()`` generates assignments JVM-side, no explode in Python;
- session windows are the one genuinely order-sensitive operator: one
  shuffle on user_id, per-partition sort by ts, then lag/cumsum — the
  gaps-and-islands plan. ``F.session_window`` compiles to the same
  shape; both are provided and agree (tests assert it).
- value sums are decimal-routed (functions/numeric.py) so results don't
  depend on accumulation order.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.numeric import (
    comoment,
    exact_int,
    exact_sum,
    exact_sum_over,
    exact_sum_wide,
    fixed_long,
    long_dec,
)
from ..functions.scan import prefix_scan
from ..session import scratch_persist
from ..sources.catalog import load_table
from ..sources.staging import sf_tag, write_once
from .relational import HLL_BOUND_REL


def q_event_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-hour tumbling windows per event type: count + exact value sum."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.window("ts", "1 hour").alias("win"), "event_type"
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            exact_sum("value", 2, "sum_value"),
        )
        .select(
            F.col("win.start").alias("win_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def q_event_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-hour windows sliding every 30 minutes (each event lands in 2)."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour", "30 minutes").alias("win"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            exact_sum("value", 2, "sum_value"),
        )
        .select(F.col("win.start").alias("win_start"), "n_events", "sum_value")
    )


def q_event_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user session windows, 30-minute inactivity gap — explicit
    gaps-and-islands formulation (lag → new-session flag → running sum
    as session id → aggregate). Exactly the oracle's SQL shape, and
    exactly what ``session_window`` computes underneath."""
    ev = load_table(spark, sf_dir, "events")
    by_ts = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # microsecond gap arithmetic — matches the oracle's epoch_us and
    # session_window's native semantics exactly; a whole-second cast
    # would misclassify gaps in (1800, 1801) s.
    ts_us = F.unix_micros(F.col("ts"))
    gap = ts_us - F.lag(ts_us).over(by_ts)
    # Strict >: session_window's merge rule is INCLUSIVE at the boundary
    # (verified empirically on Spark 4.1 — an exactly-30-minute gap
    # MERGES; only gap > 30 min splits). All four session formulations
    # (this one, q_event_session_native, the streaming twin, and the
    # DuckDB oracle) share this convention; the exact-boundary case is
    # pinned by tests/test_events_streaming.py::test_session_gap_boundary.
    new_sess = F.when(gap.isNull() | (gap > 30 * 60 * 1_000_000), 1).otherwise(0)
    sess_id = F.sum(new_sess).over(
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        ev.select("user_id", "ts", "event_id", "value", sess_id.alias("sess_id"))
        .groupBy("user_id", "sess_id")
        .agg(
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
            F.count(F.lit(1)).alias("n_events"),
            exact_sum("value", 2, "sum_value"),
        )
        .drop("sess_id")
    )


def q_event_window_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event trailing 30-minute window per user (RANGE frame over
    event-time, not ROWS): running decimal-exact sum + count of events
    in (ts − 30 min, ts]. The range frame is the event-time analog of a
    sliding window evaluated AT every event rather than on a fixed
    grid; one shuffle on user_id, per-partition sort, no self-join —
    the plan a naive events×events interval join would cost far more
    to produce (that shape exists as range_join for comparison)."""
    ev = load_table(spark, sf_dir, "events")
    ts_us = F.unix_micros(F.col("ts"))
    w = (
        Window.partitionBy("user_id")
        .orderBy(ts_us)
        .rangeBetween(-30 * 60 * 1_000_000, 0)
    )
    return ev.select(
        "event_id",
        "user_id",
        "ts",
        exact_sum_over("value", w, 2).alias("trail_sum"),
        F.count(F.lit(1)).over(w).alias("trail_n"),
    )


def q_event_session_native(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same sessions via Spark's built-in ``session_window`` (the form
    that swaps directly into Structured Streaming). session_window's
    end is last_event+gap, so session bounds are re-derived as
    min/max(ts) to match the explicit formulation."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.session_window("ts", "30 minutes").alias("win"), "user_id"
        )
        .agg(
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
            F.count(F.lit(1)).alias("n_events"),
            exact_sum("value", 2, "sum_value"),
        )
        .select(
            "user_id", "session_start", "session_end", "n_events", "sum_value"
        )
    )


def q_rolling_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-7-day distinct users per (event_type, day) via
    PRE-AGGREGATED mergeable HLL sketches — the sketch-windowing
    pattern that makes sliding distincts tractable at 100 TB: the raw
    events are scanned ONCE into per-(type, day) sketches (kilobytes
    each), and every trailing window is answered by merging ≤7
    sketches — versus q_rolling_active_users' exact contribution
    explode whose shuffle is O(user-days × 7). At warehouse scale the
    daily sketch table is materialized once and every dashboard
    window (7/28/90-day) reads it; this query demonstrates the
    rollup end-to-end.

    Shape: one partial→final sketch aggregate over (type, day); the
    window is an equi-join on event_type with a bounded day-range
    filter over the O(types × days) SKETCH table (fan-out ≤ 7, never
    touching raw events again); hll_union_agg merges per anchor day.

    HASH-VERIFIED bound contract: sketch estimates are engine-specific
    (the OLD approx_users_7d shape was rows-only), so the driver row
    ships the EXACT trailing
    distinct next to ``within_bound`` = |merged-sketch estimate −
    exact| ≤ 5% of exact (3σ at lgConfigK=12 ≈ 4.9%; the per-window
    sets here are small enough that the sketch is usually in exact
    sparse mode). The exact side reuses q_rolling_active_users'
    contribution shape — distinct (type, user, day) joined to the
    anchor days with ≤7 fan-out — and is the verification half: at
    100 TB production reads the merged sketches alone, the exact
    explode exists so the DRIVER (not just pytest) proves every
    windowed union honors the bound."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_type", "user_id", F.to_date("ts").alias("day")
    )
    daily = ev.groupBy("event_type", "day").agg(
        F.hll_sketch_agg("user_id").alias("sk"),
        F.count(F.lit(1)).alias("n_events"),
    )
    anchors = daily.select(
        F.col("event_type").alias("et"), F.col("day").alias("d")
    )
    contrib = daily.join(
        anchors,
        (F.col("event_type") == F.col("et"))
        & (F.col("day") <= F.col("d"))
        & (F.col("day") >= F.date_sub(F.col("d"), 6)),
    )
    approx = contrib.groupBy("event_type", "d").agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("approx_users_7d"),
        F.sum("n_events").alias("n_events_7d"),
    )
    user_days = ev.distinct()
    exact = (
        user_days.join(
            anchors,
            (F.col("event_type") == F.col("et"))
            & (F.col("day") <= F.col("d"))
            & (F.col("day") >= F.date_sub(F.col("d"), 6)),
        )
        .groupBy("event_type", "d")
        .agg(F.count_distinct("user_id").alias("exact_users_7d"))
    )
    return (
        approx.join(exact, ["event_type", "d"])
        .select(
            "event_type",
            F.col("d").cast("timestamp").alias("day"),
            "exact_users_7d",
            "n_events_7d",
            (
                F.abs(F.col("approx_users_7d") - F.col("exact_users_7d"))
                <= F.lit(HLL_BOUND_REL) * F.col("exact_users_7d")
            ).alias("within_bound"),
        )
    )


def q_rolling_active_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-7-day distinct active users per day (the DAU/WAU
    rollup), EXACT — via contribution explode, not window-distinct.

    COUNT(DISTINCT) over a sliding frame isn't supported by any
    engine's window path without buffering the full set per row; the
    scalable exact formulation is: collapse to distinct (user, day)
    [shuffle 1, volume O(user-days)], explode each into the ≤7 report
    days it contributes to (sequence — JVM-side, fan-out bounded by
    the window length), then count distinct users per report day
    [shuffle 2, volume O(user-days × 7)]. Both shuffles are on compact
    keys; nothing ever holds a per-window user set in memory. Report
    days are clamped to the observed range so counts near the edge
    reflect real data, not phantom future days."""
    ev = load_table(spark, sf_dir, "events")
    user_days = ev.select(
        "user_id", F.to_date("ts").alias("day")
    ).distinct()
    max_day = user_days.agg(F.max("day").alias("max_day"))
    contrib = user_days.crossJoin(F.broadcast(max_day)).select(
        "user_id",
        F.explode(
            F.sequence(
                "day",
                F.least(F.date_add("day", 6), F.col("max_day")),
                F.expr("INTERVAL 1 DAY"),
            )
        ).alias("report_day"),
    )
    return (
        contrib.groupBy("report_day")
        .agg(F.count_distinct("user_id").alias("active_users_7d"))
        .select(
            F.col("report_day").cast("timestamp").alias("report_day"),
            "active_users_7d",
        )
    )


def q_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered conversion funnel signup → click → purchase: per-user
    first-occurrence timestamps per step, then strict-order counts.

    The classic product-analytics operator: ONE conditional aggregation
    (min-if per step) collapses the event log to a row per user — no
    per-step self-joins, which at 100 TB would be three shuffles of the
    full log instead of one. NULL ordering does the step gating: a user
    missing a step yields NULL firsts, and NULL comparisons drop out of
    the sums in both engines identically."""
    ev = load_table(spark, sf_dir, "events")

    def first_ts(step: str):
        return F.min(F.when(F.col("event_type") == step, F.col("ts")))

    firsts = (
        ev.where(F.col("event_type").isin("signup", "click", "purchase"))
        .groupBy("user_id")
        .agg(
            first_ts("signup").alias("t_signup"),
            first_ts("click").alias("t_click"),
            first_ts("purchase").alias("t_purchase"),
        )
    )
    step2 = F.col("t_signup") < F.col("t_click")
    step3 = step2 & (F.col("t_click") < F.col("t_purchase"))
    return firsts.agg(
        F.count(F.lit(1)).alias("n_users"),
        F.sum(F.col("t_signup").isNotNull().cast("long")).alias("n_signup"),
        F.sum(step2.cast("long")).alias("n_signup_then_click"),
        F.sum(step3.cast("long")).alias("n_full_funnel"),
    )


def q_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regularized per-user hourly series: every hour between a user's
    first and last event exists in the output (the timescale/hypertable
    "gap fill"), with n_events = 0 for silent hours and sum_value
    carried forward from the last active hour.

    Shape: hourly aggregate (one shuffle) → per-user bounds from the
    AGGREGATE, not the raw events (grid generation touches rows-per-
    user-hour, not rows-per-event) → `sequence()` + explode builds the
    dense grid distributed (never a driver loop) → left join the
    aggregate back on (user, hour) → forward fill as last(ignorenulls)
    over an unbounded-preceding row frame. Grid size is bounded by
    users × hours-span; at 100 TB the span is what you'd partition the
    output by anyway."""
    ev = load_table(spark, sf_dir, "events")
    hourly = scratch_persist(
        ev.groupBy("user_id", F.date_trunc("hour", "ts").alias("hr"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            exact_sum("value", 2, "sum_value"),
        )
    )
    grid = (
        hourly.groupBy("user_id")
        .agg(F.min("hr").alias("hr0"), F.max("hr").alias("hr1"))
        .select(
            "user_id",
            F.explode(
                F.sequence("hr0", "hr1", F.expr("INTERVAL 1 HOUR"))
            ).alias("hr"),
        )
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("hr")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        grid.join(hourly, ["user_id", "hr"], "left")
        .select(
            "user_id",
            "hr",
            F.coalesce("n_events", F.lit(0)).alias("n_events"),
            F.last("sum_value", ignorenulls=True).over(w).alias("sum_value_ff"),
        )
    )


def q_outlier_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anomaly detection: events whose value is > 3σ from their
    type's mean (z-score on explicit decimal-routed moment sums — the
    same order-independent formulation as q_stats_agg, so mean/σ are
    bit-identical across partitionings and engines, making even the
    boundary of the outlier set deterministic).

    Per-type moments are one partial→final aggregate over O(types)
    groups, broadcast back onto the stream — two passes over events,
    no shuffle of the big side. The z column is rounded for hashing;
    the filter runs on the unrounded value."""
    ev = load_table(spark, sf_dir, "events")
    n = F.count(F.lit(1)).cast("double")
    s1 = exact_sum("value", 2)
    s2 = exact_sum_wide(F.col("value") * F.col("value"), 4)
    stats = ev.groupBy("event_type").agg(
        (s1 / n).alias("m"),
        F.sqrt((s2 - s1 * s1 / n) / (n - F.lit(1.0))).alias("sd"),
    )
    z = (F.col("value") - F.col("m")) / F.col("sd")
    return (
        ev.join(F.broadcast(stats), "event_type")
        .where(F.abs(F.col("value") - F.col("m")) > 3.0 * F.col("sd"))
        .select(
            "event_id",
            "event_type",
            "value",
            (F.round(z, 6) + 0.0).alias("z"),
        )
    )


def q_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly retention-cohort matrix: users grouped by first-seen week
    (their cohort), then per (cohort, week-offset) the distinct users
    still active — the classic product-analytics triangle chart.

    Shape: one distinct over (user, week) [first shuffle, output
    O(users × weeks)], per-user min week [second, O(users)], then the
    activity matrix joins users to their cohort ON user_id — a
    co-partitioned join (both sides were just shuffled by user_id, AQE
    sees the shared partitioning) — and aggregates to O(weeks²) cells.
    Cohort sizes re-aggregate the O(users) first-seen table, then
    broadcast onto the matrix. Nothing after the first distinct is
    proportional to raw events. retention is one double division —
    bit-stable."""
    ev = load_table(spark, sf_dir, "events")
    user_week = ev.select(
        "user_id", F.date_trunc("week", F.col("ts")).alias("week")
    ).distinct()
    first = user_week.groupBy("user_id").agg(F.min("week").alias("cohort_week"))
    offset = (
        (F.unix_timestamp("week") - F.unix_timestamp("cohort_week"))
        / F.lit(604800)
    ).cast("long")
    act = (
        user_week.join(first, "user_id")
        .groupBy("cohort_week", offset.alias("week_offset"))
        .agg(F.countDistinct("user_id").alias("n_active"))
    )
    size = first.groupBy("cohort_week").agg(
        F.count(F.lit(1)).alias("cohort_size")
    )
    return act.join(F.broadcast(size), "cohort_week").select(
        "cohort_week",
        "week_offset",
        "n_active",
        "cohort_size",
        (
            F.col("n_active").cast("double") / F.col("cohort_size").cast("double")
        ).alias("retention"),
    )


# --- partition-pruning contract -------------------------------------------

# Static one-week predicate over the fixtures' January-2024 event span.
# If a regenerated fixture moves the epoch the week simply matches fewer
# (possibly zero) rows — both engines compute it from ts, so the row can
# never diverge, only shrink.
PRUNE_DATE_LO = "2024-01-08"
PRUNE_DATE_HI = "2024-01-14"


def partitioned_events_path(spark: SparkSession, sf_dir: str) -> str:
    """Write (once per Spark application and dataset) a copy of
    ``events`` hive-partitioned by event_date via sinks.write_parquet —
    the layout a production event table actually lands in — and return
    its path. The copy is the fixture for the scan-side contract below,
    not part of the timed query."""
    from ..sources.sinks import write_parquet

    def write(out: str) -> None:
        ev = load_table(spark, sf_dir, "events")
        write_parquet(
            ev.withColumn("event_date", F.to_date("ts")),
            out,
            partition_cols=("event_date",),
        )

    return write_once(spark, f"events_by_date_{sf_tag(sf_dir)}", write)


def q_events_partitioned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partition-pruning contract query: scan the
    date-partitioned events copy with a static one-week date predicate
    and aggregate per (event_date, event_type).

    The point is the SCAN, not the aggregate: because event_date is a
    hive partition column, Catalyst turns the predicate into
    ``PartitionFilters`` — the listed directories outside the week are
    never opened, which at 100 TB is the difference between reading 7
    days and reading the whole table. The plan pin (PartitionFilters
    non-empty, pushed on event_date) lives in
    tests/test_sources_sinks.py::test_events_partitioned_prunes; the
    DuckDB oracle computes the same week from raw ts, so the row is
    hash-verified end-to-end over the partitioned copy.

    The partitioned copy itself is fixture prep written once per application
    (``partitioned_events_path``) — a real deployment writes the table
    date-partitioned up front; re-laying it out per query would time
    the sink, not the prune."""
    path = partitioned_events_path(spark, sf_dir)
    ev = spark.read.parquet(path)
    return (
        ev.where(
            (F.col("event_date") >= F.lit(PRUNE_DATE_LO).cast("date"))
            & (F.col("event_date") <= F.lit(PRUNE_DATE_HI).cast("date"))
        )
        .groupBy("event_date", "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            exact_sum("value", 2, "sum_value"),
        )
        .select(
            F.col("event_date").cast("timestamp").alias("event_date"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def q_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over per-user event
    journeys: for every (prev_type → next_type) pair, the transition
    count and conditional probability P(next | prev) — the user-journey
    / session-flow analysis behind funnel discovery and anomaly
    detection (a sudden jump in view→error probability is an incident
    signal).

    Plan: one lag() window per user ordered by (ts, event_id) — the
    event_id tiebreak makes adjacency deterministic under equal
    timestamps (the engine-wide unique-tiebreaker convention) — then a
    count over the ≤ |types|² pairs. The probability divides two exact
    BIGINTs (< 2^53) in one double op, so it is bit-identical across
    engines without any rounding convention. The per-prev totals come
    from a window over the ALREADY-AGGREGATED 25-row frame, not the
    events — no data-sized single-partition window. At 100 TB the only
    data-sized shuffle is the user_id hash partition the lag window
    needs, identical to q_event_session's."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (
        ev.select(
            "user_id",
            F.col("event_type").alias("next_type"),
            F.lag("event_type").over(w).alias("prev_type"),
        )
        .where(F.col("prev_type").isNotNull())
    )
    trans = pairs.groupBy("prev_type", "next_type").agg(
        F.count(F.lit(1)).alias("n_transitions")
    )
    per_prev = Window.partitionBy("prev_type")
    return trans.select(
        "prev_type",
        "next_type",
        "n_transitions",
        (
            F.col("n_transitions").cast("double")
            / F.sum("n_transitions").over(per_prev).cast("double")
        ).alias("prob"),
    )


# --- interval sweep-line: max concurrency ----------------------------------

CONCURRENCY_INTERVAL_MIN = 60  # each event occupies [ts, ts + 60 min)


def max_concurrent_per_day(ev: DataFrame, interval_min: int) -> DataFrame:
    """Sweep-line kernel: peak number of simultaneously-open half-open
    intervals [ts, ts+interval_min) per day, from an (event_id, ts)
    frame. Factored out of q_max_concurrency so boundary semantics
    (an interval ending exactly when another starts does NOT overlap
    it) can be pinned on hand-built frames in pytest."""
    bounds = ev.select(
        F.col("ts").alias("t"), F.lit(1).alias("delta"), "event_id"
    ).unionByName(
        ev.select(
            (F.col("ts") + F.expr(
                f"INTERVAL {interval_min} MINUTES"
            )).alias("t"),
            F.lit(-1).alias("delta"),
            "event_id",
        )
    )
    run = prefix_scan(bounds, ["t", "delta", "event_id"], "sum", "delta")
    running = run.frame.select(
        "t", "delta", run.value.cast("long").alias("open_now")
    )
    return (
        running.where(F.col("delta") == 1)
        .groupBy(F.date_trunc("day", "t").alias("day"))
        .agg(F.max("open_now").alias("max_concurrency"))
        .orderBy("day")
    )


def q_max_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak concurrency per day: treat every event as a half-open
    1-hour interval [ts, ts+1h) and report, for each day, the maximum
    number of simultaneously-open intervals — the sweep-line
    (interval-overlap counting) primitive behind concurrent-session
    capacity planning and license-peak audits.

    Algorithm: explode each interval into a +1 boundary at its start
    and a −1 boundary at its end, impose the global total order
    (t, delta, event_id) — delta −1 before +1 at the same instant, so
    an interval ending exactly when another starts never overlaps it
    (half-open semantics, pinned in the oracle by the same sort key —
    and the unique event_id tiebreak makes the running sum a pure
    function of the data — then take the global running sum of delta.
    Concurrency peaks only at +1 boundaries, so the per-day max is
    over start boundaries' running values.

    Scale shape: the running sum is the range-exchange prefix scan
    (``functions.scan.prefix_scan``), NEVER an unpartitioned
    data-sized window. One range exchange + one day aggregate;
    boundary rows are 2× events but only (t, delta) wide."""
    ev = load_table(spark, sf_dir, "events").select("event_id", "ts")
    return max_concurrent_per_day(ev, CONCURRENCY_INTERVAL_MIN)


# --- time-series resample: OHLC downsampling -------------------------------


def q_resample_ohlc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Downsample the event stream to per-(event_type, hour) OHLC bars
    — open/high/low/close of ``value`` plus volume — the
    candlestick-style resampling every monitoring and market-data
    pipeline runs.

    Open/close are deterministic SELECTIONS (first/last value by the
    unique order (ts, event_id)) — bit-exact across engines because no
    arithmetic touches the doubles; high/low are min/max (also
    selections); volume is a BIGINT count; the bar's value sum is
    decimal-routed per the repo determinism convention.

    Plan: ONE hash exchange on (event_type, hour) feeding both the
    row_number window (open/close picks) and the aggregate — the
    window's partition key equals the groupBy key, so Catalyst reuses
    the exchange and the whole query is a single shuffle."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_id",
        "ts",
        "event_type",
        "value",
        F.date_trunc("hour", "ts").alias("hour"),
    )
    w_open = Window.partitionBy("event_type", "hour").orderBy(
        "ts", "event_id"
    )
    w_close = Window.partitionBy("event_type", "hour").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    marked = ev.select(
        "event_type",
        "hour",
        "value",
        F.row_number().over(w_open).alias("rn_open"),
        F.row_number().over(w_close).alias("rn_close"),
    )
    return (
        marked.groupBy("event_type", "hour")
        .agg(
            F.max(F.when(F.col("rn_open") == 1, F.col("value"))).alias("open"),
            F.max("value").alias("high"),
            F.min("value").alias("low"),
            F.max(F.when(F.col("rn_close") == 1, F.col("value"))).alias(
                "close"
            ),
            F.count(F.lit(1)).alias("volume"),
            exact_sum("value", 2, "sum_value"),
        )
        .orderBy("event_type", "hour")
    )


# --- marketing attribution (round 6 wave 9) --------------------------------

ATTRIB_WINDOW_HOURS = 72
ATTRIB_TOUCH_TYPES = ("click", "view")


def q_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch attribution: every purchase is credited to the most
    recent click/view by the same user within the preceding 72 h, or
    to 'direct' when none exists — the standard marketing-attribution
    rollup (last-touch model) reported as
    (touch_type, day, n_purchases, revenue).

    The per-user "most recent touch at or before me" is ONE
    last(ignorenulls) running window ordered by (ts, kind, event_id)
    — kind orders touches BEFORE purchases at the same instant (a
    same-microsecond touch attributes), and the unique event_id makes
    the pick deterministic. No self-join, no per-purchase probe: the
    asof lookup rides the same user-hash exchange every sessionization
    query uses, then the report is a ≤(touch_types+1)×days aggregate.
    Counts are BIGINT and revenue is decimal-routed ⇒ hash-verified."""
    ev = (
        load_table(spark, sf_dir, "events")
        .where(F.col("event_type").isin(*ATTRIB_TOUCH_TYPES, "purchase"))
        .select(
            "user_id",
            "ts",
            "event_type",
            "event_id",
            "value",
            F.when(F.col("event_type") == "purchase", F.lit(1))
            .otherwise(F.lit(0))
            .alias("kind"),
        )
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "kind", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    touched = ev.withColumn(
        "touch",
        F.last(
            F.when(
                F.col("kind") == 0,
                F.struct(F.col("ts").alias("tts"),
                         F.col("event_type").alias("ttype")),
            ),
            ignorenulls=True,
        ).over(w),
    )
    purchases = touched.where(F.col("kind") == 1).select(
        F.coalesce(
            F.when(
                F.col("touch.tts")
                >= F.col("ts") - F.expr(f"INTERVAL {ATTRIB_WINDOW_HOURS} HOURS"),
                F.col("touch.ttype"),
            ),
            F.lit("direct"),
        ).alias("touch_type"),
        F.date_trunc("day", "ts").alias("day"),
        "value",
    )
    return (
        purchases.groupBy("touch_type", "day")
        .agg(
            F.count(F.lit(1)).alias("n_purchases"),
            exact_sum("value", 2, "revenue"),
        )
        .orderBy("touch_type", "day")
    )


# --- windowed conversion funnel (round 6 wave 9) ---------------------------

FUNNEL_WINDOW_HOURS = 48


def q_funnel_windowed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conversion funnel with per-step COMPLETION WINDOWS: signup →
    click within 48 h of the first signup → purchase within 48 h of
    the first qualifying click (greedy earliest-completion, the
    product-analytics semantics plain q_funnel's any-time ordering
    doesn't capture — a purchase a month after the click is not a
    funnel conversion).

    Single-exchange plan: everything is chained running-min windows
    over ONE user-hash partitioning ordered by (ts, event_id) — the
    strictly-preceding frame carries "first signup so far" onto each
    click (which decides whether that click qualifies), then "first
    qualifying click so far" onto each purchase. No per-step
    self-joins: at 100 TB a 3-step funnel via joins is three full-log
    shuffles; here the log shuffles once and the two extra window
    passes reuse the same sort. Counts are BIGINT ⇒ hash-verified."""
    w_hours = FUNNEL_WINDOW_HOURS
    ev = (
        load_table(spark, sf_dir, "events")
        .where(F.col("event_type").isin("signup", "click", "purchase"))
        .select("user_id", "ts", "event_id", "event_type")
    )
    prev = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    win = F.expr(f"INTERVAL {w_hours} HOURS")
    e1 = ev.withColumn(
        "sg", F.min(F.when(F.col("event_type") == "signup", F.col("ts"))).over(prev)
    ).withColumn(
        "qc",
        F.when(
            (F.col("event_type") == "click")
            & F.col("sg").isNotNull()
            & (F.col("ts") <= F.col("sg") + win),
            F.col("ts"),
        ),
    )
    e2 = e1.withColumn("ck", F.min("qc").over(prev)).withColumn(
        "qp",
        F.when(
            (F.col("event_type") == "purchase")
            & F.col("ck").isNotNull()
            & (F.col("ts") <= F.col("ck") + win),
            F.col("ts"),
        ),
    )
    per_user = e2.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "signup", F.col("ts"))).alias("t1"),
        F.min("qc").alias("t2"),
        F.min("qp").alias("t3"),
    )
    return per_user.agg(
        F.count(F.lit(1)).alias("n_users"),
        F.count("t1").alias("n_signup"),
        F.count("t2").alias("n_signup_then_click"),
        F.count("t3").alias("n_full_funnel"),
    )


EWMA_ALPHA = 0.25  # exactly representable: 1-alpha = 0.75 is too


def q_ewma_smooth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user exponentially-weighted moving average of event value
    (s_t = α·x_t + (1−α)·s_{t−1}, s_0 = first value, events in
    (ts, event_id) order) — the classic streaming smoother, computed
    batch-side. Returns (user_id, n_events, ewma).

    An EWMA is an inherently sequential per-key recurrence, so it
    CANNOT be a partition-parallel aggregate; the scale-correct batch
    shape is groupBy(key) + an ordered in-key fold: collect_list the
    per-user sequence (bounded by per-user activity, the same bound
    every sessionization query relies on), array_sort for the
    deterministic (ts, event_id) order, and a sequential
    ``F.aggregate`` fold seeded with the first element. Both engines
    fold left-to-right over the identical sequence with α = 0.25 and
    1−α = 0.75 (both exactly representable doubles), so the result is
    bit-identical cross-engine with no quantization convention —
    DuckDB's list_reduce is the oracle twin. The streaming twin of
    this recurrence is applyInPandasWithState (streaming/stateful.py).
    """
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "value"
    )
    seq = F.array_sort(F.collect_list(F.struct("ts", "event_id", "value")))
    agg = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"), seq.alias("seq")
    )
    # project the value array ONCE before the fold references it three
    # times (slice/init/size) — the repo-wide HOF-projection rule (CSE
    # does not reach inside higher-order lambdas)
    xs = F.col("xs")
    ewma = F.aggregate(
        F.slice(xs, 2, F.greatest(F.size(xs) - 1, F.lit(0))),
        F.element_at(xs, 1),
        lambda acc, x: acc * F.lit(1.0 - EWMA_ALPHA) + x * F.lit(EWMA_ALPHA),
    )
    return agg.select(
        "user_id",
        "n_events",
        F.transform("seq", lambda s: s["value"]).alias("xs"),
    ).select("user_id", "n_events", ewma.alias("ewma"))


# --- exact-arithmetic statistical outlier gate -----------------------------


def q_zscore_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type 3-sigma outlier census with EXACT integer
    arithmetic: count events whose value lies more than 3 population
    standard deviations from the per-type mean.

    The naive formulation compares (x − μ)² > 9σ² in floating point —
    order-dependent (μ, σ² come from double sums) and therefore neither
    partitioning-stable nor cross-engine verifiable. Multiplying both
    sides by n² clears every division:

        (n·x − S)²  >  9·(n·Q − S²),   S = Σx, Q = Σx²

    with x routed to exact 1e-4 integer units, so the comparison is
    INTEGER-EXACT — the flag for every row is identical under any
    accumulation order, any partitioning, and any engine. DECIMAL(38,0)
    holds the products (≈1e25 at sf1, cap 1e38).

    Plan shape at 100 TB: one partial-aggregating scan reduces to
    O(types) stat rows, which BROADCAST back onto the fact scan — the
    facts are read twice but never shuffled; the only exchange carries
    a handful of rows. (A window over event_type would instead shuffle
    the entire fact table — the anti-pattern this query exists to show.)
    """
    ev = load_table(spark, sf_dir, "events").select(
        "event_type", fixed_long("value", 4).alias("vi")
    )
    stats = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("vi").alias("s"),
        # vi² ≤ ~6e13 per term fits LONG; the sum can pass 2^63 → decimal
        F.sum(long_dec(F.col("vi") * F.col("vi"))).alias("q"),
    )
    dev = exact_int("n") * exact_int("vi") - exact_int("s")
    lhs = dev * dev
    rhs = exact_int(F.lit(9)) * comoment("n", "q", "s", "s")
    flagged = ev.join(F.broadcast(stats), "event_type").select(
        "event_type", "n", (lhs > rhs).cast("int").alias("is_outlier")
    )
    return flagged.groupBy("event_type").agg(
        F.first("n").alias("n_events"),
        F.sum("is_outlier").alias("n_outliers"),
        (
            F.sum("is_outlier").cast("double")
            / F.first("n").cast("double")
        ).alias("outlier_share"),
    )


def q_twap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user TIME-WEIGHTED average of event value (TWAP — the
    metrics/finance aggregate where each observation holds until the
    next one): Σ (t_{i+1}−t_i)·v_i / (t_n − t_1) over users with ≥2
    events.

    Plan: ONE user-hash exchange — lead(ts) over (user_id | ts,
    event_id) pairs each event with its holding interval, then an
    ordinary partial-aggregating sum per user. No self-join, no
    collect_list: the window and the aggregate share the same
    partitioning, so at 100 TB this is one shuffle of (user, ts, v)
    triples and O(users) output rows.

    Determinism: intervals are exact integer MICROSECONDS, values
    exact 1e-4 integer units; each area term dt·v routes through
    DECIMAL(38,0) (dt ≤ 2.6e12 µs × v ≤ ~1e7 overflows a LONG), the
    sum is exact decimal, and the final division is one double op on
    correctly-rounded casts — identical in both engines.
    """
    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        F.unix_micros("ts").alias("t_us"),
        "event_id",
        fixed_long("value", 4).alias("vi"),
    )
    w = Window.partitionBy("user_id").orderBy("t_us", "event_id")
    seg = ev.select(
        "user_id",
        "t_us",
        "vi",
        (F.lead("t_us").over(w) - F.col("t_us")).alias("dt_us"),
    )
    agg = (
        seg.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            (F.max("t_us") - F.min("t_us")).alias("span_us"),
            F.sum(exact_int(long_dec("dt_us") * F.col("vi"))).alias("area"),
        )
        .where(F.col("span_us") > 0)
    )
    return agg.select(
        "user_id",
        "n_events",
        "span_us",
        (
            F.col("area").cast("double")
            / (F.col("span_us").cast("double") * F.lit(10000.0))
        ).alias("twap"),
    )


def q_cusum_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type CUSUM drift statistic: the maximum upward
    cumulative deviation of value from the type mean over the event
    sequence — the classic change-point/drift detector a pipeline
    runs over telemetry before trusting a data source.

    Scale-correct formulation: CUSUM's sequential recurrence
    c_i = max(0, c_{i-1} + (x_i − μ)) decomposes into WINDOW algebra —
    with P_j the prefix sum of deviations, max_j c_j =
    max_j (P_j − min(0, min_{k<j} P_k)). So the plan is one
    event_type-hash exchange carrying three chained window functions
    (cumulative sum, running min, max) + one aggregate — NO
    collect_list of the group (a type's history is unbounded at
    100 TB; per-key arrays are only legal for bounded keys like
    users). Division-free integers: deviations are scaled by n
    ((n·x − S), the zscore_outliers trick), prefix sums route through
    DECIMAL(38,0), so every comparison is exact in both engines; the
    output statistic is normalized back to value units by one double
    division through correctly-rounded casts.
    """
    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        "ts",
        "event_id",
        fixed_long("value", 4).alias("vi"),
    )
    stats = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"), F.sum("vi").alias("s")
    )
    dev = ev.join(F.broadcast(stats), "event_type").select(
        "event_type",
        "ts",
        "event_id",
        "n",
        (exact_int("n") * F.col("vi") - exact_int("s")).alias("d"),
    )
    w = Window.partitionBy("event_type").orderBy("ts", "event_id")
    # two window stages (nested window functions are illegal): prefix
    # sum first, then the running min of its 0-floor over PRECEDING
    # rows (exclusive). Both windows share partitioning AND ordering,
    # so the plan pays ONE exchange + one sort for the chain.
    pre = dev.select(
        "event_type",
        "ts",
        "event_id",
        "n",
        F.sum("d").over(w).alias("p"),
    )
    cu = pre.select(
        "event_type",
        "n",
        "p",
        F.min(F.least(F.col("p"), exact_int(F.lit(0))))
        .over(w.rowsBetween(Window.unboundedPreceding, -1))
        .alias("pmin_prev"),
    )
    c = F.col("p") - F.least(
        F.coalesce("pmin_prev", exact_int(F.lit(0))),
        exact_int(F.lit(0)),
    )
    return (
        cu.select("event_type", "n", c.alias("c"))
        .groupBy("event_type")
        .agg(F.first("n").alias("n_events"), F.max("c").alias("mc"))
        .select(
            "event_type",
            "n_events",
            # c is in n-scaled 1e-4 units (d = n·(x−μ) carries one
            # factor of n; prefix-summing adds none) → value units
            # divide by n·1e4
            (
                F.col("mc").cast("double")
                / (F.col("n_events").cast("double") * F.lit(10000.0))
            ).alias("max_cusum"),
        )
    )

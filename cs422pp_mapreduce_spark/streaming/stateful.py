"""Custom stateful streaming operator via applyInPandasWithState.

Spark's built-in windows cover time-bucketed aggregation; anything with
bespoke per-key state (running counters with custom expiry, cross-event
derived state, online anomaly scores) needs the arbitrary-state API.
This module implements a per-user *running activity profile*:

    state per user: (n_events, sum_value, max_value, last_ts)
    emitted per micro-batch and user: the updated profile row

By default profiles never expire (``NoTimeout``) — correct when the key
cardinality is bounded (users), and what the batch-equivalence test
asserts. For unbounded key spaces, pass ``ttl_minutes`` to expire idle
keys: ProcessingTimeTimeout (wall-clock idle) by default, or
EventTimeTimeout (``event_time=True``; watermark-driven — the flavor a
replayed backfill needs, since expiry is then a function of the data,
not of replay speed). Either way the idle key's state is removed when
the timeout fires, so state stays bounded on an unbounded stream.

The state is a tuple of scalars per key: memory is O(active users),
shuffles are one hash exchange on user_id per micro-batch — the same
cost profile as a built-in streaming aggregation.
"""

from __future__ import annotations

from collections.abc import Iterable

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.window import Window

from ..functions.numeric import exact_int, fixed_long
from ..sources.catalog import load_table
from .events import (
    drain_to_memory,
    read_event_stream,
    read_event_stream_auto,
    sink_frame,
    stage_event_files,
)

PROFILE_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("n_events", T.LongType()),
        T.StructField("sum_value", T.DoubleType()),
        T.StructField("max_value", T.DoubleType()),
        T.StructField("last_ts", T.TimestampType()),
    ]
)

STATE_SCHEMA = T.StructType(
    [
        T.StructField("n_events", T.LongType()),
        T.StructField("sum_value", T.DoubleType()),
        T.StructField("max_value", T.DoubleType()),
        T.StructField("last_ts_us", T.LongType()),
    ]
)


def _make_update_profile(ttl_minutes: int | None, event_time: bool = False):
    def _update_profile(
        key: tuple, pdfs: Iterable[pd.DataFrame], state: GroupState
    ) -> Iterable[pd.DataFrame]:
        (user_id,) = key
        if ttl_minutes is not None and state.hasTimedOut:
            # idle key: drop its state entirely — this is what keeps
            # memory O(active users) on an unbounded stream
            state.remove()
            return
        if state.exists:
            n, s, mx, last_us = state.get
        else:
            n, s, mx, last_us = 0, 0.0, float("-inf"), 0
        for pdf in pdfs:
            n += len(pdf)
            s += float(pdf["value"].sum())
            mx = max(mx, float(pdf["value"].max()))
            last_us = max(last_us, int(pdf["ts"].astype("int64").max() // 1000))
        state.update((n, s, mx, last_us))
        if ttl_minutes is not None:
            if event_time:
                # expiry pinned to EVENT time: the key dies when the
                # watermark passes last-event + TTL. Unlike the
                # processing-time flavor this is replay-stable — a
                # backfill at 100× speed expires exactly the same keys.
                # Spark requires the timeout to sit beyond the current
                # watermark; clamp for late-arriving keys.
                wm_ms = state.getCurrentWatermarkMs()
                state.setTimeoutTimestamp(
                    max(last_us // 1000 + ttl_minutes * 60 * 1000, wm_ms + 1)
                )
            else:
                state.setTimeoutDuration(ttl_minutes * 60 * 1000)
        yield pd.DataFrame(
            {
                "user_id": [user_id],
                "n_events": [n],
                "sum_value": [s],
                "max_value": [mx],
                "last_ts": [pd.Timestamp(last_us, unit="us")],
            }
        )

    return _update_profile


def latest_per_key(sink: DataFrame, key: str, counter: str) -> DataFrame:
    """The converged state of an update-mode stateful sink: per ``key``,
    the row with the highest ``counter``. Each emission of a key
    carries a strictly larger count than the last, so that row is the
    key's final state."""
    w = Window.partitionBy(key).orderBy(F.desc(counter))
    return (
        sink.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .drop("rn")
    )


def _staged_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The events table staged as three time-ordered files and read in
    ONE availableNow micro-batch (``maxFilesPerTrigger`` = 3).

    Each micro-batch of a NoTimeout update-mode recurrence pays a full
    state-store commit cycle plus a Python worker round per state
    partition, which at contract state sizes is pure fixed cost for
    the same rows: interleaved at sf0.1, stream_twap went 4.9 → 2.1 s
    and stream_ewma 5.8 → 2.2 s with bit-identical output, while a
    2-batch drain still took 4.8 s, so the win needs one trigger. The
    folds sort each key's rows by (ts, event_id) within a batch, so the
    final state does not depend on batch sizing. The CROSS-batch state
    handoff stays pinned by the seeded-continuation tests
    (tests/test_stateful_streaming.py) and by the restart contracts
    (stream_event_recovery / stream_foreach_upsert), whose multi-batch
    arrival sequences are semantic."""
    src = stage_event_files(spark, sf_dir, n_files=3)
    return read_event_stream(spark, src, max_files_per_trigger=3)


def user_activity_profile(
    events: DataFrame,
    ttl_minutes: int | None = None,
    *,
    event_time: bool = False,
    watermark_delay: str = "10 minutes",
) -> DataFrame:
    """Streaming per-user profile with arbitrary state. Works on a
    streaming DataFrame (micro-batch incremental) — on a batch frame
    use ``user_activity_profile_batch`` (same result, one pass).

    ``ttl_minutes=None`` keeps state forever (bounded key space).
    With a TTL, idle keys expire via:

    - ``event_time=False``: ProcessingTimeTimeout — wall-clock idle
      time. Right for live serving, WRONG for replays: a backfill
      replayed at 100× speed never leaves a key idle long enough.
    - ``event_time=True``: EventTimeTimeout — a key expires when the
      stream's WATERMARK passes its last event + TTL, so expiry is a
      pure function of the data and identical live or replayed. The
      input gets ``withWatermark("ts", watermark_delay)`` applied
      (required by the timeout mode, and what bounds state for late
      data generally)."""
    if ttl_minutes is None:
        timeout = GroupStateTimeout.NoTimeout
    elif event_time:
        timeout = GroupStateTimeout.EventTimeTimeout
        events = events.withWatermark("ts", watermark_delay)
    else:
        timeout = GroupStateTimeout.ProcessingTimeTimeout
    return events.groupBy("user_id").applyInPandasWithState(
        _make_update_profile(ttl_minutes, event_time),
        outputStructType=PROFILE_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="update",
        timeoutConf=timeout,
    )


def stream_profile_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Un-started applyInPandasWithState plan behind q_stream_profile
    (same state operator over the catalog events stream; the final
    batch-side max-n_events projection keeps names/types identical)
    for analysis tooling."""
    ev = read_event_stream_auto(spark, sf_dir).withColumn(
        "value", F.round(F.col("value") * 100, 0)
    )
    return user_activity_profile(ev)


def q_stream_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-contract ARBITRARY-STATE streaming query: the per-user
    running activity profile (applyInPandasWithState) over the events
    table staged as three time-ordered files drained in one
    availableNow trigger (see ``_staged_stream``; the profile fold is
    count/sum/max, order-free per key), update-mode memory sink, final
    state = the max-``n_events`` row per user (``latest_per_key``).

    Exactness without trusting float accumulation order: the stream
    feeds the state function ``value`` pre-scaled to integral CENTS
    (round(value·100) — exact for 2-decimal business values), so the
    running double sum adds only integers (exact up to 2^53 — at
    100 TB scale the state type would widen to int128/decimal, same
    plan) and the final single division by 100 is correctly rounded —
    bit-identical to the oracle's exact-decimal sum. This puts a
    hash-verified driver row on the applyInPandasWithState code path
    (per-key state across micro-batches), which only pytest covered
    before.

    Scale: state is four scalars per user, shuffled once per
    micro-batch on user_id — the cost profile of a built-in streaming
    agg; TTL/expiry variants are pinned in tests/test_stateful_streaming.py."""
    ev = _staged_stream(spark, sf_dir).withColumn(
        "value", F.round(F.col("value") * 100, 0)
    )
    q = drain_to_memory(user_activity_profile(ev), "stream_profile", "update")
    return (
        latest_per_key(sink_frame(spark, q), "user_id", "n_events")
        .select(
            "user_id",
            "n_events",
            (F.col("sum_value") / F.lit(100.0)).alias("sum_value"),
            (F.col("max_value") / F.lit(100.0)).alias("max_value"),
            "last_ts",
        )
    )


def user_activity_profile_batch(events: DataFrame) -> DataFrame:
    """Batch twin (plain aggregation) — what the streaming state
    converges to after all input; tests assert equality."""
    return events.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum("value").alias("sum_value"),
        F.max("value").alias("max_value"),
        F.max("ts").alias("last_ts"),
    )


# --- streaming EWMA (arbitrary-state recurrence) ---------------------------

EWMA_OUT_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("n_events", T.LongType()),
        T.StructField("ewma", T.DoubleType()),
    ]
)

EWMA_STATE_SCHEMA = T.StructType(
    [
        T.StructField("n_events", T.LongType()),
        T.StructField("ewma", T.DoubleType()),
    ]
)


def _update_ewma(
    key: tuple, pdfs: Iterable[pd.DataFrame], state: GroupState
) -> Iterable[pd.DataFrame]:
    from ..operators.events import EWMA_ALPHA

    a = EWMA_ALPHA
    (user_id,) = key
    if state.exists:
        n, s = state.get
    else:
        n, s = 0, 0.0
    # concat the Arrow chunk iterator FIRST, then sort ONCE: per-chunk
    # sorting is only correct if chunk time-ranges never interleave,
    # which shuffle-read order does not guarantee when the staged file
    # scans as >1 partition. Per-key-per-batch row counts
    # are bounded, so the concat is cheap and the fold order becomes
    # partition-count-independent — exactly the batch twin's
    # array_sort order.
    chunks = [pdf for pdf in pdfs if len(pdf)]
    if chunks:
        rows = pd.concat(chunks).sort_values(["ts", "event_id"])
        vals = rows["value"].astype("float64")
        # ewm(adjust=False) silently SKIPS NaN while n_events below
        # still counts the row — a null 'value' would yield a finite
        # ewma with an inflated count instead of the NaN the replaced
        # Python loop propagated. Fail loudly on bad input instead of
        # diverging from the batch twin.
        if vals.isna().any():
            raise ValueError(
                f"stream_ewma: null/NaN 'value' for user_id={user_id}"
            )
        # The recurrence is inherently sequential per key, but it does
        # NOT need a Python-level loop: pandas' C ewm kernel with
        # adjust=False computes exactly y_t = y_{t-1}·(1−α) + x_t·α —
        # the same two products + one add, in the same order, as the
        # JVM fold in the batch twin — so the result is BIT-IDENTICAL
        # to the row loop it replaces (pinned across magnitudes
        # 1e±200 and seeded continuations in
        # tests/test_stateful_streaming.py; the swap cut the sf1 wall
        # of the 1M-row stream). Cross-batch state seeds the
        # kernel as a prepended pseudo-first element: y_0 = s exactly,
        # every later step continues the recurrence.
        if n > 0:
            vals = pd.concat(
                [pd.Series([s], dtype="float64"), vals], ignore_index=True
            )
        s = float(vals.ewm(alpha=a, adjust=False).mean().iloc[-1])
        n += len(rows)
    state.update((n, s))
    yield pd.DataFrame(
        {"user_id": [user_id], "n_events": [n], "ewma": [s]}
    )


def user_ewma_stream(events: DataFrame) -> DataFrame:
    """Streaming per-user EWMA via applyInPandasWithState — the
    arbitrary-state form of the inherently sequential per-key
    recurrence (operators/events.q_ewma_smooth is the batch twin).
    State is two scalars per user; one hash exchange on user_id per
    micro-batch."""
    return events.groupBy("user_id").applyInPandasWithState(
        _update_ewma,
        outputStructType=EWMA_OUT_SCHEMA,
        stateStructType=EWMA_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def stream_ewma_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Un-started applyInPandasWithState plan behind q_stream_ewma for
    the analysis tools."""
    return user_ewma_stream(read_event_stream_auto(spark, sf_dir))


def q_stream_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-contract stateful-streaming EWMA: the per-user
    exponential smoother run through applyInPandasWithState over
    the events table staged as three time-ordered files drained in
    one availableNow trigger (see ``_staged_stream``), update-mode
    memory sink, final state = the max-``n_events`` row per user.

    HASH-VERIFIED against the BATCH oracle (the same DuckDB
    list_reduce SQL as ewma_smooth): the staged slices partition the
    table on (ts, event_id) ntiles, each batch sorts its rows the same
    way, and every fold step is the identical IEEE-double expression —
    so the incremental fold's final state equals the batch fold
    bit-for-bit. That makes this the engine's second hash-verified
    applyInPandasWithState row, and the first that carries a FLOAT
    recurrence (stream_profile's state is integral cents): it proves
    order-stable state handoff across micro-batch boundaries, which is
    exactly the property a production streaming smoother needs after
    restarts/backfills."""
    q = drain_to_memory(
        user_ewma_stream(_staged_stream(spark, sf_dir)), "stream_ewma", "update"
    )
    return latest_per_key(sink_frame(spark, q), "user_id", "n_events").select(
        "user_id", "n_events", "ewma"
    )


# --- streaming TWAP (exact-integer interval state) --------------------------

TWAP_OUT_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("n_events", T.LongType()),
        T.StructField("span_us", T.LongType()),
        T.StructField("area_str", T.StringType()),
    ]
)

# area = Σ dt_us·v_i exceeds int64 (2.6e12 µs spans × 1e7 value units),
# exactly why the batch twin routes it through DECIMAL(38,0); the
# streaming state carries it as a stringified exact Python int — the
# same unbounded-precision discipline, serialized.
TWAP_STATE_SCHEMA = T.StructType(
    [
        T.StructField("n_events", T.LongType()),
        T.StructField("t_first_us", T.LongType()),
        T.StructField("t_prev_us", T.LongType()),
        T.StructField("v_prev", T.LongType()),
        T.StructField("area_str", T.StringType()),
    ]
)


def _update_twap(
    key: tuple, pdfs: Iterable[pd.DataFrame], state: GroupState
) -> Iterable[pd.DataFrame]:
    (user_id,) = key
    if state.exists:
        n, t_first, t_prev, v_prev, area_str = state.get
        area = int(area_str)
    else:
        n, t_first, t_prev, v_prev, area = 0, 0, 0, 0, 0
    # concat-then-sort-once (see _update_ewma): per-chunk sorting
    # diverges if one key's batch rows span interleaving
    # Arrow chunks
    chunks = [pdf for pdf in pdfs if len(pdf)]
    for pdf in [pd.concat(chunks)] if chunks else []:
        pdf = pdf.sort_values(["t_us", "event_id"])
        for t, v in zip(pdf["t_us"].tolist(), pdf["vi"].tolist()):
            t, v = int(t), int(v)
            if n == 0:
                t_first = t
            else:
                area += (t - t_prev) * v_prev  # exact Python int
            t_prev, v_prev = t, v
            n += 1
    state.update((n, t_first, t_prev, v_prev, str(area)))
    yield pd.DataFrame(
        {
            "user_id": [user_id],
            "n_events": [n],
            "span_us": [t_prev - t_first],
            "area_str": [str(area)],
        }
    )


def user_twap_stream(events: DataFrame) -> DataFrame:
    """Streaming per-user TWAP via applyInPandasWithState: state is
    five scalars (count, first/prev timestamp, prev value, exact area);
    each micro-batch extends the interval sum incrementally. The
    (t_us, vi) integer projection happens STREAM-side in Spark so the
    decimal(18,4) value quantization is the identical JVM cast the
    batch twin (operators/events.q_twap) performs."""
    return events.groupBy("user_id").applyInPandasWithState(
        _update_twap,
        outputStructType=TWAP_OUT_SCHEMA,
        stateStructType=TWAP_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def _twap_stream_projection(ev: DataFrame) -> DataFrame:
    return ev.select(
        "user_id",
        F.unix_micros("ts").alias("t_us"),
        "event_id",
        fixed_long("value", 4).alias("vi"),
    )


def _twap_final_projection(sink: DataFrame) -> DataFrame:
    return sink.where(F.col("span_us") > 0).select(
        "user_id",
        "n_events",
        "span_us",
        (
            exact_int("area_str").cast("double")
            / (F.col("span_us").cast("double") * F.lit(10000.0))
        ).alias("twap"),
    )


def stream_twap_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Un-started applyInPandasWithState plan behind q_stream_twap for
    the analysis tools — same final projection as the real query (the
    max-n_events dedup is a drain detail the memory sink owns)."""
    return _twap_final_projection(
        user_twap_stream(
            _twap_stream_projection(read_event_stream_auto(spark, sf_dir))
        )
    )


def q_stream_twap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-contract streaming TWAP: the per-user time-weighted
    average computed through applyInPandasWithState's per-key
    interval state over the events table staged as three time-ordered
    files drained in one availableNow trigger (see
    ``_staged_stream``), update-mode memory sink, final state =
    max-``n_events`` row per user.

    HASH-VERIFIED against the BATCH oracle (the same DuckDB SQL as
    twap): holding intervals are exact integer microseconds × exact
    1e-4 value units, the running area is an exact integer at any
    scale (stringified through the state schema, decimal(38,0) on the
    way out), and the final division is the identical double
    expression — so the incremental fold equals the batch lead()-
    window aggregation bit-for-bit: the TWAP decomposition is
    genuinely incremental (O(1) state per key), not just
    window-expressible."""
    ev = _twap_stream_projection(_staged_stream(spark, sf_dir))
    q = drain_to_memory(user_twap_stream(ev), "stream_twap", "update")
    return _twap_final_projection(
        latest_per_key(sink_frame(spark, q), "user_id", "n_events")
    )


# --- streaming CUSUM drift (exact-integer recurrence state) -----------------

CUSUM_OUT_SCHEMA = T.StructType(
    [
        T.StructField("event_type", T.StringType()),
        T.StructField("n_total", T.LongType()),
        T.StructField("n_seen", T.LongType()),
        T.StructField("cmax_str", T.StringType()),
    ]
)

CUSUM_STATE_SCHEMA = T.StructType(
    [
        T.StructField("n_seen", T.LongType()),
        T.StructField("p_str", T.StringType()),
        T.StructField("mprev_str", T.StringType()),
        T.StructField("cmax_str", T.StringType()),
    ]
)


def _update_cusum(
    key: tuple, pdfs: Iterable[pd.DataFrame], state: GroupState
) -> Iterable[pd.DataFrame]:
    (event_type,) = key
    if state.exists:
        n_seen, p_str, mprev_str, cmax_str = state.get
        p = int(p_str)
        mprev = int(mprev_str) if mprev_str else None
        cmax = int(cmax_str) if cmax_str else None
    else:
        n_seen, p, mprev, cmax = 0, 0, None, None
    n_total = 0
    # concat-then-sort-once (see _update_ewma)
    chunks = [pdf for pdf in pdfs if len(pdf)]
    for pdf in [pd.concat(chunks)] if chunks else []:
        pdf = pdf.sort_values(["ts", "event_id"])
        n_col = pdf["n"].tolist()
        if n_col:
            n_total = int(n_col[0])
        s_total = int(pdf["s"].tolist()[0]) if len(pdf) else 0
        for v in pdf["vi"].tolist():
            d = n_total * int(v) - s_total  # exact n-scaled deviation
            p += d
            # the batch window formula verbatim: c_j = P_j − min(0,
            # min_{k<j} P_k), max'd over j — NOT the textbook 0-floor
            # recurrence, which diverges from it on all-negative runs
            c = p - min(0, mprev) if mprev is not None else p
            cmax = c if cmax is None else max(cmax, c)
            mprev = p if mprev is None else min(mprev, p)
            n_seen += 1
    state.update(
        (
            n_seen,
            str(p),
            "" if mprev is None else str(mprev),
            "" if cmax is None else str(cmax),
        )
    )
    yield pd.DataFrame(
        {
            "event_type": [event_type],
            "n_total": [n_total],
            "n_seen": [n_seen],
            "cmax_str": ["" if cmax is None else str(cmax)],
        }
    )


def type_cusum_stream(events_with_stats: DataFrame) -> DataFrame:
    """Streaming per-type CUSUM via applyInPandasWithState over a
    stream-static join: the static side carries the per-type baseline
    (n, S) — in production the calibration window's statistics, here
    the batch aggregate of the same table so the result equals the
    batch twin (operators/events.q_cusum_drift) exactly. State is four
    scalars per type (count + three exact integers, stringified):
    prefix sum P, running min of previous P's, running max deviation —
    the O(1)-state form of the batch query's three chained windows."""
    return events_with_stats.groupBy("event_type").applyInPandasWithState(
        _update_cusum,
        outputStructType=CUSUM_OUT_SCHEMA,
        stateStructType=CUSUM_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def _cusum_static_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load_table(spark, sf_dir, "events")
        .select(
            "event_type",
            fixed_long("value", 4).alias("vi"),
        )
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("vi").alias("s"))
    )


def _cusum_stream_projection(ev: DataFrame) -> DataFrame:
    return ev.select(
        "event_type",
        "ts",
        "event_id",
        fixed_long("value", 4).alias("vi"),
    )


def _cusum_final_projection(sink: DataFrame) -> DataFrame:
    return sink.select(
        "event_type",
        F.col("n_total").alias("n_events"),
        (
            exact_int("cmax_str").cast("double")
            / (F.col("n_total").cast("double") * F.lit(10000.0))
        ).alias("max_cusum"),
    )


def stream_cusum_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Un-started plan behind q_stream_cusum for the analysis tools
    (stream-static join + applyInPandasWithState), same final
    projection as the real query."""
    ev = _cusum_stream_projection(read_event_stream_auto(spark, sf_dir))
    return _cusum_final_projection(
        type_cusum_stream(
            ev.join(
                F.broadcast(_cusum_static_stats(spark, sf_dir)), "event_type"
            )
        )
    )


def q_stream_cusum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-contract streaming CUSUM: the per-type max cumulative
    drift computed INCREMENTALLY — baseline (n, S) from a static batch
    aggregate (the calibration pass a production drift monitor runs
    first), then the events stream staged as three time-ordered
    files flows through a stream-static broadcast join into
    the O(1)-state recurrence, update-mode memory sink, final state =
    max-``n_seen`` row per type.

    HASH-VERIFIED against the BATCH oracle (the same DuckDB SQL as
    cusum_drift): deviations are exact n-scaled integers, the state's
    P/min/max triple is exact at any magnitude (stringified ints), and
    the final normalization is the identical double expression — so
    the incremental recurrence equals the batch three-window plan
    bit-for-bit, proving the window-algebra decomposition is genuinely
    streaming-compatible (cusum is the change-point detector a
    monitoring pipeline runs incrementally). One availableNow trigger
    (see ``_staged_stream``): fold order within the single batch is the
    same (ts, event_id) sort, so the recurrence is bit-identical."""
    ev = _cusum_stream_projection(_staged_stream(spark, sf_dir))
    joined = ev.join(
        F.broadcast(_cusum_static_stats(spark, sf_dir)), "event_type"
    )
    q = drain_to_memory(type_cusum_stream(joined), "stream_cusum", "update")
    return _cusum_final_projection(
        latest_per_key(sink_frame(spark, q), "event_type", "n_seen")
    )

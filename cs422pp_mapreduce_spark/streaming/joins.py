"""Streaming joins: stream-stream interval join with watermarked
state, and stateless stream-static dimension enrichment.

The interval join is the streaming twin of operators/asof.py's range
join: match each `left` event with `right` events of the same key
within a bounded time interval. The interval bound + watermarks are
what make the join state finite — Spark evicts buffered rows once the
watermark passes their latest possible match, so state is O(events
within the interval window), not O(stream).

The stream-static join is the other canonical streaming join: enrich
each event with a slowly-changing dimension table. It needs no
watermark and no state at all — each micro-batch joins against the
(broadcast) static side and emits immediately, so stream output
equals the batch join exactly (asserted in tests), not merely
eventually.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.catalog import load_table
from .events import (
    drain_to_memory,
    read_event_stream,
    read_event_stream_auto,
    sink_frame,
    stage_event_files,
)


def interval_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    gap_minutes: int = 30,
    watermark: str = "2 hours",
) -> DataFrame:
    """Pairs (left, right) with equal ``key`` and
    ``left.ts <= right.ts < left.ts + gap``. Both inputs must carry
    ``ts`` and an ``event_id``; output keeps both ids and timestamps."""
    lt = (
        left.withWatermark("ts", watermark)
        .select(
            F.col(key).alias("k"),
            F.col("ts").alias("lts"),
            F.col("event_id").alias("left_id"),
        )
    )
    rt = (
        right.withWatermark("ts", watermark)
        .select(
            F.col(key).alias("rk"),
            F.col("ts").alias("rts"),
            F.col("event_id").alias("right_id"),
        )
    )
    return lt.join(
        rt,
        (F.col("k") == F.col("rk"))
        & (F.col("rts") >= F.col("lts"))
        & (F.col("rts") < F.col("lts") + F.expr(f"INTERVAL {gap_minutes} MINUTES")),
        "inner",
    ).select("k", "left_id", "right_id", "lts", "rts")


def _view_purchase_join(read: Callable[[], DataFrame]) -> DataFrame:
    """View events joined to same-user purchases within 30 minutes,
    each side its own stream from ``read()``. The watermark spans the
    fixture, so nothing is late-dropped whatever the arrival order."""
    views = read().where(F.col("event_type") == "view")
    purchases = read().where(F.col("event_type") == "purchase")
    return interval_join(
        views, purchases, key="user_id", gap_minutes=30, watermark="90 days"
    )


def stream_interval_join_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Un-started streaming plan behind q_stream_interval_join (same
    join over the catalog events stream) for analysis tooling."""
    return _view_purchase_join(lambda: read_event_stream_auto(spark, sf_dir))


def q_stream_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-contract STREAM-STREAM join query: view events joined to
    same-user purchase events within 30 minutes, both sides read as
    file streams (two time-ordered staged files each → the join state
    buffers across micro-batch boundaries), drained append-mode.

    Hash-verified against the batch range-join oracle: stream-stream
    inner joins emit each qualifying pair exactly once, when both rows
    have arrived, so the end-of-stream sink equals the batch join —
    including pairs whose two sides arrived in DIFFERENT micro-batches
    (the buffered-state path this row exists to pin; the time-sliced
    staging guarantees such pairs at every slice boundary).

    Determinism: the output is the SET of qualifying (left_id,
    right_id) pairs — no aggregation, no floats — and inner-join
    emission is complete once both streams drain. The contract fixture
    uses a span-covering watermark so nothing is ever late-dropped
    regardless of file arrival order (completeness is what's being
    hashed); production uses a tight watermark, where Spark evicts a
    buffered left row once the right watermark passes lts + gap —
    state ∝ interval × rate, pinned in tests/test_streaming_extra.py.

    Scale: the join state is hash-partitioned on the key, identical to
    the batch shuffle; 1000 executors each buffer only their key
    range's interval window."""
    src = stage_event_files(spark, sf_dir, n_files=2)
    joined = _view_purchase_join(lambda: read_event_stream(spark, src))
    q = drain_to_memory(joined, "stream_interval_join", "append")
    return sink_frame(spark, q)


def enrich_stream(
    events: DataFrame, dim: DataFrame, key: str, dim_key: str
) -> DataFrame:
    """Stream-static dimension enrichment: left-join each event row
    against a static dimension frame on ``key == dim_key``, keeping
    every event (unmatched keys carry NULL dim columns).

    The static side is explicitly broadcast: at cluster scale the
    dimension refreshes per micro-batch from its source and ships to
    executors as a map-side hash table, so the event stream itself is
    never shuffled — the same plan Catalyst picks for the batch twin,
    which is why stream and batch output are identical row-for-row."""
    return events.join(
        F.broadcast(dim), events[key] == dim[dim_key], "left"
    ).drop(dim_key)


def _type_count_enrich(
    spark: SparkSession, sf_dir: str, ev: DataFrame
) -> DataFrame:
    """Each event of ``ev`` left-joined with its type's global event
    count, the static dimension of q_stream_enrich."""
    dim = (
        load_table(spark, sf_dir, "events")
        .groupBy(F.col("event_type").alias("et"))
        .agg(F.count(F.lit(1)).alias("type_n"))
    )
    return enrich_stream(
        ev.select("event_id", "event_type", "value"), dim, "event_type", "et"
    ).select("event_id", "event_type", "value", "type_n")


def stream_enrich_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Un-started stream-static enrichment plan behind q_stream_enrich
    for analysis tooling."""
    return _type_count_enrich(
        spark, sf_dir, read_event_stream_auto(spark, sf_dir)
    )


def q_stream_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-contract STREAM-STATIC join query: each streamed event
    left-joined against a static dimension (per-type global counts)
    broadcast to every task — the stateless streaming join (no
    watermark, no buffered state; each micro-batch joins and emits
    immediately), completing the streaming-join triple next to the
    stateful interval join and the windowed aggregations.

    Hash-verified against the plain batch join oracle: stream-static
    joins are exactly batch joins applied per micro-batch, so the
    append-mode sink equals the batch result row-for-row — not merely
    at convergence. Two staged micro-batches prove the dimension is
    joined on EVERY batch.

    Scale: the dim ships as a broadcast hash table per micro-batch
    (refreshable between batches at cluster scale); the event stream
    is never shuffled."""
    src = stage_event_files(spark, sf_dir, n_files=2)
    out = _type_count_enrich(spark, sf_dir, read_event_stream(spark, src))
    q = drain_to_memory(out, "stream_enrich", "append")
    return sink_frame(spark, q)

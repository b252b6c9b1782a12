"""Streaming deduplication — the incremental twin of operators/dedup.

An ingestion pipeline sees the same record more than once (at-least-
once sources, retried producers); batch dedup (dedup.py) cleans a
corpus at rest, this cleans it in flight. ``dropDuplicatesWithinWatermark``
keeps per-key state only until the key's event time falls behind the
watermark, so state is bounded by (duplication horizon × arrival rate)
instead of growing with the stream — the property that makes streaming
dedup runnable forever. Exact-once output holds for duplicates arriving
within the watermark delay of each other, which is the CDC/retry case;
cross-day replays are a batch reconciliation problem by design.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from ..sources.staging import land_files
from .events import (
    drain_to_memory,
    read_event_stream,
    read_event_stream_auto,
    sink_frame,
    stage_event_files,
)


def stream_dedup_events(
    events: DataFrame, watermark: str = "2 hours"
) -> DataFrame:
    """Drop re-deliveries of the same event_id arriving within the
    watermark horizon. Emits each event exactly once (append mode)."""
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        ["event_id"]
    )


def stream_dedup_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Un-started streaming plan behind q_stream_dedup (same operators
    over the catalog events stream) — lets analysis tooling audit the
    dedup-state plan without running a streaming job."""
    return stream_dedup_events(
        read_event_stream_auto(spark, sf_dir), watermark="90 days"
    ).select("event_id", "user_id", "event_type", "ts", "value")


def q_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-contract streaming DEDUP query: an at-least-once delivery
    simulation — the events table staged as two time-ordered files,
    then EVERY file landed a second time (full re-delivery, the
    retried-producer case) — deduplicated in flight with
    ``dropDuplicatesWithinWatermark`` on ``event_id`` and drained
    append-mode to a memory sink.

    Hash-verified against the trivially-true batch oracle (the events
    table itself): each of the 4 landed files is its own micro-batch,
    re-deliveries arrive 2 batches after the original, and the dedup
    state drops them, so the sink holds each event EXACTLY once.
    Deterministic by construction — duplicate rows are bit-identical,
    so whichever copy wins, the emitted row is the same.

    The contract fixture uses a span-covering watermark delay so no
    state evicts mid-run (exactness over the whole bounded input is
    the thing being hash-verified); the production setting is a tight
    horizon — state ∝ duplication window × arrival rate, the property
    that makes streaming dedup runnable forever — and the
    eviction-after-watermark behavior is pinned separately in pytest
    (tests/test_streaming_extra.py)."""
    src = stage_event_files(spark, sf_dir, n_files=2)
    # the re-delivery: every staged file lands a second time, in order
    land_files(src, [os.path.join(src, n) for n in sorted(os.listdir(src))])
    deduped = stream_dedup_events(
        read_event_stream(spark, src), watermark="90 days"
    ).select("event_id", "user_id", "event_type", "ts", "value")
    q = drain_to_memory(deduped, "stream_dedup", "append")
    return sink_frame(spark, q)

"""Event-time semantics: explicit gaps-and-islands ≡ native
session_window; batch windows ≡ streaming windows on the same data;
late-data drop under watermark."""

from __future__ import annotations

import os
import shutil
import tempfile

import pytest

from cs422pp_mapreduce_spark.operators import events as EV
from cs422pp_mapreduce_spark.streaming.events import (
    _session_agg,
    _tumbling_agg,
    drain_to_memory,
    read_event_stream,
)
from cs422pp_mapreduce_spark.sources.catalog import load_table


def _key(rows, cols):
    return sorted(tuple(r[c] for c in cols) for r in rows)


def test_session_explicit_equals_native(spark, sf_dir):
    cols = ["user_id", "session_start", "session_end", "n_events", "sum_value"]
    explicit = _key(EV.q_event_session(spark, sf_dir).collect(), cols)
    native = _key(EV.q_event_session_native(spark, sf_dir).collect(), cols)
    assert explicit == native


def test_tumbling_totals(spark, sf_dir):
    rows = EV.q_event_tumbling(spark, sf_dir).collect()
    n = load_table(spark, sf_dir, "events").count()
    assert sum(r["n_events"] for r in rows) == n


def test_sliding_double_counts(spark, sf_dir):
    rows = EV.q_event_sliding(spark, sf_dir).collect()
    n = load_table(spark, sf_dir, "events").count()
    # every event belongs to exactly 2 sliding windows
    assert sum(r["n_events"] for r in rows) == 2 * n


@pytest.fixture()
def stream_dir(spark, sf_dir):
    # Re-write events as µs-timestamp parquet in two chunks to exercise
    # multi-batch streaming.
    d = tempfile.mkdtemp(prefix="evstream_")
    ev = load_table(spark, sf_dir, "events")
    ev.where("event_id % 2 = 0").coalesce(1).write.parquet(f"{d}/part0")
    ev.where("event_id % 2 = 1").coalesce(1).write.parquet(f"{d}/part1")
    src = f"{d}/src"
    os.makedirs(src)
    for sub in ("part0", "part1"):
        for f in os.listdir(f"{d}/{sub}"):
            if f.endswith(".parquet"):
                shutil.copy(f"{d}/{sub}/{f}", f"{src}/{sub}.parquet")
    yield src
    shutil.rmtree(d, ignore_errors=True)


def test_stream_sessions_equal_batch(spark, sf_dir, stream_dir):
    import datetime

    stream = read_event_stream(spark, stream_dir)
    q = drain_to_memory(_session_agg(stream), "t_stream_sessions", "append")
    got = _key(
        spark.table(q.name).collect(),
        ["user_id", "session_start", "n_events"],
    )
    max_ts = load_table(spark, sf_dir, "events").agg({"ts": "max"}).collect()[0][0]
    horizon = max_ts - datetime.timedelta(hours=2)
    # append mode emits sessions whose window end (last event + gap)
    # cleared the watermark
    batch = _key(
        [
            r
            for r in EV.q_event_session_native(spark, sf_dir).collect()
            if r["session_end"] + datetime.timedelta(minutes=30) <= horizon
        ],
        ["user_id", "session_start", "n_events"],
    )
    assert got == batch
    assert len(got) > 0


def test_stream_tumbling_equals_batch(spark, sf_dir, stream_dir):
    import datetime

    stream = read_event_stream(spark, stream_dir)
    assert stream.isStreaming
    q = drain_to_memory(_tumbling_agg(stream), "t_stream_tumbling", "append")
    got = _key(
        spark.table(q.name).collect(),
        ["win_start", "event_type", "n_events"],
    )
    # Append mode emits only windows finalized by the watermark
    # (window.end <= max_ts - 2h); the trailing open windows are
    # correctly withheld — that's the late-data contract, not a bug.
    max_ts = load_table(spark, sf_dir, "events").agg({"ts": "max"}).collect()[0][0]
    horizon = max_ts - datetime.timedelta(hours=2)
    batch = _key(
        [
            r
            for r in EV.q_event_tumbling(spark, sf_dir).collect()
            if r["win_start"] + datetime.timedelta(hours=1) <= horizon
        ],
        ["win_start", "event_type", "n_events"],
    )
    assert got == batch
    assert len(got) > 0


@pytest.fixture()
def dup_stream_dir(spark, sf_dir):
    # The same events delivered twice across micro-batches (an
    # at-least-once source replaying) — streaming dedup must emit each
    # event_id exactly once.
    d = tempfile.mkdtemp(prefix="evdup_")
    ev = load_table(spark, sf_dir, "events")
    ev.coalesce(1).write.parquet(f"{d}/once")
    src = f"{d}/src"
    os.makedirs(src)
    for copy_name in ("delivery1", "delivery2"):
        for f in os.listdir(f"{d}/once"):
            if f.endswith(".parquet"):
                shutil.copy(f"{d}/once/{f}", f"{src}/{copy_name}.parquet")
    yield src
    shutil.rmtree(d, ignore_errors=True)


def test_stream_dedup_exactly_once(spark, sf_dir, dup_stream_dir):
    from cs422pp_mapreduce_spark.streaming.dedup import stream_dedup_events

    stream = read_event_stream(spark, dup_stream_dir)
    q = drain_to_memory(stream_dedup_events(stream), "t_stream_dedup", "append")
    got = spark.table(q.name)
    n = load_table(spark, sf_dir, "events").count()
    # doubled input, exactly-once output, no key seen twice
    assert got.count() == n
    assert got.select("event_id").distinct().count() == n


def test_retention_cohort_week_zero_is_full(spark, sf_dir):
    """Every cohort is 100% retained at offset 0 (its own first week),
    and retention never exceeds 1."""
    from pyspark.sql import functions as F

    from cs422pp_mapreduce_spark.operators.events import q_retention_cohorts

    ret = q_retention_cohorts(spark, sf_dir)
    w0 = ret.where(F.col("week_offset") == 0)
    assert w0.where(F.col("n_active") != F.col("cohort_size")).count() == 0
    assert ret.where(F.col("retention") > 1.0).count() == 0
    assert ret.count() > 0


def test_q_stream_event_tumbling_equals_batch(spark, sf_dir):
    """The registered driver-contract streaming query (readStream over
    the fixture dir, complete-mode memory sink, availableNow) equals
    the batch twin row-for-row — the invariant that makes its DuckDB
    oracle the batch oracle."""
    from cs422pp_mapreduce_spark.streaming.events import (
        q_stream_event_tumbling,
    )

    cols = ["win_start", "event_type", "n_events", "sum_value"]
    got = _key(q_stream_event_tumbling(spark, sf_dir).collect(), cols)
    batch = _key(EV.q_event_tumbling(spark, sf_dir).collect(), cols)
    assert got == batch
    assert len(got) > 0


def test_q_stream_memory_sinks_leave_no_views(spark, sf_dir):
    """A contract query drops its memory-sink view once its frame holds
    the sink: repeated calls leave no view behind, and every frame
    still collects the sink's rows."""
    from cs422pp_mapreduce_spark.streaming.events import (
        q_stream_event_tumbling,
    )

    cols = ["win_start", "event_type", "n_events", "sum_value"]
    frames = [q_stream_event_tumbling(spark, sf_dir) for _ in range(3)]
    views = [t.name for t in spark.catalog.listTables()]
    assert not [v for v in views if v.startswith("stream_event_tumbling_")]
    rows = [_key(f.collect(), cols) for f in frames]
    assert rows[0] == rows[1] == rows[2]
    assert len(rows[0]) > 0


def test_q_stream_event_session_equals_batch_native(spark, sf_dir):
    """Complete-mode session-window streaming equals the batch
    session_window aggregation exactly (merging session state
    converges to the batch grouping at end-of-stream)."""
    from cs422pp_mapreduce_spark.streaming.events import (
        q_stream_event_session,
    )

    cols = ["user_id", "session_start", "session_end", "n_events",
            "sum_value"]
    got = _key(q_stream_event_session(spark, sf_dir).collect(), cols)
    batch = _key(EV.q_event_session_native(spark, sf_dir).collect(), cols)
    assert got == batch
    assert len(got) > 0


def test_stream_source_handles_both_ts_layouts(spark, tmp_path):
    """read_event_stream_auto's footer probe must yield identical
    streaming results for int64-nanos and timestamp[us] physical
    layouts (the fixture has shipped both across rounds — same
    invariant the batch loader pins in test_sources_sinks)."""
    import datetime as dt

    import pyarrow as pa
    import pyarrow.parquet as pq

    from cs422pp_mapreduce_spark.streaming.events import (
        q_stream_event_tumbling,
    )

    micros = (
        int(dt.datetime(2024, 3, 1, 12, 30, 45, tzinfo=dt.timezone.utc)
            .timestamp()) * 1_000_000 + 123456
    )
    base = {
        "event_id": [1, 2], "user_id": [7, 8],
        "event_type": ["click", "click"], "value": [1.5, 2.5],
        "props": ["{}", "{}"],
    }

    def write(dirname, ts_array):
        d = tmp_path / dirname
        d.mkdir()
        cols = dict(base)
        cols["ts"] = ts_array
        pq.write_table(pa.table(cols), str(d / "events.parquet"))
        return str(d)

    layouts = {
        "us": pa.array([micros, micros + 1], pa.timestamp("us")),
        "ns": pa.array(
            [micros * 1000, (micros + 1) * 1000], pa.timestamp("ns")
        ),
    }
    cols = ["win_start", "event_type", "n_events", "sum_value"]
    got = {
        name: _key(q_stream_event_tumbling(spark, write(name, arr)).collect(),
                   cols)
        for name, arr in layouts.items()
    }
    assert got["us"] == got["ns"]
    assert got["us"][0][2] == 2  # both events in the one window


def test_session_gap_boundary(spark, tmp_path):
    """Exact-boundary convention pin (ADVICE r04): Spark session_window's
    merge rule is INCLUSIVE at the boundary — a gap of EXACTLY the
    30-minute session gap MERGES; only a strictly-greater gap splits.
    (The ADVICE hypothesized the opposite, an exclusive end; this test
    records what Spark 4.1 actually computes and holds the explicit
    gaps-and-islands formulation and the DuckDB oracle to the same
    convention, so a regenerated fixture with an exact-boundary gap can
    never flip the shared event_session oracle row.)"""
    import datetime as dt

    import duckdb

    from cs422pp_mapreduce_spark.oracles import ORACLES

    base = dt.datetime(2024, 5, 1, 0, 0, 0)
    gap = dt.timedelta(seconds=1800)
    rows = [
        # user 1: exactly-1800s gap → MERGES → 1 session
        (1, base, 1, "e", 1.0, "{}"),
        (2, base + gap, 1, "e", 1.0, "{}"),
        # user 2: 1800s - 1µs gap → 1 session
        (3, base, 2, "e", 1.0, "{}"),
        (4, base + gap - dt.timedelta(microseconds=1), 2, "e", 1.0, "{}"),
        # user 3: 1800s + 1µs gap → SPLITS → 2 sessions
        (5, base, 3, "e", 1.0, "{}"),
        (6, base + gap + dt.timedelta(microseconds=1), 3, "e", 1.0, "{}"),
    ]
    df = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    d = str(tmp_path / "boundary")
    os.makedirs(d, exist_ok=True)
    df.write.mode("overwrite").parquet(f"{d}/events.parquet")

    def sessions_per_user(frame):
        out: dict[int, int] = {}
        for r in frame.collect():
            out[r["user_id"]] = out.get(r["user_id"], 0) + 1
        return out

    expect = {1: 1, 2: 1, 3: 2}
    assert sessions_per_user(EV.q_event_session(spark, d)) == expect
    assert sessions_per_user(EV.q_event_session_native(spark, d)) == expect

    con = duckdb.connect()
    con.sql(
        f"CREATE VIEW events AS "
        f"SELECT * FROM read_parquet('{d}/events.parquet/*.parquet')"
    )
    oracle = con.sql(ORACLES["event_session"]).df()
    got = oracle.groupby("user_id").size().to_dict()
    assert got == expect


def test_rolling_hll_tracks_exact_within_error(spark, sf_dir):
    """The sketch-windowed 7-day distinct must track the exact
    per-(type, day) trailing distinct within generous HLL error
    (lgK=12 default ≈ 1.6% relative standard error; assert 10%),
    and the exact n_events_7d bookkeeping must match exactly."""
    import pandas as pd

    from cs422pp_mapreduce_spark.operators.events import q_rolling_hll
    from cs422pp_mapreduce_spark.sources.catalog import load_table
    from pyspark.sql import functions as F

    out = q_rolling_hll(spark, sf_dir).toPandas()
    ev = (
        load_table(spark, sf_dir, "events")
        .select("event_type", "user_id", F.to_date("ts").alias("day"))
        .toPandas()
    )
    assert out["within_bound"].all()  # the r09 driver-contract boolean
    for _, r in out.sample(n=min(40, len(out)), random_state=7).iterrows():
        hi = pd.Timestamp(r["day"]).date()  # 'day' ships as timestamp
        lo = (pd.Timestamp(hi) - pd.Timedelta(days=6)).date()
        win = ev[
            (ev.event_type == r["event_type"])
            & (ev.day >= lo)
            & (ev.day <= hi)
        ]
        exact = win.user_id.nunique()
        assert exact > 0
        assert r["exact_users_7d"] == exact
        assert r["n_events_7d"] == len(win)

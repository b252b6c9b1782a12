"""applyInPandasWithState custom stateful operator: the final streamed
state must equal the one-pass batch aggregation."""

from __future__ import annotations

import pytest

from cs422pp_mapreduce_spark.sources.catalog import load_table
from cs422pp_mapreduce_spark.streaming.events import (
    drain_to_memory,
    read_event_stream,
)
from cs422pp_mapreduce_spark.streaming.stateful import (
    user_activity_profile,
    user_activity_profile_batch,
)


def _batches_with_input(query) -> int:
    return sum(1 for p in query.recentProgress if p["numInputRows"] > 0)


@pytest.fixture()
def stream_dir(spark, sf_dir, tmp_path):
    ev = load_table(spark, sf_dir, "events")
    # two files → two micro-batches → state actually carries over
    d = str(tmp_path / "src")
    ev.where("event_id % 2 = 0").coalesce(1).write.mode("append").parquet(d)
    ev.where("event_id % 2 = 1").coalesce(1).write.mode("append").parquet(d)
    return d


def test_stateful_profile_converges_to_batch(spark, sf_dir, stream_dir):
    stream = read_event_stream(spark, stream_dir, max_files_per_trigger=1)
    q = drain_to_memory(user_activity_profile(stream), "t_profiles", "update")
    # one micro-batch per staged file, so the second one folds into
    # state the first one left
    assert _batches_with_input(q) == 2
    # update mode emits one row per user per micro-batch; the final
    # state per user is the row with max n_events (monotone counters)
    emitted = spark.table(q.name).toPandas()
    batch = user_activity_profile_batch(
        load_table(spark, sf_dir, "events")
    ).toPandas()
    got = {
        int(r["user_id"]): (int(r["n_events"]), round(float(r["sum_value"]), 4))
        for _, r in emitted.groupby("user_id")
        .agg({"n_events": "max", "sum_value": "max", "user_id": "first"})
        .iterrows()
    }
    want = {
        int(r["user_id"]): (int(r["n_events"]), round(float(r["sum_value"]), 4))
        for _, r in batch.iterrows()
    }
    assert got == want


def test_event_time_ttl_expires_idle_keys_under_skew(spark, tmp_path):
    """EventTimeTimeout expiry: a key idle past TTL *in event time* is
    dropped once the watermark (advanced by other keys' events) passes
    its last event + TTL — regardless of how fast the replay runs."""
    import datetime as dt

    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)

    def ev(eid, ts, uid, val):
        return (eid, ts, uid, "click", val, "{}")

    schema = (
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string"
    )
    d = str(tmp_path / "src")
    batches = [
        # batch 1: user 1 twice at t0
        [ev(1, t0, 1, 1.0), ev(2, t0, 1, 2.0)],
        # batch 2: user 2 at t0+3h → watermark → t0+3h−10min, far past
        # user 1's timeout (t0 + 60min TTL)
        [ev(3, t0 + dt.timedelta(hours=3), 2, 1.0)],
        # batch 3: user 3 at t0+3h → user 1's timeout fires this batch
        [ev(4, t0 + dt.timedelta(hours=3), 3, 1.0)],
        # batch 4: user 1 returns at t0+4h — state must have been
        # removed, so the profile restarts at n_events=1
        [ev(5, t0 + dt.timedelta(hours=4), 1, 5.0)],
    ]
    for rows in batches:
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(d)

    stream = read_event_stream(spark, d, max_files_per_trigger=1)
    q = drain_to_memory(
        user_activity_profile(stream, ttl_minutes=60, event_time=True),
        "t_profiles_ettl",
        "update",
    )
    # expiry needs the watermark carried across batches, not one drain
    assert _batches_with_input(q) == 4
    user1_counts = {
        r.n_events
        for r in spark.table(q.name).where("user_id = 1").collect()
    }
    # without expiry the return visit would emit n_events=3
    assert 1 in user1_counts and 2 in user1_counts
    assert 3 not in user1_counts


class _FakeState:
    """Minimal GroupState stand-in for unit-driving the fold kernels."""

    def __init__(self):
        self.exists = False
        self._v = None

    @property
    def get(self):
        return self._v

    def update(self, v):
        self._v = v
        self.exists = True


def _split_interleaved(pdf, n=3):
    """Partition rows round-robin so every chunk's time range overlaps
    every other's — the shuffle-read interleaving ADVICE r08 warned
    per-chunk sorting silently diverges on."""
    return [pdf.iloc[i::n].reset_index(drop=True) for i in range(n)]


def test_stateful_folds_chunk_order_independent():
    """The ewma/twap/cusum state updates must give bit-identical
    results whether a key's micro-batch arrives as one sorted chunk or
    as interleaving Arrow chunks (ADVICE r08: concat-then-sort-once)."""
    import pandas as pd

    from cs422pp_mapreduce_spark.streaming.stateful import (
        _update_cusum,
        _update_ewma,
        _update_twap,
    )

    rng = list(range(40))
    ewma_pdf = pd.DataFrame(
        {
            "user_id": [7] * 40,
            "ts": [i // 2 for i in rng],  # duplicate ts → event_id tiebreak
            "event_id": rng,
            "value": [((i * 37) % 19) - 9.5 for i in rng],
        }
    )
    twap_pdf = pd.DataFrame(
        {
            "user_id": [7] * 40,
            "t_us": [1_000_000 + 10 * (i // 2) for i in rng],
            "event_id": rng,
            "vi": [((i * 53) % 41) - 20 for i in rng],
        }
    )
    n_tot = 40
    s_tot = sum(((i * 53) % 41) - 20 for i in rng)
    cusum_pdf = twap_pdf.rename(columns={"t_us": "ts"}).assign(
        n=n_tot, s=s_tot
    )

    for fn, pdf in (
        (_update_ewma, ewma_pdf),
        (_update_twap, twap_pdf),
        (_update_cusum, cusum_pdf),
    ):
        one = _FakeState()
        out_one = list(fn((7,), iter([pdf]), one))
        inter = _FakeState()
        out_inter = list(fn((7,), iter(_split_interleaved(pdf)), inter))
        assert one._v == inter._v, fn.__name__
        pd.testing.assert_frame_equal(
            pd.concat(out_one), pd.concat(out_inter)
        )
        # empty-iterator edge: no chunks must not crash (pd.concat([]))
        empty = _FakeState()
        list(fn((7,), iter([]), empty))


def test_ewma_pandas_kernel_bit_identical_to_loop():
    """_update_ewma's pandas ewm(adjust=False) kernel must equal the
    explicit s = s*(1-a) + x*a loop BIT-FOR-BIT, including seeded
    continuation across micro-batches — the property the r09 C-kernel
    swap rests on (a pandas implementation change that breaks it must
    fail here, not in the driver gate)."""
    import numpy as np
    import pandas as pd

    from cs422pp_mapreduce_spark.operators.events import EWMA_ALPHA
    from cs422pp_mapreduce_spark.streaming.stateful import _update_ewma

    a, b = EWMA_ALPHA, 1.0 - EWMA_ALPHA
    rng = np.random.default_rng(23)
    for trial in range(50):
        scale = 10.0 ** float(rng.integers(-100, 100))
        xs = (rng.normal(size=int(rng.integers(1, 60))) * scale).tolist()
        ys = (rng.normal(size=int(rng.integers(1, 40))) * scale).tolist()
        s = None
        for x in xs + ys:
            s = x if s is None else s * b + x * a

        st8 = _FakeState()
        def batch(vals, off):
            return pd.DataFrame(
                {
                    "user_id": [1] * len(vals),
                    "ts": range(off, off + len(vals)),
                    "event_id": range(off, off + len(vals)),
                    "value": vals,
                }
            )
        list(_update_ewma((1,), iter([batch(xs, 0)]), st8))
        list(_update_ewma((1,), iter([batch(ys, len(xs))]), st8))
        n_got, s_got = st8._v
        assert n_got == len(xs) + len(ys)
        assert s_got == s, (trial, s_got, s)


def test_ewma_rejects_nan_value_loudly():
    """ewm(adjust=False) silently skips NaN while n_events still
    counts the row — a null 'value' must fail loudly instead of
    yielding a finite ewma with an inflated count (ADVICE r09)."""
    import numpy as np
    import pandas as pd
    import pytest

    from cs422pp_mapreduce_spark.streaming.stateful import _update_ewma

    pdf = pd.DataFrame(
        {
            "user_id": [3, 3, 3],
            "ts": [0, 1, 2],
            "event_id": [0, 1, 2],
            "value": [1.0, np.nan, 2.0],
        }
    )
    with pytest.raises(ValueError, match="null/NaN"):
        list(_update_ewma((3,), iter([pdf]), _FakeState()))

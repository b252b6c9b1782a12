"""Build-once staging and per-fixture tags for the streaming contract
queries' staged inputs (sources/staging.py)."""

from __future__ import annotations

import os
import tempfile
import threading
import time

import pyarrow.parquet as pq

from cs422pp_mapreduce_spark.sources import staging
from cs422pp_mapreduce_spark.sources.staging import build_once, sf_tag


def test_sf_tag_tells_same_named_fixtures_apart(tmp_path):
    a, b = tmp_path / "a" / "sf0.01", tmp_path / "b" / "sf0.01"
    assert sf_tag(str(a)) != sf_tag(str(b))
    assert sf_tag(str(a)) == sf_tag(str(a) + "/")
    assert sf_tag(str(a)).startswith("sf0_01_")
    # a valid metastore identifier: word characters only
    assert sf_tag(str(a)).replace("_", "").isalnum()


def test_same_named_fixtures_stage_their_own_rows(spark, tmp_path):
    """Two fixture directories named alike but holding different rows:
    each stages its own events and documents within one session."""
    import datetime as dt

    from cs422pp_mapreduce_spark.streaming.events import (
        stage_document_files,
        stage_event_files,
    )

    t0 = dt.datetime(2024, 1, 1)
    dirs = {}
    for copy, ids in (("a", [1, 2, 3, 4]), ("b", [11, 12, 13, 14])):
        d = str(tmp_path / copy / "sf_same")
        spark.createDataFrame(
            [(i, t0 + dt.timedelta(minutes=i), 1, "view", 1.0, "{}")
             for i in ids],
            "event_id long, ts timestamp, user_id long, "
            "event_type string, value double, props string",
        ).coalesce(1).write.parquet(os.path.join(d, "events.parquet"))
        spark.createDataFrame(
            [(i, "w", "en", "s", 1) for i in ids],
            "doc_id long, text string, lang string, source string, "
            "n_chars long",
        ).coalesce(1).write.parquet(os.path.join(d, "documents.parquet"))
        dirs[copy] = (d, ids)

    def staged(src, col):
        return sorted(
            v for f in os.listdir(src)
            for v in pq.read_table(os.path.join(src, f), columns=[col])
            .column(col).to_pylist()
        )

    for d, ids in dirs.values():
        assert staged(stage_event_files(spark, d, n_files=2), "event_id") == ids
        assert staged(stage_document_files(spark, d, n_files=2), "doc_id") == ids


def test_build_once_builds_once_under_concurrency(spark):
    """Two threads make the first call for one tag at the same time:
    the build runs once and both get the same slice files."""
    calls = []
    start = threading.Barrier(2)
    got = [None, None]

    def slices():
        calls.append(1)
        time.sleep(1.0)  # hold the build open while the other caller arrives
        return [spark.range(3), spark.range(3, 5)]

    def call(i):
        start.wait()
        got[i] = build_once(spark, "build_once_race", slices)

    threads = [threading.Thread(target=call, args=(i,)) for i in (0, 1)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert len(calls) == 1
    assert got[0] == got[1] and len(got[0]) == 2
    assert [pq.read_table(p).num_rows for p in got[0]] == [3, 2]
    # a later call reuses the files without building
    assert build_once(spark, "build_once_race", slices) == got[0]
    assert len(calls) == 1


def test_per_call_dirs_live_in_staging_and_go_at_cleanup(
    spark, sf_dir, monkeypatch
):
    """The per-call run dirs of the restart contracts and the
    date-partitioned events copy live inside this process's staging
    dirs, which the exit-time cleanup removes; none is left in the
    temp dir. The registry is swapped for an empty one, so the cleanup
    here removes only what these calls staged."""
    from cs422pp_mapreduce_spark.operators.events import q_events_partitioned
    from cs422pp_mapreduce_spark.streaming.events import (
        q_stream_event_recovery,
        q_stream_foreach_upsert,
    )

    monkeypatch.setattr(staging, "_STAGING", {})
    prefixes = ("stream_recovery_", "stream_upsert_", "events_by_date_")

    def left() -> set[str]:
        tmp = tempfile.gettempdir()
        return {n for n in os.listdir(tmp) if n.startswith(prefixes)}

    before = left()
    assert q_stream_event_recovery(spark, sf_dir).count() > 0
    assert q_stream_foreach_upsert(spark, sf_dir).count() > 0
    assert q_events_partitioned(spark, sf_dir).count() > 0
    staged = list(staging._STAGING.values())
    assert staged and all(os.path.isdir(p) for p in staged)
    staging.remove_staging_dirs()
    assert not [p for p in staged if os.path.exists(p)]
    assert left() - before == set()

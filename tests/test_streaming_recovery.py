"""Checkpoint-recovery semantics: a restarted query resumes from its
checkpoint and processes ONLY data that arrived since — no reprocessing,
no loss — which is the exactly-once contract Structured Streaming's
offset log + sink commit log provide over a replayable source.

The reference has no recovery story at all (a failed worker loses its
partition); this is the Spark-native upgrade the SURVEY's streaming
section claims, so it gets a test.
"""

from __future__ import annotations

import os
from datetime import datetime, timedelta, timezone

from pyspark.sql import functions as F


def _run_available(spark, src_dir, ckpt, table):
    stream = (
        spark.readStream.schema("value string").format("text").load(src_dir)
    )
    counts = stream.groupBy("value").agg(F.count(F.lit(1)).alias("cnt"))
    q = (
        counts.writeStream.format("memory")
        .queryName(table)
        .outputMode("complete")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    q.stop()


def test_restart_resumes_from_checkpoint(spark, tmp_path):
    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(src)

    with open(f"{src}/batch0.txt", "w") as f:
        f.write("alpha\nbeta\nalpha\n")
    _run_available(spark, src, ckpt, "t_recovery")
    first = {
        r["value"]: r["cnt"] for r in spark.table("t_recovery").collect()
    }
    assert first == {"alpha": 2, "beta": 1}

    # new data lands while the query is DOWN; the restart must pick up
    # exactly the delta and merge it into state recovered from the
    # checkpoint (complete-mode counts include the old data exactly once)
    with open(f"{src}/batch1.txt", "w") as f:
        f.write("beta\ngamma\n")
    _run_available(spark, src, ckpt, "t_recovery2")
    second = {
        r["value"]: r["cnt"] for r in spark.table("t_recovery2").collect()
    }
    assert second == {"alpha": 2, "beta": 2, "gamma": 1}

    # a third restart with NO new data must execute NO batch at all:
    # the offset log already covers the source listing, so nothing is
    # replayed and the fresh memory sink stays empty — the observable
    # form of "no reprocessing after recovery"
    _run_available(spark, src, ckpt, "t_recovery3")
    assert spark.table("t_recovery3").count() == 0


def test_recovery_contract_query_processes_only_delta(spark, sf_dir):
    """The driver-contract recovery sequence genuinely RESUMES: phase 2
    must read only the files that landed while the query was down (the
    offset log covers phase 1's), and its state must still include
    phase 1's counts. A fresh-start phase 2 would read all 4 slices;
    an offset-only recovery without state would under-count."""
    import os
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from cs422pp_mapreduce_spark.sources.catalog import load_table
    from cs422pp_mapreduce_spark.streaming.events import (
        _tumbling_agg,
        drain_to_memory,
        read_event_stream,
    )

    base = tempfile.mkdtemp(prefix="recovery_delta_")
    stage, src, ckpt = (os.path.join(base, d) for d in ("stage", "src", "ckpt"))
    os.makedirs(src)
    ev = load_table(spark, sf_dir, "events")
    for i in range(4):
        ev.where(F.col("event_id") % 4 == i).coalesce(1).write.parquet(
            f"{stage}/s{i}"
        )

    def land(i):
        d = f"{stage}/s{i}"
        f = next(n for n in os.listdir(d) if n.endswith(".parquet"))
        shutil.copy(os.path.join(d, f), os.path.join(src, f"s{i}.parquet"))

    def run(table):
        q = drain_to_memory(
            _tumbling_agg(read_event_stream(spark, src)),
            table,
            checkpoint_dir=ckpt,
        )
        return q.name, sum(p["numInputRows"] for p in q.recentProgress)

    land(0)
    land(1)
    run("t_rec_phase1")
    land(2)
    land(3)
    delta = ev.where(F.col("event_id") % 4 >= 2).count()
    total = ev.count()
    table, rows_read = run("t_rec_phase2")
    assert rows_read == delta, (rows_read, delta)
    # state recovered: final counts cover ALL events, not just the delta
    final = spark.table(table).agg(F.sum("n_events")).collect()[0][0]
    assert final == total, (final, total)


def test_upsert_versioned_replay_is_idempotent(spark, tmp_path):
    """A replayed foreachBatch (same batch_id re-offered after an
    uncommitted restart) must leave the table identical: the apply
    merges from the newest OLDER version and overwrites its own, so
    applying batch 1 twice — even with different row order — yields
    the same table as applying it once."""
    from cs422pp_mapreduce_spark.streaming.events import (
        table_versions,
        upsert_versioned,
    )

    tdir = str(tmp_path / "target")
    import os

    os.makedirs(tdir)
    b0 = spark.createDataFrame(
        [("a", 1), ("b", 2)], "k string, v int"
    )
    b1 = spark.createDataFrame(
        [("b", 20), ("c", 30)], "k string, v int"
    )
    upsert_versioned(tdir, b0, 0, "k")
    upsert_versioned(tdir, b1, 1, "k")
    once = sorted(
        (r["k"], r["v"])
        for r in spark.read.parquet(f"{tdir}/v1").collect()
    )
    assert once == [("a", 1), ("b", 20), ("c", 30)]
    # replay batch 1 (restart re-offers the same id)
    upsert_versioned(tdir, b1, 1, "k")
    again = sorted(
        (r["k"], r["v"])
        for r in spark.read.parquet(f"{tdir}/v1").collect()
    )
    assert again == once
    assert table_versions(tdir) == [0, 1]


T0 = datetime(2024, 1, 1, tzinfo=timezone.utc)
CKPT_MANAGER = "spark.sql.streaming.checkpointFileManagerClass"
CKPT_PKG = "org.apache.spark.sql.execution.streaming.checkpointing."


def _land_events(src, name, ids):
    """One parquet file of ``ids`` with a timestamp a second apart each."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    ts = [T0 + timedelta(seconds=i) for i in ids]
    pq.write_table(
        pa.table({
            "event_id": pa.array(ids, pa.int64()),
            "ts": pa.array(ts, pa.timestamp("us", tz="UTC")),
        }),
        str(src / f"{name}.parquet"),
    )


def _run_dedup(spark, src, ckpt, sink):
    """Drain ``src`` through stream dedup into a parquet sink in one
    availableNow run; returns the run's progress reports."""
    from cs422pp_mapreduce_spark.streaming.dedup import stream_dedup_events

    events = spark.readStream.schema("event_id long, ts timestamp").parquet(
        str(src)
    )
    q = (
        stream_dedup_events(events, watermark="1 hour")
        .writeStream.format("parquet")
        .option("path", str(sink))
        .option("checkpointLocation", str(ckpt))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    progress = q.recentProgress
    q.stop()
    assert progress
    return progress


def _sink_ids(spark, sink):
    return sorted(r["event_id"] for r in spark.read.parquet(str(sink)).collect())


def test_checkpoint_keeps_its_state_partition_count(spark, tmp_path):
    """A checkpoint keeps the state-partition count it started with:
    Spark restores ``spark.sql.shuffle.partitions`` from the offset log,
    so a dedup stream begun under 8 partitions and restarted under
    ``stream_drain_conf`` still runs 8 state stores and still emits each
    event exactly once. A fresh checkpoint under the drain conf runs
    ``stream_state_partitions()`` of them."""
    from cs422pp_mapreduce_spark.session import (
        scoped_conf,
        stream_state_partitions,
    )
    from cs422pp_mapreduce_spark.streaming.events import stream_drain_conf

    def state_ops(progress):
        ops = [op for p in progress for op in p.stateOperators]
        assert ops
        return ops

    src = tmp_path / "src"
    src.mkdir()
    ckpt, sink = tmp_path / "ckpt8", tmp_path / "sink8"
    _land_events(src, "b0", list(range(100)))
    with scoped_conf(spark, {"spark.sql.shuffle.partitions": "8"}):
        _run_dedup(spark, src, ckpt, sink)
    _land_events(src, "b1", list(range(50, 150)))
    with stream_drain_conf(spark):
        ops = state_ops(_run_dedup(spark, src, ckpt, sink))
    assert {op.numShufflePartitions for op in ops} == {8}
    assert _sink_ids(spark, sink) == list(range(150))

    with stream_drain_conf(spark):
        ops = state_ops(
            _run_dedup(spark, src, tmp_path / "ckpt_fresh", tmp_path / "sink_fresh")
        )
    assert {op.numStateStoreInstances for op in ops} == {
        stream_state_partitions()
    }


def test_checkpoint_changes_file_manager_without_replaying(spark, tmp_path):
    """A dedup checkpoint begun under Spark's FileContext-based manager
    restarts under the session default, the FileSystem-based one: the
    restart reads only the file that landed while the stream was down,
    the sink holds each id once, and the checkpoint keeps its Hadoop
    ``.crc`` files in the logs and beside the state deltas."""
    from cs422pp_mapreduce_spark.session import scoped_conf

    src = tmp_path / "src"
    src.mkdir()
    ckpt, sink = tmp_path / "ckpt", tmp_path / "sink"
    _land_events(src, "b0", list(range(100)))
    file_context = CKPT_PKG + "FileContextBasedCheckpointFileManager"
    with scoped_conf(spark, {CKPT_MANAGER: file_context}):
        _run_dedup(spark, src, ckpt, sink)
    _land_events(src, "b1", list(range(50, 150)))
    progress = _run_dedup(spark, src, ckpt, sink)

    assert spark.conf.get(CKPT_MANAGER) == (
        CKPT_PKG + "FileSystemBasedCheckpointFileManager"
    )
    assert sum(p["numInputRows"] for p in progress) == 100
    assert _sink_ids(spark, sink) == list(range(150))
    # Hadoop checksums of the files the restart wrote (state version
    # N + 1 holds batch N)
    batch = progress[0]["batchId"]
    for log in ("offsets", "commits"):
        assert f".{batch}.crc" in os.listdir(ckpt / log), log
    assert f".{batch + 1}.delta.crc" in os.listdir(ckpt / "state" / "0" / "0")

"""Streaming word count (the reference's query, incremental),
stream-stream interval join, and stream-static enrichment vs their
batch twins."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from cs422pp_mapreduce_spark.operators.wordcount import wordcount_df
from cs422pp_mapreduce_spark.sources.catalog import load_table
from cs422pp_mapreduce_spark.streaming.events import (
    drain_to_memory,
    read_event_stream,
)
from cs422pp_mapreduce_spark.streaming.joins import enrich_stream, interval_join
from cs422pp_mapreduce_spark.streaming.wordcount import (
    read_text_stream,
    stream_wordcount,
)


def test_stream_wordcount_equals_batch(spark, tmp_path):
    d = str(tmp_path / "txt")
    import os

    os.makedirs(d)
    chunks = ["the fox ran\nthe dog slept\n", "a fox a dog\nthe end\n"]
    for i, chunk in enumerate(chunks):
        with open(f"{d}/part{i}.txt", "w") as f:
            f.write(chunk)
    counts = stream_wordcount(read_text_stream(spark, d))
    q = (
        counts.writeStream.format("memory")
        .queryName("t_stream_wc")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        r["word"]: r["cnt"] for r in spark.table("t_stream_wc").collect()
    }
    batch_lines = spark.createDataFrame(
        [(l,) for c in chunks for l in c.splitlines()], "value string"
    )
    want = {r["word"]: r["cnt"] for r in wordcount_df(batch_lines).collect()}
    assert got == want


@pytest.fixture()
def event_stream_dir(spark, sf_dir, tmp_path):
    d = str(tmp_path / "ev")
    ev = load_table(spark, sf_dir, "events")
    ev.where("event_id % 2 = 0").coalesce(1).write.mode("append").parquet(d)
    ev.where("event_id % 2 = 1").coalesce(1).write.mode("append").parquet(d)
    return d


def test_stream_stream_interval_join_equals_batch(spark, sf_dir, event_stream_dir):
    clicks = read_event_stream(spark, event_stream_dir).where(
        F.col("event_type") == "click"
    )
    purchases = read_event_stream(spark, event_stream_dir).where(
        F.col("event_type") == "purchase"
    )
    joined = interval_join(clicks, purchases, key="user_id", gap_minutes=30)
    q = drain_to_memory(joined, "t_ssj", "append")
    got = {
        (r["left_id"], r["right_id"]) for r in spark.table(q.name).collect()
    }

    ev = load_table(spark, sf_dir, "events")
    c = ev.where("event_type = 'click'").select(
        F.col("user_id").alias("k"), F.col("ts").alias("lts"),
        F.col("event_id").alias("left_id"),
    )
    p = ev.where("event_type = 'purchase'").select(
        F.col("user_id").alias("rk"), F.col("ts").alias("rts"),
        F.col("event_id").alias("right_id"),
    )
    want = {
        (r["left_id"], r["right_id"])
        for r in c.join(
            p,
            (F.col("k") == F.col("rk"))
            & (F.col("rts") >= F.col("lts"))
            & (F.col("rts") < F.col("lts") + F.expr("INTERVAL 30 MINUTES")),
        ).collect()
    }
    # stream-stream inner join emits matches whose watermark window
    # closed; with availableNow over finite input all matches except
    # possibly those near the stream end are emitted — require subset +
    # high coverage, and nothing spurious
    assert got <= want
    assert len(got) >= 0.8 * len(want)


def test_foreach_batch_sink_partitioned_parquet(spark, sf_dir, tmp_path):
    """foreachBatch: every micro-batch lands through an ordinary batch
    writer (write_parquet) into batch_id-partitioned output; the union
    of batches equals the input exactly once."""
    from cs422pp_mapreduce_spark.sources.sinks import write_parquet
    from cs422pp_mapreduce_spark.streaming.events import drain

    ev = load_table(spark, sf_dir, "events")
    src = str(tmp_path / "src")
    ev.where("event_id % 2 = 0").coalesce(1).write.mode("append").parquet(src)
    ev.where("event_id % 2 = 1").coalesce(1).write.mode("append").parquet(src)

    out = str(tmp_path / "out")
    seen_batches = []

    def sink(batch_df, batch_id):
        seen_batches.append(batch_id)
        write_parquet(
            batch_df.withColumn("batch_id", F.lit(batch_id)),
            f"{out}/batch_id={batch_id}",
            mode="overwrite",  # idempotent per batch_id → exactly-once
        )

    stream = read_event_stream(spark, src, max_files_per_trigger=1)
    drain(
        stream.writeStream.foreachBatch(sink).option(
            "checkpointLocation", str(tmp_path / "ckpt")
        ),
        spark,
    )
    assert len(seen_batches) >= 2  # one per input file
    back = spark.read.parquet(f"{out}/batch_id=*")
    assert back.count() == ev.count()
    assert set(
        r["event_id"] for r in back.select("event_id").collect()
    ) == set(r["event_id"] for r in ev.select("event_id").collect())


def test_stream_static_enrichment_equals_batch(
    spark, sf_dir, event_stream_dir
):
    """Stream-static joins are stateless: with availableNow over finite
    input the streamed enrichment must equal the batch left join
    EXACTLY — no watermark slack, unlike the stream-stream case."""
    dim = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_mktsegment"
    )
    enriched = enrich_stream(
        read_event_stream(spark, event_stream_dir),
        dim,
        key="user_id",
        dim_key="c_custkey",
    ).select("event_id", "user_id", "c_name", "c_mktsegment")
    q = drain_to_memory(enriched, "t_enrich", "append")
    got = {tuple(r) for r in spark.table(q.name).collect()}

    ev = load_table(spark, sf_dir, "events")
    want = {
        tuple(r)
        for r in ev.join(
            dim, ev.user_id == dim.c_custkey, "left"
        )
        .select("event_id", "user_id", "c_name", "c_mktsegment")
        .collect()
    }
    assert got == want
    # left join keeps every event exactly once per source row
    assert len(got) == ev.select("event_id", "user_id").distinct().count()

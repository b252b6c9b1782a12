"""Streaming word count — the reference's single query, incremental.

The reference processes its corpus as a two-phase batch with a hard
barrier (/root/reference/mapreduce.cc:200). The same declarative plan
(explode(split) → filter → groupBy.count) behind ``readStream`` is the
engine's unbounded-corpus form: each micro-batch updates the running
counts via the same partial→final aggregation; complete/update output
modes expose the running totals. This is the cleanest demonstration
that the engine's operators are execution-model-agnostic.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..operators.wordcount import wordcount_df
from ..sources.catalog import TABLE_SCHEMAS
from .events import drain_to_memory, sink_frame, stage_document_files


def read_text_stream(spark: SparkSession, path: str,
                     max_files_per_trigger: int = 1) -> DataFrame:
    """Line stream over a directory of text files."""
    return (
        spark.readStream.option("maxFilesPerTrigger", max_files_per_trigger)
        .text(path)
    )


def stream_wordcount(lines: DataFrame) -> DataFrame:
    """Running (word, cnt) totals over a line stream — literally the
    batch operator applied to a streaming frame."""
    return wordcount_df(lines)


def stream_wordcount_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Un-started streaming plan behind q_stream_wordcount (the same
    aggregation over the catalog documents file) for analysis tooling."""
    raw = (
        spark.readStream.schema(TABLE_SCHEMAS["documents"])
        .option("pathGlobFilter", "documents.parquet")
        .parquet(sf_dir)
    )
    return wordcount_df(raw, "text")


def q_stream_wordcount(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The FLAGSHIP query — the reference's word count — computed
    through Structured Streaming: the documents table staged as two
    files (two micro-batches), counts accumulated incrementally in
    streaming aggregation state, complete-mode memory sink, drained
    with availableNow.

    Hash-verified against the SAME DuckDB oracle as the batch
    flagship: integer counts converge to the batch totals regardless
    of micro-batch boundaries (partial→final aggregation is the same
    plan shape the batch form compiles to — the engine's operators are
    execution-model-agnostic, which is the whole Spark-vs-reference
    point: the reference's two-phase barrier [mapreduce.cc:200] cannot
    express 'same query, unbounded input').

    Scale: per-batch map-side partials shuffle O(distinct words), and
    state is O(vocabulary) — the streaming wordcount every ingest
    pipeline runs as its arrival monitor."""
    raw = (
        spark.readStream.schema(TABLE_SCHEMAS["documents"])
        .option("maxFilesPerTrigger", 1)
        .parquet(stage_document_files(spark, sf_dir, n_files=2))
    )
    q = drain_to_memory(wordcount_df(raw, "text"), "stream_wordcount")
    return sink_frame(spark, q).orderBy("word")

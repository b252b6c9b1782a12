"""Word count — the reference's single query, Spark-first.

Reference semantics (SURVEY.md §2.1 #1-8): tokenize each line on a
single space (/root/reference/thread_pool.cc:87-89), pre-aggregate
within the chunk (combiner, thread_pool.cc:90-98), hash-partition by
word (thread_pool.cc:121-134), shuffle via tmp files
(thread_pool.cc:144-187), per-partition sort (thread_pool.cc:199-202),
group-reduce summing counts (thread_pool.cc:204-230), partitioned
ascending-sorted sink (thread_pool.cc:232-242).

Spark-first expression: ONE declarative plan —
``explode(split()) → filter('' ) → groupBy.count → orderBy`` — from
which Catalyst derives exactly the reference's physical strategy:
partial_count before the shuffle (≡ the combiner), hash shuffle on the
word (≡ the partitioner + tmp files), final HashAggregate (≡
group-reduce), and a range-partitioned sort for the ordered sink. We
choose *semantic* parity (drop empty tokens) over quirk parity (the
reference crashes on them, thread_pool.cc:125 — SURVEY.md §7).

Scale: the whole pipeline is whole-stage-codegen'd JVM work with
map-side partial aggregation, so shuffle volume is O(distinct words per
partition), not O(tokens). The final global ``orderBy`` is only for the
ordered-sink contract; ``wordcount_df`` without sort is the composable
form.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.catalog import load_table


def tokens(col: Column, sep: str = " ") -> Column:
    """Tokenize on a literal single separator, like the reference's
    ``getline(..., ' ')`` loop (thread_pool.cc:87-89)."""
    # F.split takes a regex; escape nothing for the single-space case,
    # but use F.lit+split_part-free literal form for safety.
    return F.split(col, sep)


def wordcount_df(lines: DataFrame, text_col: str = "value") -> DataFrame:
    """(word, cnt) counts over a column of text lines. Unordered."""
    return (
        lines.select(F.explode(tokens(F.col(text_col))).alias("word"))
        .where(F.col("word") != "")
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def wordcount(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship query: word counts over documents.text, word-ascending
    (the reference's ordered sink contract)."""
    docs = load_table(spark, sf_dir, "documents")
    return wordcount_df(docs, "text").orderBy("word")


def wordcount_rdd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RDD-facade flavor proving the MapReduce paradigm end-to-end:
    flatMap (map, thread_pool.cc:76-110) → reduceByKey (combiner +
    group-reduce; its map-side combine ≡ thread_pool.cc:90-98) →
    sortByKey (thread_pool.cc:199-202). Same result as ``wordcount``.

    Kept as a paradigm demonstration; the DataFrame form is the engine's
    hot path (codegen + Tungsten).
    """
    docs = load_table(spark, sf_dir, "documents")
    counts = (
        docs.select("text")
        .rdd.flatMap(lambda row: row[0].split(" "))
        .filter(lambda w: w != "")
        .map(lambda w: (w, 1))
        .reduceByKey(lambda a, b: a + b)
        .sortByKey()
    )
    return spark.createDataFrame(counts, schema="word string, cnt long")

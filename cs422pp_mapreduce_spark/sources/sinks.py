"""Partitioned sinks — the write side of the engine.

The reference's sink is one sorted text file per reducer partition
(`{job}-{r}.out`, /root/reference/thread_pool.cc:232-242) with
append-mode tmp files truncated up front (thread_pool.cc:245-256).
Spark-first generalization: ``df.write`` with explicit mode and layout
control. Number of output files = number of partitions, exactly the
reference's invariant.

Scale notes:
- ``partition_cols`` → hive-style directory partitioning: the layout
  that makes downstream scans prune;
- ``sort_cols`` + ``files_per_partition`` → sortWithinPartitions after
  a repartition: the reference's per-file ascending order, and the
  layout that maximizes parquet min/max pruning;
- 'overwrite' ≡ the reference's CleanExistingFile truncation.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame


def write_parquet(
    df: DataFrame,
    path: str,
    mode: str = "overwrite",
    partition_cols: Sequence[str] = (),
    sort_cols: Sequence[str] = (),
    files_per_partition: int | None = None,
) -> None:
    out = df
    if files_per_partition:
        out = out.repartition(files_per_partition, *partition_cols) \
            if partition_cols else out.repartition(files_per_partition)
    if sort_cols:
        out = out.sortWithinPartitions(*sort_cols)
    writer = out.write.mode(mode)
    if partition_cols:
        writer = writer.partitionBy(*partition_cols)
    writer.parquet(path)


def write_csv(df: DataFrame, path: str, mode: str = "overwrite",
              header: bool = True, **options: str) -> None:
    """Extra ``options`` pass through to the writer — e.g. a
    microsecond ``timestampFormat``: the DEFAULT CSV/JSON timestamp
    format truncates to milliseconds, silently losing µs precision on
    a round-trip (pinned by the csv/json_roundtrip contract queries,
    which write with an explicit µs format for exactly this reason)."""
    w = df.write.mode(mode).option("header", str(header).lower())
    for k, v in options.items():
        w = w.option(k, v)
    w.csv(path)


def write_json(df: DataFrame, path: str, mode: str = "overwrite",
               **options: str) -> None:
    """See write_csv for the ``options``/timestampFormat caveat."""
    w = df.write.mode(mode)
    for k, v in options.items():
        w = w.option(k, v)
    w.json(path)


def write_orc(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """ORC sink (Spark-native columnar; zlib by default) — same
    pushdown/pruning properties as parquet on re-read."""
    df.write.mode(mode).orc(path)


def write_kv_text(
    df: DataFrame, path: str, key_col: str, value_col: str,
    num_partitions: int | None = None, mode: str = "overwrite",
) -> None:
    """Reference-format sink: '{key} {value}' text rows, one file per
    partition, ascending by key within each file
    (thread_pool.cc:199-202,232-242)."""
    from pyspark.sql import functions as F

    out = df.select(
        F.concat_ws(" ", F.col(key_col).cast("string"),
                    F.col(value_col).cast("string")).alias("value")
    )
    if num_partitions:
        out = out.repartition(num_partitions)
    out.sortWithinPartitions("value").write.mode(mode).text(path)


def write_bucketed_table(
    df: DataFrame,
    table: str,
    path: str,
    bucket_cols: Sequence[str],
    buckets: int = 8,
    sort_cols: Sequence[str] = (),
    mode: str = "overwrite",
) -> None:
    """Bucketed managed-table sink (`bucketBy` requires `saveAsTable`).

    Bucketing is the 100 TB co-location tool: two tables bucketed the
    same way on the join key sort-merge-join with ZERO Exchange — the
    shuffle is paid once at write time, then every downstream join and
    aggregation on the bucket key is shuffle-free
    (tests/test_sources_sinks.py asserts the no-Exchange plan)."""
    writer = df.write.mode(mode).bucketBy(buckets, *bucket_cols)
    if sort_cols:
        writer = writer.sortBy(*sort_cols)
    writer.option("path", path).format("parquet").saveAsTable(table)


def compact_parquet_dir(
    spark,
    src: str,
    dst: str,
    target_file_mb: int = 128,
    mode: str = "overwrite",
) -> int:
    """Small-file compaction — the table-maintenance pass every
    long-running ingestion needs: streaming/incremental writers leave
    thousands of KB-sized files whose per-file open/footer cost
    eventually dominates scans. Rewrites ``src`` into
    ceil(bytes / target_file_mb) files at ``dst`` and returns that
    file count.

    The partition count comes from the ACTUAL input byte size (driver
    fs listing — metadata only, no data pass); `coalesce` avoids a
    shuffle when reducing file count (the common case), `repartition`
    only when growing it. Row contents are unchanged; parquet blocks
    re-encode at the new layout.
    """
    import math
    import os.path

    # Overwrite-into-self protection: Spark's overwrite DELETES dst
    # before the (lazy) read of src runs, so dst == src, dst nested
    # inside src, OR src nested inside dst (deleting dst recursively
    # removes src) would all destroy the input. Refuse up front.
    nsrc = os.path.normpath(os.path.abspath(src))
    ndst = os.path.normpath(os.path.abspath(dst))
    if (
        ndst == nsrc
        or ndst.startswith(nsrc + os.sep)
        or nsrc.startswith(ndst + os.sep)
    ):
        raise ValueError(
            f"compact_parquet_dir: dst {dst!r} must not equal, nest "
            f"inside, or contain src {src!r} (overwrite would delete "
            "the input)"
        )

    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()
    p = jvm.org.apache.hadoop.fs.Path(src)
    fs = p.getFileSystem(conf)
    total_bytes = fs.getContentSummary(p).getLength()
    n_files = max(1, math.ceil(total_bytes / (target_file_mb * 1024 * 1024)))

    df = spark.read.parquet(src)
    cur = df.rdd.getNumPartitions()
    out = df.coalesce(n_files) if n_files <= cur else df.repartition(n_files)
    out.write.mode(mode).parquet(dst)
    return n_files


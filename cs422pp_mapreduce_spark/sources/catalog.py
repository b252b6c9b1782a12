"""Table catalog: explicit schemas, loaders, view registration.

The reference's "catalog" was three compile-time C structs
(/root/reference/thread_pool.h:14-31) plus a chunked text-file reader
(/root/reference/thread_pool.cc:46-65). Here the catalog is explicit
``StructType`` schemas for the engine's tables (FIXTURES.md §B) and
loaders that go through ``spark.read`` so Catalyst gets column pruning
and predicate pushdown into the parquet scan for free.

Scale notes:
- Parquet is self-describing; ``load_table`` validates the footer schema
  against the declared one instead of forcing a cast-on-read.
- ``read_text_lines`` is the analog of the reference's input split: one
  DataFrame row per line; split sizing belongs to Spark
  (``spark.sql.files.maxPartitionBytes``), not to line-exact chunking —
  chunk layout never affects results (SURVEY.md §1.4).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

TABLE_SCHEMAS: dict[str, T.StructType] = {
    "region": T.StructType(
        [
            T.StructField("r_regionkey", T.IntegerType()),
            T.StructField("r_name", T.StringType()),
        ]
    ),
    "nation": T.StructType(
        [
            T.StructField("n_nationkey", T.IntegerType()),
            T.StructField("n_name", T.StringType()),
            T.StructField("n_regionkey", T.IntegerType()),
        ]
    ),
    "customer": T.StructType(
        [
            T.StructField("c_custkey", T.LongType()),
            T.StructField("c_name", T.StringType()),
            T.StructField("c_nationkey", T.IntegerType()),
            T.StructField("c_acctbal", T.DoubleType()),
            T.StructField("c_mktsegment", T.StringType()),
        ]
    ),
    "supplier": T.StructType(
        [
            T.StructField("s_suppkey", T.LongType()),
            T.StructField("s_name", T.StringType()),
            T.StructField("s_nationkey", T.IntegerType()),
            T.StructField("s_acctbal", T.DoubleType()),
        ]
    ),
    "part": T.StructType(
        [
            T.StructField("p_partkey", T.LongType()),
            T.StructField("p_name", T.StringType()),
            T.StructField("p_brand", T.StringType()),
            T.StructField("p_type", T.StringType()),
            T.StructField("p_size", T.IntegerType()),
            T.StructField("p_retailprice", T.DoubleType()),
        ]
    ),
    "orders": T.StructType(
        [
            T.StructField("o_orderkey", T.LongType()),
            T.StructField("o_custkey", T.LongType()),
            T.StructField("o_orderstatus", T.StringType()),
            T.StructField("o_totalprice", T.DoubleType()),
            T.StructField("o_orderdate", T.TimestampType()),
            T.StructField("o_orderpriority", T.StringType()),
        ]
    ),
    "lineitem": T.StructType(
        [
            T.StructField("l_orderkey", T.LongType()),
            T.StructField("l_partkey", T.LongType()),
            T.StructField("l_suppkey", T.LongType()),
            T.StructField("l_linenumber", T.IntegerType()),
            T.StructField("l_quantity", T.DoubleType()),
            T.StructField("l_extendedprice", T.DoubleType()),
            T.StructField("l_discount", T.DoubleType()),
            T.StructField("l_tax", T.DoubleType()),
            T.StructField("l_returnflag", T.StringType()),
            T.StructField("l_linestatus", T.StringType()),
            T.StructField("l_shipdate", T.TimestampType()),
        ]
    ),
    "events": T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("props", T.StringType()),
        ]
    ),
    "documents": T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
            T.StructField("lang", T.StringType()),
            T.StructField("source", T.StringType()),
            T.StructField("n_chars", T.LongType()),
        ]
    ),
    "embeddings": T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("embedding", T.ArrayType(T.FloatType())),
            T.StructField("label", T.IntegerType()),
        ]
    ),
}

TABLES = tuple(TABLE_SCHEMAS)


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


def load_table(
    spark: SparkSession, sf_dir: str, name: str, validate: bool = False
) -> DataFrame:
    """Load one catalog table as a DataFrame (parquet scan).

    The scan stays declarative: downstream ``select``/``where`` reach the
    reader as ReadSchema pruning + PushedFilters (verify with
    ``plans.explain_str``).

    Memoized per (session, sf_dir, table): ``spark.read.parquet``
    without a schema lists the path and decodes the footer on EVERY
    call (~250-370 ms measured at sf0.1 vs ~0 for a cache hit), and the
    harness protocol re-builds every query three times — a fixed cost
    with no information content, since the fixture files are immutable
    for the life of a session. The cached object is the LAZY scan
    plan, never data: every execution still reads the parquet files.
    Session-weak like ``_REGISTERED``; ``session.evict_scratch`` leaves
    it alone, since evicting a scan would only re-read its footer.
    """
    if name not in TABLE_SCHEMAS:
        raise KeyError(f"unknown table {name!r}; known: {sorted(TABLE_SCHEMAS)}")
    bucket = _TABLE_CACHE.get(spark)
    if bucket is None:
        bucket = _TABLE_CACHE[spark] = {}
    key = (os.path.normpath(sf_dir), name)
    jdf = bucket.get(key)
    if jdf is not None:
        # the classic constructor re-wraps a handle without a py4j call
        from pyspark.sql.classic.dataframe import DataFrame as Classic

        df = Classic(jdf, spark)
    else:
        df = spark.read.parquet(table_path(sf_dir, name))
        ts_dtype = dict(df.dtypes).get("ts") if name == "events" else None
        if ts_dtype == "bigint":
            # TIMESTAMP(NANOS) surfaced as long nanos (nanosAsLong
            # conf): truncate to microseconds exactly like DuckDB's
            # ns→us read.
            from pyspark.sql import functions as F

            # integer `div`, not `/`: epoch-nanos ≈ 1.7e18 exceeds
            # double's 2^53 exact-integer range.
            df = df.withColumn(
                "ts", F.timestamp_micros(F.expr("ts div 1000"))
            )
        elif ts_dtype == "timestamp_ntz":
            # Session built without our runtime confs (inferTimestampNTZ
            # still on): normalize to TIMESTAMP. Under the UTC session
            # timezone the cast is a type change only, no value shift.
            from pyspark.sql import functions as F

            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
        bucket[key] = df._jdf
    if validate:
        # Runs on cache hits too: a validate=True caller must never
        # silently lose its drift check to another caller's earlier
        # non-validating load.
        expected = {f.name: f.dataType for f in TABLE_SCHEMAS[name].fields}
        actual = {f.name: f.dataType for f in df.schema.fields}
        if set(expected) != set(actual):
            raise ValueError(
                f"schema drift for {name}: expected cols {sorted(expected)}, "
                f"got {sorted(actual)}"
            )
    return df


# session → sf_dir most recently registered — registration is
# idempotent but re-running it on every spark.sql query churns the
# catalog for nothing; temp views are session-scoped, so key by the
# session. Weakly referenced: a dead session's entry dies with it (a
# recycled object id can never alias a stale registration).
import weakref

_REGISTERED: "weakref.WeakKeyDictionary[SparkSession, str]" = (
    weakref.WeakKeyDictionary()
)

# (sf_dir, name) → JVM handle of the lazy scan, per session (see
# load_table). A handle, not the DataFrame: a DataFrame references its
# session, which would keep this weak key alive forever.
_TABLE_CACHE: "weakref.WeakKeyDictionary[SparkSession, dict]" = (
    weakref.WeakKeyDictionary()
)


def register_views(spark: SparkSession, sf_dir: str, force: bool = False) -> None:
    """Register every catalog table as a temp view for ``spark.sql``.

    Cached per (session, sf_dir): repeat calls with the same directory
    are no-ops; a different directory re-registers (views are
    createOrReplace, so switching scale factors is safe)."""
    if not force and _REGISTERED.get(spark) == sf_dir:
        return
    for name in TABLES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
    _REGISTERED[spark] = sf_dir


def load_orc(
    spark: SparkSession, path: str, schema: T.StructType | str | None = None
) -> DataFrame:
    """ORC source — the other columnar format Spark ships natively.
    Same scan properties as parquet (column pruning + predicate
    pushdown reach the reader); pass a schema to pin types, else ORC's
    embedded schema is authoritative (self-describing, unlike CSV)."""
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    return reader.orc(path)


def load_csv(
    spark: SparkSession,
    path: str,
    schema: T.StructType | str,
    header: bool = True,
    mode: str = "FAILFAST",
) -> DataFrame:
    """Schema-explicit CSV source. Schema inference is banned on the
    load path — at 100 TB it costs an extra full pass over the input
    and can silently flip a column's type between runs; FAILFAST makes
    malformed rows an error instead of silent nulls (use PERMISSIVE +
    a corrupt-record column for salvage pipelines)."""
    return (
        spark.read.option("header", str(header).lower())
        .option("mode", mode)
        .schema(schema)
        .csv(path)
    )


def load_json(
    spark: SparkSession,
    path: str,
    schema: T.StructType | str,
    mode: str = "FAILFAST",
) -> DataFrame:
    """Schema-explicit JSON-lines source (same rationale as load_csv:
    no inference pass, malformed input fails loudly)."""
    return spark.read.option("mode", mode).schema(schema).json(path)


def read_text_lines(spark: SparkSession, path: str) -> DataFrame:
    """Line-file source: DataFrame[value: string], one row per line.

    Spark-native form of the reference's chunked input split
    (/root/reference/thread_pool.cc:46-65): the "chunk" becomes an input
    split chosen by the scan planner; results are split-invariant.
    """
    return spark.read.text(path)

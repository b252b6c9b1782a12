"""Source/sink round-trips: parquet/csv/json/text, partitioned layout,
reference-format text sink ordering."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from cs422pp_mapreduce_spark.sources.catalog import (
    TABLE_SCHEMAS,
    load_csv,
    load_json,
    load_table,
    read_text_lines,
    register_views,
)
from cs422pp_mapreduce_spark.sources.sinks import (
    write_csv,
    write_json,
    write_kv_text,
    write_parquet,
)


def test_all_tables_load_and_validate(spark, sf_dir):
    for name in TABLE_SCHEMAS:
        df = load_table(spark, sf_dir, name, validate=True)
        assert df.count() > 0


def test_register_views_sql(spark, sf_dir):
    register_views(spark, sf_dir)
    n = spark.sql("SELECT COUNT(*) AS n FROM nation").collect()[0]["n"]
    assert n == 25


def test_parquet_roundtrip_partitioned(spark, sf_dir, tmp_path):
    out = str(tmp_path / "orders_part")
    orders = load_table(spark, sf_dir, "orders")
    write_parquet(
        orders, out, partition_cols=["o_orderstatus"], sort_cols=["o_orderkey"]
    )
    # hive layout: one dir per status value
    dirs = {d for d in os.listdir(out) if d.startswith("o_orderstatus=")}
    assert len(dirs) >= 2
    back = spark.read.parquet(out)
    assert back.count() == orders.count()
    # partition pruning: filtering one status reads only its directory
    pruned = back.where(F.col("o_orderstatus") == "F")
    from cs422pp_mapreduce_spark.plans.explain import explain_str

    assert "o_orderstatus" in explain_str(pruned)


def test_csv_json_roundtrip(spark, sf_dir, tmp_path):
    nation = load_table(spark, sf_dir, "nation")
    csv_p, json_p = str(tmp_path / "n_csv"), str(tmp_path / "n_json")
    write_csv(nation, csv_p)
    write_json(nation, json_p)
    csv_back = (
        spark.read.option("header", "true")
        .schema(TABLE_SCHEMAS["nation"])
        .csv(csv_p)
    )
    json_back = spark.read.schema(TABLE_SCHEMAS["nation"]).json(json_p)
    want = {tuple(r) for r in nation.collect()}
    assert {tuple(r) for r in csv_back.collect()} == want
    assert {tuple(r) for r in json_back.collect()} == want


def test_first_class_csv_json_loaders(spark, sf_dir, tmp_path):
    """load_csv/load_json feed queries()-shaped plans identically to
    the parquet path: the same aggregation over either source matches."""
    nation = load_table(spark, sf_dir, "nation")
    csv_p, json_p = str(tmp_path / "nc"), str(tmp_path / "nj")
    write_csv(nation, csv_p)
    write_json(nation, json_p)

    def agg(df):
        return {
            tuple(r)
            for r in df.groupBy("n_regionkey")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        }

    want = agg(nation)
    assert agg(load_csv(spark, csv_p, TABLE_SCHEMAS["nation"])) == want
    assert agg(load_json(spark, json_p, TABLE_SCHEMAS["nation"])) == want


def test_csv_loader_failfast_on_malformed(spark, tmp_path):
    import pytest

    p = str(tmp_path / "bad.csv")
    with open(p, "w") as f:
        f.write("a,b\n1,2\nnot_an_int,3\n")
    with pytest.raises(Exception, match="(?i)malformed|failfast"):
        load_csv(spark, p, "a int, b int").collect()


def test_kv_text_sink_reference_layout(spark, tmp_path):
    out = str(tmp_path / "kv")
    df = spark.createDataFrame(
        [("banana", 2), ("apple", 5), ("cherry", 1)], "word string, cnt long"
    )
    write_kv_text(df, out, "word", "cnt", num_partitions=1)
    files = [f for f in os.listdir(out) if f.startswith("part-")]
    assert len(files) == 1  # R partitions → R files (here R=1)
    lines = open(os.path.join(out, files[0])).read().splitlines()
    assert lines == ["apple 5", "banana 2", "cherry 1"]  # ascending by key


def test_text_lines_source(spark, tmp_path):
    p = str(tmp_path / "lines.txt")
    with open(p, "w") as f:
        f.write("alpha beta\ngamma\n")
    df = read_text_lines(spark, p)
    assert df.columns == ["value"]
    assert df.count() == 2


def test_bucketed_join_has_no_exchange(spark, sf_dir, tmp_path):
    """Co-located bucketed tables: the shuffle is paid at write time;
    the join plan must contain ZERO Exchange operators."""
    from cs422pp_mapreduce_spark.plans.explain import explain_str
    from cs422pp_mapreduce_spark.sources.sinks import write_bucketed_table

    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    write_bucketed_table(
        orders, "t_orders_b", str(tmp_path / "ob"), ["o_custkey"], 8,
        sort_cols=["o_custkey"],
    )
    write_bucketed_table(
        customer, "t_customer_b", str(tmp_path / "cb"), ["c_custkey"], 8,
        sort_cols=["c_custkey"],
    )
    old_thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        # force the shuffle-join path so the assert is about bucketing,
        # not about the broadcast planner
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        joined = spark.table("t_orders_b").join(
            spark.table("t_customer_b"),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        plan = explain_str(joined)
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan  # co-located: no shuffle at all
        assert joined.count() == orders.join(
            customer, orders.o_custkey == customer.c_custkey
        ).count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_thresh)
        spark.sql("DROP TABLE IF EXISTS t_orders_b")
        spark.sql("DROP TABLE IF EXISTS t_customer_b")


def test_orc_roundtrip_with_pushdown(spark, sf_dir, tmp_path):
    from cs422pp_mapreduce_spark.plans.explain import explain_str
    from cs422pp_mapreduce_spark.sources.catalog import load_orc, load_table
    from cs422pp_mapreduce_spark.sources.sinks import write_orc

    src = load_table(spark, sf_dir, "orders")
    p = str(tmp_path / "orders_orc")
    write_orc(src, p)
    back = load_orc(spark, p)
    assert back.count() == src.count()
    assert {f.name for f in back.schema.fields} == {
        f.name for f in src.schema.fields
    }
    # values survive the round trip
    a = {tuple(r) for r in src.orderBy("o_orderkey").limit(100).collect()}
    b = {tuple(r) for r in back.orderBy("o_orderkey").limit(100).collect()}
    assert a == b
    # predicate + projection reach the ORC reader like parquet
    q = back.where(F.col("o_totalprice") > 100000.0).select("o_orderkey")
    plan = explain_str(q)
    assert "PushedFilters: [" in plan and "o_totalprice" in plan


def test_compact_parquet_dir_reduces_files(spark, sf_dir, tmp_path):
    import os

    from cs422pp_mapreduce_spark.sources.catalog import load_table
    from cs422pp_mapreduce_spark.sources.sinks import compact_parquet_dir

    src = str(tmp_path / "frag")
    orders = load_table(spark, sf_dir, "orders")
    orders.repartition(16).write.parquet(src)  # 16 tiny files
    n_src = len([f for f in os.listdir(src) if f.endswith(".parquet")])
    assert n_src >= 16

    dst = str(tmp_path / "compact")
    n_target = compact_parquet_dir(spark, src, dst, target_file_mb=128)
    n_dst = len([f for f in os.listdir(dst) if f.endswith(".parquet")])
    assert n_target == 1 and n_dst == 1
    # contents unchanged
    assert spark.read.parquet(dst).count() == orders.count()
    a = {tuple(r) for r in spark.read.parquet(dst).collect()}
    b = {tuple(r) for r in orders.collect()}
    assert a == b


def test_events_ts_reads_as_ltz_for_every_physical_layout(spark, tmp_path):
    """The driver has shipped events.ts as int64-nanos AND as
    timestamp[us] (NTZ) across rounds; load_table must yield TIMESTAMP
    (LTZ) with identical values for every layout."""
    import datetime as dt

    import pyarrow as pa
    import pyarrow.parquet as pq

    from pyspark.sql import types as T

    from cs422pp_mapreduce_spark.sources.catalog import load_table

    micros = (
        int(dt.datetime(2024, 3, 1, 12, 30, 45, tzinfo=dt.timezone.utc)
            .timestamp()) * 1_000_000 + 123456
    )
    base = {
        "event_id": [1], "user_id": [7], "event_type": ["click"],
        "value": [1.5], "props": ["{}"],
    }

    def write(dirname, ts_array):
        d = tmp_path / dirname
        d.mkdir()
        cols = dict(base)
        cols["ts"] = ts_array
        pq.write_table(pa.table(cols), str(d / "events.parquet"))
        return str(d)

    layouts = {
        "us_ntz": pa.array([micros], pa.timestamp("us")),
        "ns": pa.array([micros * 1000], pa.timestamp("ns")),
    }
    got = {}
    for name, arr in layouts.items():
        df = load_table(spark, write(name, arr), "events")
        field = {f.name: f.dataType for f in df.schema.fields}["ts"]
        assert isinstance(field, T.TimestampType), (name, field)
        got[name] = df.select("ts").collect()[0][0]
    assert got["us_ntz"] == got["ns"], got


def test_compact_refuses_dst_inside_src(spark, tmp_path):
    """Overwrite-into-self protection: dst == src (or nested in src)
    must raise before anything is deleted."""
    import pytest

    from cs422pp_mapreduce_spark.sources.sinks import compact_parquet_dir

    src = str(tmp_path / "p" / "t")
    spark.range(10).write.parquet(src)
    parent = str(tmp_path / "p")  # deleting dst would delete src too
    for bad in (src, src + "/", f"{src}/sub", parent):
        with pytest.raises(ValueError, match="must not equal"):
            compact_parquet_dir(spark, src, bad)
    # the input survived the refusals
    assert spark.read.parquet(src).count() == 10


def test_interchange_roundtrips_preserve_microseconds(spark, sf_dir):
    """CSV and JSONL round-trips lose nothing: aggregates over the
    re-read text (µs timestampFormat — the DEFAULT truncates to
    milliseconds, which these contract queries exist to catch) equal
    the same aggregates over the original parquet."""
    from pyspark.sql import functions as F

    from cs422pp_mapreduce_spark.functions.numeric import exact_sum
    from cs422pp_mapreduce_spark.operators.maintenance import (
        q_csv_roundtrip,
        q_json_roundtrip,
    )
    from cs422pp_mapreduce_spark.sources.catalog import load_table

    truth = sorted(
        tuple(r)
        for r in load_table(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            exact_sum("value", 2, "sum_value"),
            F.min("ts").alias("first_ts"),
            F.max("ts").alias("last_ts"),
        )
        .collect()
    )
    for q in (q_csv_roundtrip, q_json_roundtrip):
        got = sorted(tuple(r) for r in q(spark, sf_dir).collect())
        assert got == truth

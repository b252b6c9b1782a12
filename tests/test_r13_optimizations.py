"""Focused pins for the r13 optimization-round internals.

Each test pins the MECHANISM an optimization relies on (the results
themselves stay covered by the oracle gate, which re-verifies every
query hash after the changes):

* catalog scan memo — same lazy DataFrame per (session, sf_dir, table),
  identical schema, and still a fresh parquet read per execution;
* runtime-conf memo — confs self-apply on a session exactly once and
  survive the memo (the driver-contract property);
* streaming drain conf — state partitions pinned during the drain and
  the batch setting restored afterwards, including on error;
* versioned upsert sink — an empty micro-batch writes NO new version
  (the no-data-batch skip), a non-empty one still merges idempotently;
* suffix rank tables — the vocab-ranked level 0 equals the dense rank
  of positions by construction (explicit equality check on the smoke
  fixture).
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_SMOKE


def test_load_table_memoized_same_plan(spark):
    from cs422pp_mapreduce_spark.sources.catalog import load_table

    a = load_table(spark, SF_SMOKE, "lineitem")
    b = load_table(spark, SF_SMOKE, "lineitem")
    # memo hit: the same lazy plan, in a new wrapper
    assert a._jdf is b._jdf
    # distinct key → distinct entry
    c = load_table(spark, SF_SMOKE, "orders")
    assert c._jdf is not a._jdf
    # the memo caches the PLAN, not data: executions still scan files
    n1 = a.count()
    n2 = a.count()
    assert n1 == n2 > 0


def test_runtime_confs_apply_once(spark):
    from cs422pp_mapreduce_spark.session import (
        RUNTIME_CONFS,
        apply_runtime_confs,
    )

    apply_runtime_confs(spark)
    for k, v in RUNTIME_CONFS.items():
        assert spark.conf.get(k) == v
    # memoized second call is a no-op but leaves the confs in place
    apply_runtime_confs(spark)
    assert spark.conf.get("spark.sql.session.timeZone") == "UTC"


def test_stream_drain_conf_pins_and_restores(spark):
    from cs422pp_mapreduce_spark.session import stream_state_partitions
    from cs422pp_mapreduce_spark.streaming.events import stream_drain_conf

    key = "spark.sql.shuffle.partitions"
    before = spark.conf.get(key)
    with stream_drain_conf(spark):
        assert spark.conf.get(key) == str(stream_state_partitions())
    assert spark.conf.get(key) == before
    # restored even when the drain body raises
    with pytest.raises(RuntimeError):
        with stream_drain_conf(spark):
            raise RuntimeError("boom")
    assert spark.conf.get(key) == before


def test_upsert_versioned_skips_empty_batch(spark, tmp_path):
    from cs422pp_mapreduce_spark.streaming.events import (
        table_versions,
        upsert_versioned,
    )

    tdir = str(tmp_path / "target")
    os.makedirs(tdir)
    rows = spark.createDataFrame(
        [(1, 10.0), (2, 20.0)], "k int, v double"
    )
    upsert_versioned(tdir, rows, 0, "k")
    assert table_versions(tdir) == [0]
    # empty micro-batch (the availableNow no-data batch): NO new version
    empty = rows.where(F.lit(False))
    upsert_versioned(tdir, empty, 1, "k")
    assert table_versions(tdir) == [0]
    # next non-empty batch merges against the true predecessor (v0)
    upd = spark.createDataFrame([(2, 99.0), (3, 30.0)], "k int, v double")
    upsert_versioned(tdir, upd, 2, "k")
    assert table_versions(tdir) == [0, 2]
    got = {
        r["k"]: r["v"]
        for r in spark.read.parquet(os.path.join(tdir, "v2")).collect()
    }
    assert got == {1: 10.0, 2: 99.0, 3: 30.0}
    # idempotent replay of batch 2 overwrites its own version only
    upsert_versioned(tdir, upd, 2, "k")
    assert table_versions(tdir) == [0, 2]


def test_suffix_vocab_rank0_equals_positional_dense_rank(spark):
    """rank_0 via the distinct-vocabulary broadcast join must equal the
    dense rank computed directly over positions — the bit-identity the
    r13 restructuring claims."""
    from cs422pp_mapreduce_spark.operators.suffix import (
        _global_rank,
        suffix_rank_tables,
    )

    pos = spark.createDataFrame(
        [
            (1, 1, "b"),
            (1, 2, "a"),
            (1, 3, "c"),
            (2, 1, "a"),
            (2, 2, "b"),
        ],
        "doc_id long, pos long, tok string",
    )
    ranks = suffix_rank_tables(pos, levels=1, n_positions=5, checkpoint=False)
    got = {
        (r["doc_id"], r["pos"]): r["r"]
        for r in ranks[0].collect()
    }
    ref = {
        (r["doc_id"], r["pos"]): r["r"]
        for r in _global_rank(pos, ["tok"], "r", dense=True).collect()
    }
    assert got == ref == {
        (1, 1): 2,
        (1, 2): 1,
        (1, 3): 3,
        (2, 1): 1,
        (2, 2): 2,
    }

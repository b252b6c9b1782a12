"""session.scoped_conf: overlapping scopes of one session, across
threads, restore the value that held before the outermost one, and a
scope never silently changes a key another open scope holds."""

from __future__ import annotations

import threading
from concurrent.futures import ThreadPoolExecutor

import pytest

from cs422pp_mapreduce_spark.session import (
    driver_paced_build_conf,
    scoped_conf,
)

AQE = "spark.sql.adaptive.enabled"
PARTS = "spark.sql.shuffle.partitions"


def test_overlapping_thread_scopes_restore_aqe(spark):
    """First in, first out: A enters, B enters, A exits, B exits. A
    get/set/restore toggle would let B save A's "false" and restore it
    last, leaving AQE off for the rest of the session."""
    assert spark.conf.get(AQE) == "true"
    a_in, b_in, a_out = threading.Event(), threading.Event(), threading.Event()

    def first():
        with driver_paced_build_conf(spark):
            a_in.set()
            assert b_in.wait(30)
        a_out.set()

    def second():
        assert a_in.wait(30)
        with driver_paced_build_conf(spark):
            b_in.set()
            assert a_out.wait(30)
            # still inside B's scope after A left it
            assert spark.conf.get(AQE) == "false"

    try:
        with ThreadPoolExecutor(2) as pool:
            futures = [pool.submit(first), pool.submit(second)]
            for f in futures:
                f.result(timeout=60)
        assert spark.conf.get(AQE) == "true"
    finally:
        spark.conf.set(AQE, "true")


def test_conflicting_overlap_raises_and_keeps_holder(spark):
    before = spark.conf.get(PARTS)
    with scoped_conf(spark, {PARTS: "3"}):
        with pytest.raises(RuntimeError, match=PARTS):
            with scoped_conf(spark, {PARTS: "5"}):
                pass
        assert spark.conf.get(PARTS) == "3"
        # the same value nests
        with scoped_conf(spark, {PARTS: "3"}):
            assert spark.conf.get(PARTS) == "3"
        assert spark.conf.get(PARTS) == "3"
    assert spark.conf.get(PARTS) == before


def test_scoping_an_unset_key_unsets_it_after(spark):
    """A key with no value before the scope reads the scoped value inside
    it and has no value again after it, also when the body raises."""
    key = "spark.graft.test.unset"
    assert spark.conf.get(key, None) is None
    with scoped_conf(spark, {key: "on"}):
        assert spark.conf.get(key) == "on"
    assert spark.conf.get(key, None) is None
    with pytest.raises(ValueError):
        with scoped_conf(spark, {key: "on"}):
            assert spark.conf.get(key) == "on"
            raise ValueError("boom")
    assert spark.conf.get(key, None) is None

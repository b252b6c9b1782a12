"""The range-exchange prefix scan (functions/scan.py) against the naive
single-partition window, for every scan variant, on random frames with
tied keys, null values, one range partition, and more range partitions
than distinct keys (so some are empty)."""

from __future__ import annotations

import ast
import collections
import pathlib

import pytest
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from cs422pp_mapreduce_spark.functions.scan import prefix_scan

# (k, w, v): k has few distinct values (ties), w is a non-null
# summand, v is nullable (prefix min)
rows = st.lists(
    st.tuples(
        st.integers(0, 3),
        st.integers(-20, 20),
        st.one_of(st.none(), st.integers(-20, 20)),
    ),
    max_size=24,
)
TIES = [(1, 5, None), (1, -2, 3), (0, 7, None), (1, 1, -4), (3, 0, 2),
        (0, 2, None), (3, 9, -4)]

# (scan, order, value, exclusive): the naive twin is the same window
# over the whole frame in one partition
VARIANTS = [
    ("row_number", ["k", "id"], None, False),
    ("dense_rank", ["k"], None, False),
    ("sum", ["k", "id"], "w", False),
    ("sum", ["k", "id"], "w", True),
    ("min", ["k", "id"], "v", False),
    ("min", ["k", "id"], "v", True),
]


def _naive(scan, order, value, exclusive):
    w = Window.orderBy(*order)
    if scan == "row_number":
        return F.row_number().over(w)
    if scan == "dense_rank":
        return F.dense_rank().over(w)
    w = w.rowsBetween(Window.unboundedPreceding, -1 if exclusive else 0)
    out = (F.sum if scan == "sum" else F.min)(value).over(w)
    return F.coalesce(out, F.lit(0)) if scan == "sum" and exclusive else out


def _naive_total(scan, order, value):
    if scan == "row_number":
        return F.count(F.lit(1))
    if scan == "dense_rank":
        return F.countDistinct(*order)
    return (F.sum if scan == "sum" else F.min)(value)


def _frame(spark, data):
    return spark.createDataFrame(
        [(i, k, w, v) for i, (k, w, v) in enumerate(data)],
        "id long, k long, w long, v long",
    )


SCAN_SETTINGS = settings(
    max_examples=4,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


@pytest.mark.parametrize(
    "variant",
    VARIANTS,
    ids=lambda v: v[0] + ("-exclusive" if v[3] else ""),
)
@SCAN_SETTINGS
@given(data=rows, n_parts=st.sampled_from([1, 2, 16]))
@example(data=TIES, n_parts=16)
@example(data=TIES, n_parts=1)
@example(data=[], n_parts=3)
def test_prefix_scan_equals_naive_window(spark, variant, data, n_parts):
    scan, order, value, exclusive = variant
    df = _frame(spark, data)
    got = prefix_scan(
        df, order, scan, value, exclusive=exclusive, total=True,
        n_parts=n_parts,
    )
    got_rows = {
        r["id"]: (r["s"], r["t"])
        for r in got.frame.select(
            "id", got.value.alias("s"), got.total.alias("t")
        ).collect()
    }
    total = df.agg(_naive_total(scan, order, value)).collect()[0][0]
    want = {
        r["id"]: (r["s"], total)
        for r in df.select(
            "id", _naive(scan, order, value, exclusive).alias("s")
        ).collect()
    }
    assert got_rows == want


@SCAN_SETTINGS
@given(data=rows, n_parts=st.sampled_from([1, 2, 16]))
@example(data=TIES, n_parts=16)
def test_row_number_on_tied_keys_numbers_each_tie_block(spark, data, n_parts):
    """With ties in the order key the row order inside a tie is free,
    but each key still owns the same block of row numbers."""
    df = _frame(spark, data)
    got = prefix_scan(df, ["k"], "row_number", n_parts=n_parts)
    want = df.select("k", _naive("row_number", ["k"], None, False).alias("s"))
    as_blocks = lambda frame: collections.Counter(  # noqa: E731
        (r["k"], r["s"]) for r in frame.collect()
    )
    assert as_blocks(got.frame.select("k", got.value.alias("s"))) == (
        as_blocks(want)
    )


RANGE_NAMES = {"repartitionByRange", "spark_partition_id"}


def _range_hits(tree):
    """Names of RANGE_NAMES used (called, read or imported) under each
    top-level statement, keyed by that statement's name."""
    for top in tree.body:
        for n in ast.walk(top):
            name = (
                n.attr if isinstance(n, ast.Attribute)
                else n.id if isinstance(n, ast.Name)
                else n.name if isinstance(n, ast.alias)
                else None
            )
            if name in RANGE_NAMES:
                yield getattr(top, "name", "<module>")


def test_range_exchange_lives_only_in_the_kernel():
    """A range exchange or a partition id outside functions/scan.py is
    a new copy of the prefix-scan round."""
    package = pathlib.Path(__file__).resolve().parents[1] / (
        "cs422pp_mapreduce_spark"
    )
    hits = set()
    for path in package.rglob("*.py"):
        rel = path.relative_to(package).as_posix()
        for owner in _range_hits(ast.parse(path.read_text())):
            hits.add(rel if rel == "functions/scan.py" else f"{rel}::{owner}")
    assert hits == {"functions/scan.py"}

"""Exact-arithmetic helpers against their DuckDB twins, bit for bit, and
the guard that keeps decimal precisions inside ``functions/numeric.py``.

Every helper family is evaluated once in Spark and once in DuckDB over
the same small table. The inputs sit on the boundaries the helpers
document: x.xx5 doubles, negatives, zero, NULL, an all-NULL group and
values at the stated magnitude bound.
"""

from __future__ import annotations

import ast
import re
import struct
from pathlib import Path

import duckdb
import pytest
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from cs422pp_mapreduce_spark.functions import numeric as N

# the largest 15-significant-digit value with 4 decimals: the bound of
# bit-identity for the scale-4 helpers
BOUND4 = 99999999999.9999

# id, g, x (≤4 decimals), u (unit scale), price, disc, tax, n, sab, sa, sb
ROWS = [
    (1, "a", 2.675, 0.125, 901.05, 0.05, 0.08, 3, 12, 4, 5),
    (2, "a", 1.005, -0.5, 0.05, 0.1, 0.0, 7, -3, -2, 9),
    (3, "a", -0.125, 0.1, 1234.56, 0.0, 0.02, 1, 0, 0, 0),
    (4, "a", 0.0, 1.0 / 3.0, 17.45, 0.07, 0.06, None, 5, 5, None),
    (5, "b", -12.34, 0.0, -12.25, 0.04, 0.01, 2, 7, 3, 3),
    (6, "b", BOUND4, 0.7, 9999999999.99, 0.1, 0.08, 10**6,
     9 * 10**18, 9 * 10**18, 9 * 10**18),
    (7, "b", -BOUND4, -0.2, 99999.99, 0.09, 0.05, 5, -(9 * 10**18),
     -(9 * 10**18), 9 * 10**18),
    (8, "b", None, None, None, None, None, None, None, None, None),
    (9, "empty", None, None, None, None, None, None, None, None, None),
    (10, "empty", None, None, None, None, None, None, None, None, None),
]
SPARK_SCHEMA = (
    "id long, g string, x double, u double, l_extendedprice double,"
    " l_discount double, l_tax double, n long, sab long, sa long, sb long"
)
DUCK_SCHEMA = (
    "id BIGINT, g VARCHAR, x DOUBLE, u DOUBLE, l_extendedprice DOUBLE,"
    " l_discount DOUBLE, l_tax DOUBLE, n BIGINT, sab BIGINT, sa BIGINT,"
    " sb BIGINT"
)


@pytest.fixture(scope="module")
def frames(spark):
    con = duckdb.connect()
    con.execute(f"CREATE TABLE t ({DUCK_SCHEMA})")
    con.executemany(f"INSERT INTO t VALUES ({', '.join('?' * 11)})", ROWS)
    yield spark.createDataFrame(ROWS, SPARK_SCHEMA), con
    con.close()


def _bits(v):
    """Exact identity of a result value: a double by its bit pattern
    (so -0.0 ≠ 0.0), an exact decimal or integer by its integer value."""
    if v is None:
        return None
    if isinstance(v, float):
        return struct.pack(">d", v).hex()
    return int(v)


def _by_key(rows):
    return {r[0]: tuple(_bits(v) for v in r[1:]) for r in rows}


def _grouped(frames, cols, sqls):
    """Per-group results of Spark columns and DuckDB SQL expressions."""
    df, con = frames
    got = df.groupBy("g").agg(*cols).collect()
    want = con.execute(
        f"SELECT g, {', '.join(sqls)} FROM t GROUP BY g"
    ).fetchall()
    return _by_key(got), _by_key(want)


def test_exact_sums_match_twins(frames):
    got, want = _grouped(
        frames,
        [
            N.exact_sum("x", 4),
            N.exact_avg("x", 4),
            N.exact_sum_wide("x", 4),
            N.exact_sum("l_extendedprice", 2),
        ],
        [
            N.exact_sum_sql("x", 4),
            N.exact_avg_sql("x", 4),
            N.exact_sum_wide_sql("x", 4),
            N.exact_sum_sql("l_extendedprice", 2),
        ],
    )
    assert got == want
    assert got["empty"] == (None,) * 4
    # the x.xx5 doubles are recovered exactly: 2.675 + 1.005 − 0.125
    assert struct.unpack(">d", bytes.fromhex(got["a"][0]))[0] == 3.555


def test_exact_sum_over_matches_twin(frames):
    df, con = frames
    w = Window.partitionBy("g").orderBy("id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    got = df.select("id", N.exact_sum_over("x", w, 4)).collect()
    want = con.execute(
        f"SELECT id, {N.exact_sum_over_sql('x', 'w', 4)} FROM t"
        " WINDOW w AS (PARTITION BY g ORDER BY id"
        " ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)"
    ).fetchall()
    assert _by_key(got) == _by_key(want)


def test_spark_sql_twins_build_the_column_helpers(spark, frames):
    df, _ = frames
    df.createOrReplaceTempView("numeric_t")
    got = spark.sql(
        f"SELECT g, {N.spark_exact_sum_sql('x', 4)} FROM numeric_t GROUP BY g"
    ).collect()
    want = df.groupBy("g").agg(N.exact_sum("x", 4)).collect()
    assert _by_key(got) == _by_key(want)
    got = spark.sql(
        "SELECT id,"
        f" {N.spark_exact_sum_over_sql('x', '(PARTITION BY g)', 4)}"
        " FROM numeric_t"
    ).collect()
    want = df.select("id", N.exact_sum_over("x", Window.partitionBy("g"), 4))
    assert _by_key(got) == _by_key(want.collect())


def test_fine_sum_matches_twin_after_rounding(frames):
    # fine_sum is order-independent but not exact: callers round it
    got, want = _grouped(
        frames,
        [F.round(N.fine_sum("u", 20) / F.count(F.lit(1)), 6) + 0.0,
         F.round(N.fine_sum("u", 18), 6) + 0.0],
        [f"ROUND({N.fine_sum_sql('u', 20)} / COUNT(*), 6) + 0.0",
         f"ROUND({N.fine_sum_sql('u', 18)}, 6) + 0.0"],
    )
    assert got == want


def test_fixed_long_matches_twin(frames):
    df, con = frames
    got = df.select(
        "id",
        N.fixed_long("x", 4),
        N.fixed_long("l_extendedprice", 2),
        N.rate_long("l_discount"),
        N.rate_long("l_tax"),
    ).collect()
    want = con.execute(
        f"SELECT id, {N.fixed_long_sql('x', 4)},"
        f" {N.fixed_long_sql('l_extendedprice', 2)},"
        f" {N.rate_long_sql('l_discount')}, {N.rate_long_sql('l_tax')}"
        " FROM t"
    ).fetchall()
    got, want = _by_key(got), _by_key(want)
    assert got == want
    assert got[1][0] == 26750 and got[2][0] == 10050 and got[3][0] == -1250
    assert got[6][0] == 999_999_999_999_999
    assert got[8] == (None,) * 4


def test_fixed_long_raises_past_its_bound(spark):
    # decimal(18,4) holds |x| < 10^14: the largest double below the
    # bound converts, 10^14 itself raises under ANSI instead of wrapping
    assert spark.conf.get("spark.sql.ansi.enabled") == "true"
    df = spark.createDataFrame([(99999999999999.98,), (1e14,)], "x double")
    below = df.where(F.col("x") < 1e14).select(N.fixed_long("x", 4)).collect()
    assert below[0][0] == 999_999_999_999_999_800
    with pytest.raises(Exception, match="NUMERIC_VALUE_OUT_OF_RANGE"):
        df.where(F.col("x") >= 1e14).select(N.fixed_long("x", 4)).collect()


def test_comoment_and_exact_ints_match_twins(frames):
    df, con = frames
    got = df.select(
        "id",
        N.comoment("n", "sab", "sa", "sb"),
        N.exact_int(N.long_dec("sa") * N.long_dec("sb")),
    ).collect()
    want = con.execute(
        f"SELECT id, {N.comoment_sql('n', 'sab', 'sa', 'sb')},"
        " CAST(sa AS HUGEINT) * sb FROM t"
    ).fetchall()
    got, want = _by_key(got), _by_key(want)
    assert got == want
    # 10^6·9e18 − 9e18·9e18 needs all 38 digits
    assert got[6][0] == 10**6 * 9 * 10**18 - 81 * 10**36


def test_quantized_sum_matches_twin(frames):
    got, want = _grouped(
        frames,
        [F.sum(N.quantized("u", 1e15)), F.sum(N.quantized("x", 1e3))],
        [f"SUM({N.quantized_sql('u', '1e15')})",
         f"SUM({N.quantized_sql('x', '1e3')})"],
    )
    assert got == want
    assert got["empty"] == (None, None)


def test_money_products_match_twins(frames):
    got, want = _grouped(
        frames,
        [
            N.exact_sum(N.disc_price_dec(), 4),
            N.exact_sum(N.charge_dec(), 6),
            N.exact_sum(N.disc_rev_dec(), 4),
        ],
        [
            N.exact_sum_sql(N.DISC_PRICE_SQL, 4),
            N.exact_sum_sql(N.CHARGE_SQL, 6),
            N.exact_sum_sql(N.DISC_REV_SQL, 4),
        ],
    )
    assert got == want
    assert got["empty"] == (None,) * 3


# --- guard: decimal precisions are spelled in functions/numeric.py only --

PKG = Path(__file__).resolve().parents[1] / "cs422pp_mapreduce_spark"
OWNER = "functions/numeric.py"
_DECIMAL = re.compile(r"decimal\(\s*\d+\s*(?:,\s*\d+\s*)?\)?", re.IGNORECASE)

# (module, literal) → (occurrences, why the site has no shared shape)
ALLOWED = {
    ("operators/textops.py", "decimal(18,6)"): (
        5,
        "6-decimal log-probability rounding of the n-gram and"
        " classifier weights (twins: oracles.py DECIMAL(18,6))",
    ),
    ("operators/textops.py", "decimal(18,0)"): (
        1, "quality-classifier tf count widened for the tf·weight product",
    ),
    ("operators/textops.py", "decimal(38,6)"): (
        2, "quality-classifier score sum and bias at the weight scale",
    ),
    ("streaming/quality.py", "decimal(18,6)"): (
        1, "zero weight of an unseen feature in the streamed classifier",
    ),
    ("oracles.py", "decimal(18,6)"): (
        9, "DuckDB twins of the 6-decimal log-probability rounding",
    ),
    ("oracles.py", "decimal(18,0)"): (
        1, "DuckDB twin of the classifier tf widening",
    ),
    ("oracles.py", "decimal(38,6)"): (
        2, "DuckDB twin of the classifier score sum",
    ),
}


def _docstrings(tree: ast.AST) -> set[int]:
    ids = set()
    for node in ast.walk(tree):
        if isinstance(
            node,
            (ast.Module, ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef),
        ):
            body = node.body
            if (
                body
                and isinstance(body[0], ast.Expr)
                and isinstance(body[0].value, ast.Constant)
                and isinstance(body[0].value.value, str)
            ):
                ids.add(id(body[0].value))
    return ids


def _decimal_literals() -> dict[tuple[str, str], int]:
    """(module, normalized literal) → count over every string constant
    in the package except docstrings, plus DecimalType(...) calls."""
    found: dict[tuple[str, str], int] = {}
    for path in sorted(PKG.rglob("*.py")):
        rel = path.relative_to(PKG).as_posix()
        if rel == OWNER:
            continue
        tree = ast.parse(path.read_text(), filename=str(path))
        skip = _docstrings(tree)
        for node in ast.walk(tree):
            hits = []
            if (
                isinstance(node, ast.Constant)
                and isinstance(node.value, str)
                and id(node) not in skip
            ):
                hits = _DECIMAL.findall(node.value)
            elif isinstance(node, ast.Call):
                fn = node.func
                name = getattr(fn, "id", None) or getattr(fn, "attr", None)
                if name == "DecimalType":
                    hits = ["DecimalType"]
            for h in hits:
                key = (rel, re.sub(r"\s+", "", h).lower())
                found[key] = found.get(key, 0) + 1
    return found


def test_decimal_precisions_live_in_numeric():
    found = _decimal_literals()
    unexpected = {k: n for k, n in found.items() if k not in ALLOWED}
    assert not unexpected, (
        "decimal precision spelled outside functions/numeric.py — use a"
        f" helper there (or allowlist the site with a reason): {unexpected}"
    )
    counts = {k: n for k, (n, _) in ALLOWED.items()}
    assert found == counts, "allowlist out of date: update the counts"


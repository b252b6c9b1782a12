"""Local replica of the driver's correctness gate — DRIVER-EXACT.

Runs every ``__spark_entry__.queries()`` entry on Spark and its
``oracle_sql()`` twin on DuckDB at the given sf dir, then compares the
way the driver does (r03 lesson, VERDICT.md "What's wrong" §5):

- columns name-sorted, rows sorted on the RAW frame (the driver's
  ``_canon`` does ``sort_values`` before serializing — a raw
  collection-typed column crashes it, so we flag those as FAIL
  instead of silently stringifying them);
- values compared SERIALIZED and dtype-sensitively: int64 785 and
  float64 785.0 are DIFFERENT (the driver hashes serialized values;
  the old numeric-tolerant compare green-lit r03's funnel/tpch_q12/
  curation_report float-vs-int drift).

No tolerance anywhere: the engine's determinism conventions
(oracles.py) are supposed to make results serialize bit-identically.

Usage: python tools/check_oracles.py [sf_dir] [query ...]

Each ``query`` is a registered name or a shell pattern (``'stream_*'``).
A name or pattern that matches no registered query exits 2 before any
query runs, so a mistyped subset cannot pass by checking nothing.
"""

from __future__ import annotations

import fnmatch
import os
import sys
import time

import duckdb
import numpy as np
import pandas as pd

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()


def collection_columns(df: pd.DataFrame) -> list[str]:
    """Columns whose cells are unhashable collections (ndarray/list/
    dict) — the driver's raw-frame sort crashes on these
    (r03 inverted_index/map_funcs: ``unhashable type: numpy.ndarray``)."""
    bad = []
    for c in df.columns:
        if df[c].dtype == object:
            # Full-column scan (ADVICE r04): a column scalar in early rows
            # but collection-valued later would escape a head-only sample.
            # Cost is negligible at gate scale (sf0.01 frames).
            cells = df[c].dropna()
            if any(
                isinstance(v, (np.ndarray, list, dict, set)) for v in cells
            ):
                bad.append(c)
    return bad


def canonical(df: pd.DataFrame) -> pd.DataFrame:
    """Driver-like canonical form: name-sorted columns, raw row sort,
    then per-cell string serialization (dtype-sensitive — no numeric
    coercion, so int-vs-float drift survives to the comparison)."""
    df = df.reindex(sorted(df.columns), axis=1)
    if len(df):
        order = df.sort_values(by=list(df.columns), kind="mergesort").index
        df = df.loc[order].reset_index(drop=True)
    return df.astype(str)


def compare(name: str, spark_df: pd.DataFrame, duck_df: pd.DataFrame) -> list[str]:
    problems: list[str] = []
    if len(spark_df) != len(duck_df):
        problems.append(f"rowcount spark={len(spark_df)} duck={len(duck_df)}")
    for side, frame in (("spark", spark_df), ("duck", duck_df)):
        bad = collection_columns(frame)
        if bad:
            problems.append(
                f"{side} emits collection-typed column(s) {bad} — the "
                "driver's canonicalizer crashes on these; serialize via "
                "array_join (q_collect_agg convention, relational.py)"
            )
    if problems:
        return problems
    a, b = canonical(spark_df), canonical(duck_df)
    if list(a.columns) != list(b.columns):
        return [f"columns spark={list(a.columns)} duck={list(b.columns)}"]
    for c in a.columns:
        av, bv = a[c], b[c]
        if not av.equals(bv):
            neq = av != bv
            idx = int(neq.idxmax())
            problems.append(
                f"{c}: serialized values differ, first at row {idx}: "
                f"spark={av.iloc[idx]!r} duck={bv.iloc[idx]!r}"
            )
    return problems


def select(names: list[str], patterns: list[str]) -> tuple[list[str], list[str]]:
    """Names matching any of ``patterns`` (all names when there are
    none), and the patterns that match no name."""
    if not patterns:
        return list(names), []
    hits = {p: {n for n in names if fnmatch.fnmatchcase(n, p)} for p in patterns}
    picked = set().union(*hits.values())
    return [n for n in names if n in picked], [p for p, h in hits.items() if not h]


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"

    import __spark_entry__ as E

    qs, oracles = E.queries(), E.oracle_sql()
    chosen, unmatched = select(list(qs), sys.argv[2:])
    if unmatched:
        print("no registered query matches:", ", ".join(unmatched))
        return 2

    from cs422pp_mapreduce_spark.session import get_spark

    spark = get_spark("check-oracles")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )

    failed, rows_only = [], []
    for name in chosen:
        fn = qs[name]
        t0 = time.time()
        sdf = fn(spark, sf_dir).toPandas()
        t1 = time.time()
        if name not in oracles:
            # rows-only queries still must not crash the driver's
            # canonicalizer wholesale; warn on collection outputs
            bad = collection_columns(sdf)
            note = f"  !! collection cols {bad}" if bad else ""
            rows_only.append(name)
            print(f"  {name:20s} rows-only: {len(sdf)} rows ({t1 - t0:.1f}s){note}")
            continue
        ddf = con.sql(oracles[name]).df()
        problems = compare(name, sdf, ddf)
        status = "OK " if not problems else "FAIL"
        print(f"  {name:20s} {status} {len(sdf):>8} rows  spark={t1 - t0:.1f}s")
        for p in problems:
            print(f"      !! {p}")
        if problems:
            failed.append(name)

    print(f"\n{len(chosen) - len(failed) - len(rows_only)} OK, "
          f"{len(failed)} FAIL, {len(rows_only)} rows-only")
    if failed:
        print("FAILED:", ", ".join(failed))
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())

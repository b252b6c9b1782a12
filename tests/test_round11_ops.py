"""Round-11 operators: the ANN recall contract, suffix-array dedup,
and streaming late-data accounting."""

from __future__ import annotations

import pytest


def test_ann_recall_report_contract(spark, sf_dir):
    """The recall report composes only hash-verified components, so
    its invariants are structural: one row per index, den = K per
    query, num <= den, exact-metric recall in [0, 1], and IVF/PQ
    (which re-rank with the true metric over candidate supersets of
    size >= K) must beat the bucket-limited LSH on the uniform-random
    fixture where LSH bands rarely agree."""
    from cs422pp_mapreduce_spark.operators.similarity import (
        TOP_K,
        q_ann_recall_report,
    )
    from cs422pp_mapreduce_spark.oracles import KNN_Q

    rows = {r["index_name"]: r for r in q_ann_recall_report(spark, sf_dir).collect()}
    assert sorted(rows) == ["ivf", "lsh", "pq"]
    for r in rows.values():
        assert r["n_queries"] == KNN_Q
        assert r["recall_den"] == KNN_Q * TOP_K
        assert 0 <= r["recall_num"] <= r["recall_den"]
        assert abs(r["recall"] - round(r["recall_num"] / r["recall_den"], 4)) < 1e-12
    assert rows["ivf"]["recall_num"] > rows["lsh"]["recall_num"]
    assert rows["pq"]["recall_num"] > rows["lsh"]["recall_num"]


def test_ann_recall_matches_duckdb_oracle(spark, sf_dir):
    """Driver-style: Spark result == the composed DuckDB oracle."""
    import duckdb

    from cs422pp_mapreduce_spark.operators.similarity import (
        q_ann_recall_report,
    )
    from cs422pp_mapreduce_spark.oracles import ORACLES

    got = sorted(
        tuple(r) for r in q_ann_recall_report(spark, sf_dir).collect()
    )
    con = duckdb.connect()
    con.sql(
        f"CREATE VIEW embeddings AS SELECT * FROM "
        f"read_parquet('{sf_dir}/embeddings.parquet')"
    )
    want = sorted(tuple(r) for r in con.sql(ORACLES["ann_recall_report"]).fetchall())
    assert got == want


def test_stream_late_audit_drops_exactly_the_planted_rows(spark, sf_dir):
    """The watermark must drop ALL planted beyond-watermark rows and
    NO genuine ones: dropped_n is nonzero only inside the planted
    first hour and equals the plant counts; on_time_n equals the
    genuine batch counts for every finalized window."""
    from pyspark.sql import functions as F

    from cs422pp_mapreduce_spark.sources.catalog import load_table
    from cs422pp_mapreduce_spark.streaming.events import (
        q_stream_late_audit,
    )

    out = q_stream_late_audit(spark, sf_dir).collect()
    assert out, "no finalized windows"

    ev = load_table(spark, sf_dir, "events")
    lo, hi = ev.agg(F.min("ts"), F.max("ts")).collect()[0]
    import datetime

    plant_cut = lo + datetime.timedelta(hours=1)
    wm = hi - datetime.timedelta(hours=2)
    # the <=-vs-< emission edge must be vacuous on this fixture
    assert not (
        wm.minute == 0 and wm.second == 0 and wm.microsecond == 0
    ), "watermark cutoff is hour-aligned; fixture edge assumption broken"

    genuine = {
        (r["win_start"], r["event_type"]): r["n"]
        for r in ev.groupBy(
            F.date_trunc("hour", "ts").alias("win_start"), "event_type"
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    total_dropped = 0
    for r in out:
        key = (r["win_start"], r["event_type"])
        assert r["on_time_n"] == genuine[key], key
        # finalized windows only
        assert r["win_start"] + datetime.timedelta(hours=1) <= wm
        if r["win_start"] + datetime.timedelta(hours=1) <= plant_cut or (
            r["win_start"] <= plant_cut
            and plant_cut < r["win_start"] + datetime.timedelta(hours=1)
        ):
            pass  # plant window(s): dropped_n checked in aggregate below
        else:
            assert r["dropped_n"] == 0, key
        total_dropped += r["dropped_n"]
    n_planted = ev.where(F.col("ts") < F.lit(plant_cut)).count()
    assert total_dropped == n_planted


def _brute_suffix_report(texts: dict[int, str], min_tokens: int, cap: int):
    """Pure-Python brute force of the dedup_suffix semantics: for every
    doc-local suffix, its longest common prefix with ANY other suffix
    (overlaps and within-doc repeats allowed), both cut to their first
    ``cap`` tokens, then >=min coverage and island merge."""
    toks = {d: [w for w in t.split(" ") if w] for d, t in texts.items()}
    toks = {d: t for d, t in toks.items() if t}
    sfx = [
        (d, i + 1, tuple(t[i:i + cap])) for d, t in toks.items()
        for i in range(len(t))
    ]

    def lcp(a, b):
        n = 0
        for x, y in zip(a, b):
            if x != y:
                break
            n += 1
        return n

    report = {}
    for d, p, s in sfx:
        best = max(
            (lcp(s, s2) for d2, p2, s2 in sfx if (d2, p2) != (d, p)),
            default=0,
        )
        report[(d, p)] = best
    out = {}
    for d, t in toks.items():
        hits = sorted(
            (p, report[(d, p)]) for p in range(1, len(t) + 1)
            if report[(d, p)] >= min_tokens
        )
        if not hits:
            continue
        spans = []
        for p, l in hits:
            e = p + l - 1
            if spans and p <= spans[-1][1] + 1:
                spans[-1][1] = max(spans[-1][1], e)
                spans[-1][2] = max(spans[-1][2], l)
            else:
                spans.append([p, e, l])
        out[d] = (
            len(t),
            max(sp[2] for sp in spans),
            sum(sp[1] - sp[0] + 1 for sp in spans),
            len(spans),
        )
    return out


SUFFIX_REPORT_SCHEMA = [
    ("doc_id", "bigint"),
    ("n_tokens", "bigint"),
    ("lrs_len", "bigint"),
    ("dup_tokens", "bigint"),
    ("n_spans", "bigint"),
]


def _suffix_report_vs_brute(spark, tmp_path, texts: dict[int, str]):
    """q_dedup_suffix over ``texts`` as a documents table: (got, want)."""
    from cs422pp_mapreduce_spark.operators.suffix import (
        SUFFIX_CAP,
        SUFFIX_MIN_TOKENS,
        q_dedup_suffix,
    )

    docs = spark.createDataFrame(
        [(d, t, "src", 0) for d, t in texts.items()],
        "doc_id long, text string, source string, label long",
    )
    docs.write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    out = q_dedup_suffix(spark, str(tmp_path))
    assert out.dtypes == SUFFIX_REPORT_SCHEMA
    got = {
        r["doc_id"]: (
            r["n_tokens"], r["lrs_len"], r["dup_tokens"], r["n_spans"]
        )
        for r in out.collect()
    }
    return got, _brute_suffix_report(texts, SUFFIX_MIN_TOKENS, SUFFIX_CAP)


def test_dedup_suffix_matches_brute_force(spark, tmp_path):
    """One-sort SA + key LCP + island merge == the quadratic brute
    force, on a corpus engineered with every edge: an exact duplicate
    pair, a doc-in-doc passage, an OVERLAPPING within-doc repeat,
    identical suffixes of different docs (tie block), and unique
    filler."""
    passage = "alpha beta gamma delta epsilon zeta eta theta"
    texts = {
        0: passage + " one two three",
        1: passage + " one two three",           # exact dup of 0
        2: "x y " + passage + " z",              # doc-in-doc
        3: "a b " + " ".join(["r"] * 12) + " c", # overlapping self-repeat
        4: "unique tokens nothing repeats here at all",
        5: "tail end shared run p q r s t u",
        6: "other start but tail shared run p q r s t u",
    }
    got, want = _suffix_report_vs_brute(spark, tmp_path, texts)
    assert got == want
    assert 0 in want and 3 in want  # the planted structure was found


def test_dedup_suffix_past_the_cap_matches_brute_force(spark, tmp_path):
    """Two docs longer than SUFFIX_CAP tokens that agree on their first
    SUFFIX_CAP + 8 tokens: the only place the cap binds. Their suffixes
    tie on the capped keys, and the reported repeat clamps to the cap."""
    from cs422pp_mapreduce_spark.operators.suffix import SUFFIX_CAP

    shared = " ".join(f"w{i}" for i in range(SUFFIX_CAP + 8))
    texts = {0: shared + " end0", 1: shared + " end1"}
    got, want = _suffix_report_vs_brute(spark, tmp_path, texts)
    assert got == want
    assert want[0][1] == SUFFIX_CAP  # lrs_len clamped, not SUFFIX_CAP + 8


def test_dedup_suffix_empty_corpus(spark, tmp_path):
    """An empty documents table flows through: 0 rows, same schema."""
    got, want = _suffix_report_vs_brute(spark, tmp_path, {})
    assert got == want == {}


def test_dedup_suffix_builds_without_a_job(spark, sf_dir):
    """The cap does not depend on the data, so building the query
    plans only: no Spark job starts before the caller's action."""
    from cs422pp_mapreduce_spark.operators.suffix import q_dedup_suffix
    from cs422pp_mapreduce_spark.sources.catalog import load_table

    # a table's first load reads its parquet footer in a job; the
    # catalog memo serves every later build
    load_table(spark, sf_dir, "documents")
    sc = spark.sparkContext
    group = "dedup_suffix_build"
    sc.setJobGroup(group, "build only")
    try:
        q_dedup_suffix(spark, sf_dir)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []


def test_dedup_suffix_matches_duckdb_oracle(spark, sf_dir):
    """Driver-style: Spark result == the brute-force DuckDB oracle on
    the smoke fixture."""
    import duckdb

    from cs422pp_mapreduce_spark.operators.suffix import q_dedup_suffix
    from cs422pp_mapreduce_spark.oracles import ORACLES

    got = sorted(tuple(r) for r in q_dedup_suffix(spark, sf_dir).collect())
    con = duckdb.connect()
    con.sql(
        f"CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{sf_dir}/documents.parquet')"
    )
    want = sorted(tuple(r) for r in con.sql(ORACLES["dedup_suffix"]).fetchall())
    assert got == want

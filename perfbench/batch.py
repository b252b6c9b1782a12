"""The closed-loop ``batch`` workload.

One client runs the query mix, one query after another. For each query
it isolates the session, builds the frame through the engine's public
entry points (``__spark_entry__.queries()``, or
``operators.wordcount.wordcount_rdd``), forces it, then checks that no
runtime conf drifted.

A run is: set-up cycles; one untimed pass that collects every result
and compares it with its DuckDB oracle; then the timed window, which
repeats warm passes (forced through the noop sink), at least
``MIN_PASSES``, until one more would end after ``--seconds``. Figures
are per-query minimums over the timed passes: load from other tenants
of the host and the JIT, still compiling through the first passes,
only ever add time, and the minimum is the estimate they move least.
"""

from __future__ import annotations

import contextlib
import os
import time
import traceback

import harness as H

MIX = [
    # data plane: scans, joins, shuffles, no Python on the data path
    "tpch_q1", "tpch_q3", "tpch_q21", "hash_join", "count_distinct",
    # driver-paced builds, Python RDD and UDF work, many small jobs
    "wordcount_rdd", "corpus_prep", "dedup_minhash", "token_count_bpe",
    "tfidf", "topk_similarity",
]
# run, checked and traced only in traced runs: the one query of
# operators.suffix costs 5 to 8 s a pass and is still getting faster
# after six warm passes, so it would take the whole timed window
TRACE_ONLY = ["dedup_suffix"]
# the minimum of a query over fewer passes is larger, so a run that fit
# fewer passes into its window would read slower on that count alone;
# three passes take about 20 s
MIN_PASSES = 3
# gen_sf scale factor (row counts: FIXTURES.md / gen_sf.py)
SCALE = 0.01
# tables the mix reads; their rows are the stated input size
TABLES = ["lineitem", "orders", "customer", "supplier", "part", "nation",
          "region", "documents", "embeddings"]
# the cheapest query of the mix, run after every session start
WARMUP = "hash_join"
# the query a name runs, and the oracle it is checked against
ORACLE_OF = {"wordcount_rdd": "wordcount"}


def generate(seed: int, data_dir: str) -> dict:
    """Generate the inputs with ``tools/gen_sf.gen`` at ``SCALE``,
    seeded from ``seed``; return their sizes."""
    import contextlib
    import io

    import gen_sf
    import pyarrow.parquet as pq

    gen_sf.SEED = seed
    with contextlib.redirect_stdout(io.StringIO()):
        gen_sf.gen(data_dir, SCALE)
    info = {"sf": SCALE, "seed": seed, "tables": {}}
    for t in TABLES:
        path = os.path.join(data_dir, f"{t}.parquet")
        info["tables"][t] = {
            "rows": pq.read_metadata(path).num_rows,
            "bytes": os.path.getsize(path),
        }
    text = pq.read_table(os.path.join(data_dir, "documents.parquet"),
                         columns=["text"])["text"].to_pylist()
    info["dup_share"] = {
        "exact": round(1 - len(set(text)) / len(text), 4),
        # planted by gen_sf: 1% near (10% tokens mutated), 9% shared lede
        "near_planted": 0.01,
        "lede_planted": 0.09,
    }
    info["rows"] = sum(v["rows"] for v in info["tables"].values())
    return info


def query_fns() -> dict:
    """name -> (spark, sf_dir) -> DataFrame, through the public entry
    points (looked up at call time, so tracing wrappers apply)."""
    import __spark_entry__ as E
    from cs422pp_mapreduce_spark.operators import wordcount as WC
    from cs422pp_mapreduce_spark.session import apply_runtime_confs

    qs = E.queries()

    def wordcount_rdd(spark, sf_dir):
        apply_runtime_confs(spark)
        return WC.wordcount_rdd(spark, sf_dir)

    qs["wordcount_rdd"] = wordcount_rdd
    return qs


class Runner:
    """Runs queries with isolation, conf-drift checks and failure
    accounting; traced when ``tracer`` and ``status`` are set."""

    def __init__(self, spark, data_dir: str):
        self.spark = spark
        self.data_dir = data_dir
        self.tracer = None
        self.status = None
        self.attempted = 0
        self.failed = 0
        self.exceptions = 0
        self.wrong = 0
        self.drift = 0
        self.errors: list[str] = []

    def _span(self, name: str, layer: str):
        if self.tracer is None:
            return contextlib.nullcontext()
        return self.tracer.span(name, layer)

    def run(self, name: str, collect: bool = False, tag: str = "") -> dict:
        """Isolate, build and force one query; return its record. With
        ``collect`` the result is collected into ``rec["frame"]``."""
        spark, tr = self.spark, self.tracer
        sc = spark.sparkContext
        H.isolate(spark)
        build = query_fns()[name]
        qid = f"{tag}{name}"
        rec = {"query": name, "ok": True}
        self.attempted += 1
        if tr is not None:
            tr.query = qid
        try:
            with self._span(f"query.{name}", "query"):
                wall0, t0 = time.time(), time.perf_counter()
                sc.setJobGroup(f"{qid}#build", name)
                df = build(spark, self.data_dir)
                t1 = time.perf_counter()
                sc.setJobGroup(f"{qid}#exec", name)
                with self._span(f"exec.{name}", "exec"):
                    if collect:
                        rec["frame"] = df.toPandas()
                    else:
                        df.write.format("noop").mode("overwrite").save()
                t2 = time.perf_counter()
            rec.update(build_s=t1 - t0, exec_s=t2 - t1, wall_s=t2 - t0,
                       wall=(wall0, time.time()))
            if tr is not None:
                self._trace_query(rec, df, qid)
        except Exception:  # noqa: BLE001 - a failed query is counted, not fatal
            self.failed += 1
            self.exceptions += 1
            rec["ok"] = False
            self.errors.append(f"{name}: {traceback.format_exc(limit=3)}")
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            if tr is not None:
                tr.query = None
        drift = H.conf_drift(spark)
        if drift:
            self.drift += 1
            if rec["ok"]:
                self.failed += 1
            rec["drift"] = drift
            self.errors.append(f"{name}: conf drift {drift}")
        return rec

    def _trace_query(self, rec: dict, df, qid: str) -> None:
        from cs422pp_mapreduce_spark.plans.explain import count_shuffles

        rec["cache_bytes"] = self.status.cached_bytes()
        rec["exchanges"] = count_shuffles(df)
        rec["build"] = self.status.group({f"{qid}#build"})
        rec["exec"] = self.status.group({f"{qid}#exec"})

    def count_wrong(self, name: str, problems: list[str]) -> None:
        self.wrong += 1
        self.failed += 1
        self.errors.append(f"{name}: differs from its oracle: {problems[0]}")


def check_oracles(runner: Runner, recs: list[dict], data_dir: str) -> list[str]:
    """Compare collected results with their DuckDB oracle twins; return
    the queries that have no oracle."""
    import duckdb
    from check_oracles import TABLES as ALL_TABLES, compare

    import __spark_entry__ as E

    oracles = E.oracle_sql()
    con = duckdb.connect()
    for t in ALL_TABLES:
        path = os.path.join(data_dir, f"{t}.parquet")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    unchecked = []
    for rec in recs:
        frame = rec.pop("frame", None)
        if not rec["ok"]:
            continue
        name = rec["query"]
        sql = oracles.get(ORACLE_OF.get(name, name))
        if sql is None:
            unchecked.append(name)
            continue
        problems = compare(name, frame, con.sql(sql).df())
        if problems:
            runner.count_wrong(name, problems)
    con.close()
    return unchecked


def timed_passes(runner: Runner, mix: list[str], seconds: float) -> list[dict]:
    """Warm passes over the mix, at least ``MIN_PASSES``, until one more
    would end after ``seconds``."""
    passes = []
    t_start = time.perf_counter()
    while True:
        t0 = time.perf_counter()
        recs = [runner.run(name, tag=f"p{len(passes)}:") for name in mix]
        passes.append({"wall_s": time.perf_counter() - t0, "queries": recs})
        spent = time.perf_counter() - t_start
        if len(passes) >= MIN_PASSES and \
                spent * (1 + 1 / len(passes)) > seconds:
            return passes


def pass_metrics(passes: list[dict], input_rows: int) -> dict:
    """Per-query minimums over the timed passes; ``pass_s`` is their sum.
    The latency percentiles are taken over every timed query run."""
    per_q: dict[str, list[float]] = {}
    samples = []
    for p in passes:
        for r in p["queries"]:
            if r["ok"]:
                per_q.setdefault(r["query"], []).append(r["wall_s"])
                samples.append(r["wall_s"])
    query_s = {q: min(v) for q, v in per_q.items()}
    pass_s = sum(query_s.values())
    return {
        "pass_s": pass_s,
        "query_s.geomean": H.geomean(list(query_s.values())),
        "event_latency_s.p50": H.pctl(samples, 0.5),
        "event_latency_s.p90": H.pctl(samples, 0.9),
        "sustained_rows_per_s": input_rows / pass_s if pass_s else 0.0,
        "n_passes": len(passes),
        "passes_s": [p["wall_s"] for p in passes],
        "n_samples": len(samples),
        "query_s": query_s,
        "query_samples_s": per_q,
    }


def run(session: H.Session, workload: str, seed: int, seconds: float,
        trace: bool, run_dir: str) -> dict:
    data_dir = os.path.join(run_dir, "data")
    info = generate(seed, data_dir)

    def warmup(spark):
        query_fns()[WARMUP](spark, data_dir) \
            .write.format("noop").mode("overwrite").save()

    phases = {}
    t = time.perf_counter()
    session.setup(warmup)
    spark = session.spark
    runner = Runner(spark, data_dir)
    phases["setup"] = time.perf_counter() - t

    # untimed: collect every result and check it against its oracle
    t = time.perf_counter()
    checked = [runner.run(name, collect=True, tag="check:") for name in MIX]
    phases["check_pass"] = time.perf_counter() - t
    t = time.perf_counter()
    unchecked = check_oracles(runner, checked, data_dir)
    phases["oracles"] = time.perf_counter() - t

    t = time.perf_counter()
    with H.RssSampler(session.jvm_pid()) as rss:
        passes = timed_passes(runner, MIX, seconds)
    phases["timed"] = time.perf_counter() - t
    m = pass_metrics(passes, info["rows"])

    result = {
        "input": info,
        "setup": {"start_s": session.start_s, "warmup_s": session.warmup_s},
        "setup_s": session.setup_s,
        "peak_rss_mb": rss.peak_mb,
        "timed": m,
        "no_oracle": unchecked,
        "phases_s": phases,
        "check_pass_s": {r["query"]: r.get("wall_s") for r in checked},
    }
    if trace:
        result["trace"] = traced_pass(session, runner, m, data_dir)
        result["no_oracle"] += result["trace"].pop("no_oracle")
    result.update(
        attempted=runner.attempted, failed=runner.failed,
        exceptions=runner.exceptions, wrong=runner.wrong,
        drift=runner.drift, errors=runner.errors,
    )
    return result


def traced_pass(session, runner: Runner, untraced: dict,
                data_dir: str) -> dict:
    """Check the ``TRACE_ONLY`` queries against their oracles, then one
    more warm pass over ``MIX + TRACE_ONLY`` with spans, status-store
    reads and plan counts. Its pass time is the sum of the query walls
    (build and force, the part spans cover), so the status-store reads
    made between queries do not count as tracing overhead; the overhead
    is taken over the queries of the timed passes."""
    from trace import StatusReader, Tracer

    checked = [runner.run(name, collect=True, tag="check:")
               for name in TRACE_ONLY]
    unchecked = check_oracles(runner, checked, data_dir)
    tracer = Tracer()
    runner.tracer = tracer
    runner.status = StatusReader(session.spark)
    tracer.install()
    try:
        recs = [runner.run(name, tag="trace:") for name in MIX + TRACE_ONLY]
    finally:
        tracer.remove()
        runner.tracer = None
    timed = [r for r in recs if r["query"] in untraced["query_s"]]
    base = sum(untraced["query_s"][r["query"]] for r in timed)
    return {"pass_s": sum(r.get("wall_s", 0.0) for r in recs),
            "overhead_s": sum(r.get("wall_s", 0.0) for r in timed) - base,
            "queries": recs, "tracer": tracer, "no_oracle": unchecked}

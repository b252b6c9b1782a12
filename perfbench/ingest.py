"""The open-loop ``ingest`` workload.

A separate generator process (``ingest_gen.py``) lands seeded event
files on a fixed schedule that never waits for the system. The system
under test is the engine's streaming path:
``streaming.events.read_event_stream`` ->
``streaming.dedup.stream_dedup_events`` -> ``foreachBatch`` writing each
micro-batch with ``sources.sinks.write_parquet`` into its own
directory, under ``streaming.events.stream_drain_conf``, with
back-to-back triggers.

Schedule: a warm burst and a warm segment, then the reference segment
(``REF_RATE`` rows/s; event latency is measured on its files), then
``BURSTS`` bursts of ``BURST_ROWS`` rows, each landing at once on an
idle system; the reference segment and the bursts together take
``--seconds``. The time to commit a burst is its drain time; burst
rows over the median drain time is the rate the pipeline sustains.
"""

from __future__ import annotations

import contextlib
import json
import os
import subprocess
import sys
import time
from datetime import datetime, timezone

import harness as H

HERE = os.path.dirname(os.path.abspath(__file__))
REF_RATE = 20_000  # rows/s, well below saturation on a 4-core host
INTERVAL = 0.25  # seconds between landed files
WARM_S = 4.0  # latency falls over the first few seconds of files
BURSTS = 3
BURST_ROWS = 400_000
BURST_FILES = 8
BURST_GAP = 3.0  # idle seconds before each burst: the previous batch and its
# state-evicting no-data batch have committed by then
WATERMARK = "2 seconds"  # > generator jitter (0.5 s) + re-delivery lag (1 s)
MAX_FILES = 1_000_000  # no cap: each trigger takes every landed file


def plan(seconds: float) -> list[dict]:
    """Landing schedule: a warm burst, the warm segment, then the
    reference segment and the measured bursts, which together take
    ``seconds``."""
    rows = round(REF_RATE * INTERVAL)
    ref_s = max(seconds - BURSTS * BURST_GAP, 1.0)
    out, t = [], 0.0

    def burst(segment):
        out.extend(
            {"due": round(t, 3), "rows": BURST_ROWS // BURST_FILES,
             "segment": segment}
            for _ in range(BURST_FILES)
        )

    # the first large micro-batch runs slower (its per-row code is
    # still being compiled), so one burst lands before anything is timed
    burst("warm")
    t += BURST_GAP
    for seg, secs in (("warm", WARM_S), ("ref", ref_s)):
        for _ in range(round(secs / INTERVAL)):
            out.append({"due": round(t, 3), "rows": rows, "segment": seg})
            t += INTERVAL
    for b in range(BURSTS):
        t += BURST_GAP
        burst(f"burst{b}")
    return out


def start_stream(spark, landing: str, ckpt: str, sink: str,
                 available_now: bool = False):
    """The pipeline under test; names are looked up at call time so
    tracing wrappers apply."""
    from cs422pp_mapreduce_spark.sources import sinks as SK
    from cs422pp_mapreduce_spark.streaming import dedup as SD
    from cs422pp_mapreduce_spark.streaming import events as SE

    def write_batch(df, batch_id):
        SK.write_parquet(df, os.path.join(sink, f"batch={batch_id:06d}"))

    deduped = SD.stream_dedup_events(
        SE.read_event_stream(spark, landing, max_files_per_trigger=MAX_FILES),
        WATERMARK,
    )
    writer = deduped.writeStream.foreachBatch(write_batch) \
        .option("checkpointLocation", ckpt)
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def warmup_stream(run_dir: str, seed: int):
    """Set-up warm-up: drain two small files through the same pipeline,
    with its own checkpoint and sink each cycle. The files are written
    here, before set-up is timed; a cycle only lands them."""
    from ingest_gen import land, write_files

    small = [{"due": 0.0, "rows": 2000, "segment": "warm-up"}] * 2
    cycles = []
    for k in range(H.SETUP_CYCLES):
        base = os.path.join(run_dir, f"warm{k}")
        cycles.append((base, write_files(base, small, seed)))
    todo = iter(cycles)

    def warm(spark):
        from cs422pp_mapreduce_spark.streaming.events import stream_drain_conf

        base, files = next(todo)
        land(base, files, time.time())
        with stream_drain_conf(spark):
            q = start_stream(spark, os.path.join(base, "landing"),
                             os.path.join(base, "ckpt"),
                             os.path.join(base, "sink"), available_now=True)
            q.awaitTermination()

    return warm


def commit_time(p: dict) -> float:
    """Epoch seconds at which a micro-batch (a progress record) ended."""
    ts = datetime.strptime(p["timestamp"], "%Y-%m-%dT%H:%M:%S.%fZ")
    return ts.replace(tzinfo=timezone.utc).timestamp() + \
        p["durationMs"].get("triggerExecution", 0) / 1e3


def latencies(log: list[dict], progress: list) -> list[dict]:
    """For each landed file, the commit time of the first micro-batch
    whose cumulative input rows cover it (None if never committed)."""
    batches = sorted((p for p in progress if p["numInputRows"] > 0),
                     key=lambda p: p["batchId"])
    cum_b, c = [], 0
    for p in batches:
        c += p["numInputRows"]
        cum_b.append((c, commit_time(p)))
    out, c, b = [], 0, 0
    for f in sorted(log, key=lambda f: f["i"]):
        c += f["rows"]
        while b < len(cum_b) and cum_b[b][0] < c:
            b += 1
        commit = cum_b[b][1] if b < len(cum_b) else None
        out.append({**f, "commit": commit,
                    "latency": None if commit is None else commit - f["landed"]})
    return out


def ref_progress(progress: list[dict], log: list[dict]) -> list[dict]:
    """Micro-batches that committed reference-segment files."""
    commits = {f["commit"] for f in log if f["segment"] == "ref"}
    return [p for p in progress
            if p["numInputRows"] > 0 and commit_time(p) in commits]


def check_sink(gen_dir: str, sink: str) -> tuple[bool, dict]:
    """Exactly one sink row per distinct landed event_id (DuckDB)."""
    import duckdb

    con = duckdb.connect()
    landed = f"read_parquet('{gen_dir}/landing/*.parquet')"
    written = f"read_parquet('{sink}/*/*.parquet')"
    n_landed, n_distinct = con.sql(
        f"SELECT count(*), count(DISTINCT event_id) FROM {landed}").fetchone()
    n_sink, n_sink_distinct = con.sql(
        f"SELECT count(*), count(DISTINCT event_id) FROM {written}").fetchone()
    n_diff = con.sql(
        f"SELECT count(*) FROM (SELECT DISTINCT event_id FROM {landed}) l "
        f"FULL OUTER JOIN (SELECT DISTINCT event_id FROM {written}) s "
        "USING (event_id) WHERE l.event_id IS NULL OR s.event_id IS NULL"
    ).fetchone()[0]
    con.close()
    files = [os.path.join(d, n) for d, _, names in os.walk(sink)
             for n in names if n.endswith(".parquet")]
    stats = {"landed_rows": n_landed, "distinct_ids": n_distinct,
             "sink_files": len(files),
             "sink_bytes": sum(os.path.getsize(f) for f in files),
             "sink_rows": n_sink, "sink_distinct": n_sink_distinct,
             "id_mismatch": n_diff,
             "dup_share": round(1 - n_distinct / n_landed, 4) if n_landed else 0}
    ok = n_sink == n_sink_distinct == n_distinct and n_diff == 0
    return ok, stats


def one_stream(session, run_dir: str, name: str, seed: int, seconds: float,
               tracer=None) -> dict:
    """Land one plan through a fresh stream; return its measurements."""
    from cs422pp_mapreduce_spark.streaming import events as SE

    spark = session.spark
    base = os.path.join(run_dir, name)
    gen_dir = os.path.join(base, "gen")
    os.makedirs(gen_dir, exist_ok=True)
    plan_path = os.path.join(base, "plan.json")
    with open(plan_path, "w") as fh:
        json.dump(plan(seconds), fh)
    gen = subprocess.Popen(
        [sys.executable, os.path.join(HERE, "ingest_gen.py"), "--out", gen_dir,
         "--seed", str(seed), "--plan", plan_path],
        stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True,
    )
    listener_records: list = []
    listener = None
    span = tracer.span if tracer is not None else \
        (lambda *_: contextlib.nullcontext())
    sink = os.path.join(base, "sink")
    try:
        if gen.stdout.readline().strip() != "ready":
            raise RuntimeError("generator did not start")
        if tracer is not None:
            from trace import stream_listener

            listener = stream_listener(listener_records)
            spark.streams.addListener(listener)
        with span("ingest.stream", "query"), SE.stream_drain_conf(spark), \
                H.RssSampler(session.jvm_pid()) as rss:
            q = start_stream(spark, os.path.join(gen_dir, "landing"),
                             os.path.join(base, "ckpt"), sink)
            with span("ingest.run", "exec"):
                gen.stdin.write(f"go {time.time() + 0.5}\n")
                gen.stdin.flush()
                gen.stdin.close()
                gen.wait(timeout=120)
                try:
                    q.processAllAvailable()
                except Exception:  # noqa: BLE001 - reported via q.exception()
                    pass
                progress = [json.loads(p.json) for p in q.recentProgress]
                q.stop()
            exc = q.exception()
    finally:
        if gen.poll() is None:
            gen.kill()
        gen.wait()
        if listener is not None:
            spark.streams.removeListener(listener)
    if gen.returncode != 0:
        raise RuntimeError(f"generator exited with {gen.returncode}")
    with open(os.path.join(gen_dir, "landed.json")) as fh:
        log = json.load(fh)
    ok, sink_stats = check_sink(gen_dir, sink)
    error = None if exc is None else str(exc)
    # latencies() maps files to batches by cumulative rows, so it needs
    # every micro-batch from the first on
    read = sum(p["numInputRows"] for p in progress)
    landed = sum(f["rows"] for f in log)
    if error is None and read != landed:
        error = f"progress records cover {read} of {landed} landed rows"
    return {
        "log": latencies(log, progress), "progress": progress,
        "listener": listener_records, "sink_ok": ok,
        "sink_stats": sink_stats, "peak_rss_mb": rss.peak_mb,
        "error": error,
    }


def stream_metrics(res: dict) -> dict:
    log = res["log"]
    ref = [f["latency"] for f in log
           if f["segment"] == "ref" and f["latency"] is not None]
    drains = []
    for b in (f"burst{k}" for k in range(BURSTS)):
        files = [f for f in log if f["segment"] == b]
        if files and all(f["commit"] is not None for f in files):
            drains.append(max(f["commit"] for f in files)
                          - min(f["landed"] for f in files))
    drain_s = H.median(drains)
    ref_batches = ref_progress(res["progress"], log)
    return {
        "pass_s": drain_s,
        "query_s.geomean": H.geomean(
            [p["durationMs"].get("triggerExecution", 0) / 1e3 for p in ref_batches]
        ),
        "event_latency_s.p50": H.pctl(ref, 0.5),
        "event_latency_s.p90": H.pctl(ref, 0.9),
        "sustained_rows_per_s": BURST_ROWS / drain_s if drain_s else 0.0,
        "n_samples": len(ref),
        "ref_latency_s": ref,
        "drains_s": drains,
        "uncommitted_files": sum(f["commit"] is None for f in log),
    }


def run(session: H.Session, workload: str, seed: int, seconds: float,
        trace: bool, run_dir: str) -> dict:
    session.setup(warmup_stream(run_dir, seed))
    spark = session.spark
    res = one_stream(session, run_dir, "stream", seed, seconds)
    m = stream_metrics(res)
    # operations are landed files: uncommitted ones failed; a failed
    # stream or a sink that is not exactly-once fails them all
    attempted = len(res["log"])
    errors = [res["error"]] if res["error"] else []
    wrong = 0 if res["sink_ok"] else attempted
    if wrong:
        errors.append(f"sink is not exactly-once: {res['sink_stats']}")
    drift = H.conf_drift(spark)
    if drift:
        errors.append(f"conf drift {drift}")
    failed = attempted if res["error"] else min(
        attempted, m["uncommitted_files"] + wrong + (1 if drift else 0))
    result = {
        "input": {"seed": seed, "ref_rate": REF_RATE, "interval_s": INTERVAL,
                  "burst_rows": BURST_ROWS, "files": attempted,
                  **res["sink_stats"]},
        "setup": {"start_s": session.start_s, "warmup_s": session.warmup_s},
        "setup_s": session.setup_s,
        "peak_rss_mb": res["peak_rss_mb"],
        "timed": m,
        "attempted": attempted, "failed": failed, "wrong": wrong,
        "exceptions": 1 if res["error"] else 0,
        "drift": 1 if drift else 0, "errors": errors,
        "gen_late_s_max": max(f["landed"] - f["due"] for f in res["log"]),
    }
    if trace:
        from trace import StatusReader, Tracer

        tracer = Tracer()
        status = StatusReader(spark)
        first_job = status.max_job_id()
        tracer.install()
        try:
            tres = one_stream(session, run_dir, "traced", seed, seconds, tracer)
        finally:
            tracer.remove()
        tm = stream_metrics(tres)
        result["trace"] = {
            "pass_s": tm["pass_s"], "overhead_s": tm["pass_s"] - m["pass_s"],
            "stream": tres, "tracer": tracer,
            "spark": status.collect(lambda j: j.jobId() > first_job),
        }
    return result

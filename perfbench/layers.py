"""Per-layer metrics of a traced run, and the end-to-end metric each
should move (see README.md for the full map).

Every workload reports every metric; a layer a workload never enters
reports 0, which is the "stays flat" prediction made measurable.
"""

from __future__ import annotations

import os

import harness as H
from trace import covered, union_length

OPERATOR_MODULES = ["relational", "tpch", "wordcount", "corpus", "dedup",
                    "suffix", "similarity", "textops", "tokenize"]

# (name, unit, better)
PER_LAYER = [
    ("session.start_s", "s", "lower"),
    ("session.warmup_s", "s", "lower"),
    ("session.conf_drift", "count", "lower"),
    ("catalog.load_table.calls", "count", "lower"),
    ("catalog.load_table.s", "s", "lower"),
    ("catalog.scan_bytes", "bytes", "lower"),
    ("catalog.scan_rows", "rows", "lower"),
    ("sinks.write.calls", "count", "lower"),
    ("sinks.write.s", "s", "lower"),
    ("sinks.output_bytes", "bytes", "lower"),
    ("sinks.files", "count", "lower"),
    *[
        (f"operators.{m}.{k}", u, "lower")
        for m in OPERATOR_MODULES
        for k, u in (("build_s", "s"), ("build_jobs", "count"), ("exec_s", "s"))
    ],
    ("jobs", "count", "lower"),
    ("stages", "count", "lower"),
    ("tasks", "count", "lower"),
    ("exec.run_s", "s", "lower"),
    ("exec.cpu_s", "s", "lower"),
    ("exec.gc_s", "s", "lower"),
    ("exec.util", "ratio", "higher"),
    ("driver.gap_s", "s", "lower"),
    ("shuffle.write_bytes", "bytes", "lower"),
    ("shuffle.read_bytes", "bytes", "lower"),
    ("shuffle.fetch_wait_s", "s", "lower"),
    ("shuffle.skew", "ratio", "lower"),
    ("spill.mem_bytes", "bytes", "lower"),
    ("spill.disk_bytes", "bytes", "lower"),
    ("cache.stored_bytes", "bytes", "lower"),
    ("plans.exchanges", "count", "lower"),
    ("streaming.batches", "count", "lower"),
    ("streaming.batch_s.p50", "s", "lower"),
    ("streaming.batch_s.p90", "s", "lower"),
    ("streaming.add_batch_s", "s", "lower"),
    ("streaming.wal_commit_s", "s", "lower"),
    ("streaming.query_planning_s", "s", "lower"),
    ("streaming.latest_offset_s", "s", "lower"),
    ("streaming.rows_per_batch", "rows", "higher"),
    ("streaming.state_rows", "rows", "lower"),
    ("streaming.state_bytes", "bytes", "lower"),
    ("streaming.state_commit_s", "s", "lower"),
    ("streaming.backlog_rows", "rows", "lower"),
    ("gen.late_s.max", "s", "lower"),
    ("gen.files", "count", "lower"),
    ("tasks.failed", "count", "lower"),
    ("queries.failed", "count", "lower"),
    ("queries.wrong", "count", "lower"),
    ("trace.overhead_s", "s", "lower"),
    ("trace.coverage", "ratio", "higher"),
]


CORES = os.cpu_count() or 1


def _spark_totals(m: dict, st: dict) -> None:
    """Add one status-store total (trace.StatusReader.collect)."""
    m["jobs"] += st["jobs"]
    m["stages"] += st["stages"]
    m["tasks"] += st["tasks"]
    m["exec.run_s"] += st["run_s"]
    m["exec.cpu_s"] += st["cpu_s"]
    m["exec.gc_s"] += st["gc_s"]
    m["shuffle.write_bytes"] += st["shuffle_write"]
    m["shuffle.read_bytes"] += st["shuffle_read"]
    m["shuffle.fetch_wait_s"] += st["fetch_wait_s"]
    m["shuffle.skew"] = max(m["shuffle.skew"], st["skew"])
    m["spill.mem_bytes"] += st["spill_mem"]
    m["spill.disk_bytes"] += st["spill_disk"]
    m["tasks.failed"] += st["tasks_failed"]


def _base(result: dict) -> dict:
    """Every metric at 0, plus the ones both kinds of workload share."""
    m = {name: 0 for name, _, _ in PER_LAYER}
    m["shuffle.skew"] = 1.0
    m["session.start_s"] = H.median(result["setup"]["start_s"])
    m["session.warmup_s"] = H.median(result["setup"]["warmup_s"])
    m["session.conf_drift"] = result["drift"]
    m["queries.wrong"] = result["wrong"]
    m["queries.failed"] = result["exceptions"]
    m["trace.overhead_s"] = result["trace"]["overhead_s"]
    for sp in result["trace"]["tracer"].spans:
        if sp.name == "catalog.load_table":
            m["catalog.load_table.calls"] += 1
            m["catalog.load_table.s"] += sp.dur
        elif sp.layer == "sinks":
            m["sinks.write.calls"] += 1
            m["sinks.write.s"] += sp.dur
    return m


def batch(result: dict) -> dict:
    """Per-layer metrics of a batch workload's traced pass."""
    tr = result["trace"]
    tracer = tr["tracer"]
    m = _base(result)
    selfs = tracer.self_times()
    by_query: dict[str, list] = {}
    for sp in tracer.spans:
        by_query.setdefault(sp.query, []).append(sp)
    coverage = []
    run_s = 0.0
    for rec in tr["queries"]:
        if not rec["ok"]:
            continue
        spans = by_query[f"trace:{rec['query']}"]
        root = next(s for s in spans if s.layer == "query")
        kids = tracer.children(root)
        coverage.append(covered(root, kids) / root.dur)
        exec_span = next(s for s in kids if s.layer == "exec")
        # operator self time spent building (outside the force)
        for sp in spans:
            mod = sp.layer.removeprefix("operators.")
            if mod in OPERATOR_MODULES and not (
                exec_span.start <= sp.start and sp.end <= exec_span.end
            ):
                m[f"operators.{mod}.build_s"] += selfs[sp.id]
        # jobs and force time go to the module of the query's build function
        top = next((s for s in kids if s.layer.startswith("operators.")), None)
        mod = top.layer.removeprefix("operators.") if top else None
        if mod in OPERATOR_MODULES:
            m[f"operators.{mod}.build_jobs"] += rec["build"]["jobs"]
            m[f"operators.{mod}.exec_s"] += exec_span.dur
        for st in (rec["build"], rec["exec"]):
            _spark_totals(m, st)
            m["catalog.scan_bytes"] += st["input_bytes"]
            m["catalog.scan_rows"] += st["input_rows"]
            m["sinks.output_bytes"] += st["output_bytes"]
            run_s += st["run_s"]
        lo, hi = rec["wall"]
        busy = union_length(
            rec["build"]["intervals"] + rec["exec"]["intervals"], lo, hi)
        m["driver.gap_s"] += (hi - lo) - busy
        m["cache.stored_bytes"] = max(m["cache.stored_bytes"], rec["cache_bytes"])
        m["plans.exchanges"] += rec["exchanges"]
    m["exec.util"] = run_s / (tr["pass_s"] * CORES) if tr["pass_s"] else 0.0
    m["trace.coverage"] = min(coverage, default=0.0)
    return m


def ingest(result: dict) -> dict:
    """Per-layer metrics of the ingest workload's traced stream."""
    from ingest import ref_progress

    tr = result["trace"]
    tracer = tr["tracer"]
    stream = tr["stream"]
    m = _base(result)
    root = next(s for s in tracer.spans if s.layer == "query")
    m["trace.coverage"] = covered(root, tracer.children(root)) / root.dur
    st = tr["spark"]
    _spark_totals(m, st)
    m["exec.util"] = st["run_s"] / (root.dur * CORES)
    # the stream's jobs carry no job group: time between its first and
    # last job with none running (waiting for files, driver work)
    if st["intervals"]:
        lo = min(a for a, _ in st["intervals"])
        hi = max(b for _, b in st["intervals"])
        m["driver.gap_s"] = (hi - lo) - union_length(st["intervals"], lo, hi)
    m["sinks.output_bytes"] = stream["sink_stats"]["sink_bytes"]
    m["sinks.files"] = stream["sink_stats"]["sink_files"]

    log = stream["log"]
    ref = ref_progress(stream["listener"], log)

    def dur(key: str) -> list[float]:
        return [p["durationMs"].get(key, 0) / 1e3 for p in ref]

    m["streaming.batches"] = len(ref)
    m["streaming.batch_s.p50"] = H.pctl(dur("triggerExecution"), 0.5)
    m["streaming.batch_s.p90"] = H.pctl(dur("triggerExecution"), 0.9)
    m["streaming.add_batch_s"] = H.median(dur("addBatch"))
    m["streaming.wal_commit_s"] = H.median(dur("walCommit"))
    m["streaming.query_planning_s"] = H.median(dur("queryPlanning"))
    m["streaming.latest_offset_s"] = H.median(dur("latestOffset"))
    m["streaming.rows_per_batch"] = H.median([p["numInputRows"] for p in ref])
    ops = [op for p in stream["listener"] for op in p["stateOperators"]]
    m["streaming.state_rows"] = max((op["numRowsTotal"] for op in ops), default=0)
    m["streaming.state_bytes"] = max(
        (op["memoryUsedBytes"] for op in ops), default=0)
    m["streaming.state_commit_s"] = H.median(
        [op["commitTimeMs"] / 1e3 for p in ref for op in p["stateOperators"]])
    # rows landed but not yet committed, at each reference-file landing
    for f in log:
        if f["segment"] == "ref":
            landed = sum(g["rows"] for g in log if g["landed"] <= f["landed"])
            done = sum(g["rows"] for g in log
                       if g["commit"] is not None and g["commit"] <= f["landed"])
            m["streaming.backlog_rows"] = max(m["streaming.backlog_rows"],
                                              landed - done)
    m["gen.late_s.max"] = max(f["landed"] - f["due"] for f in log)
    m["gen.files"] = len(log)
    return m

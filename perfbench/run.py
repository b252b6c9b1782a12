"""Benchmark of the engine: two workloads, end-to-end and per-layer.

  python3 perfbench/run.py --workload batch|ingest \
      --seed N --seconds S --trace 0|1

Run from the root of a checkout. Inputs are generated from ``--seed``
into a per-run directory under ``.perfbench/``, which also holds every
scratch path of the run (TMPDIR, Spark local dirs, warehouse,
checkpoints, ingest files) and is removed at exit. With ``--trace 0``
the last line of stdout is a JSON object with the end-to-end metrics;
with ``--trace 1`` it carries the per-layer metrics of a traced pass
instead. The full record (input sizes, duplicate shares, per-query
times and, when traced, the spans) is written to
``.perfbench/results/``. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import shutil
import signal
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import harness as H  # noqa: E402

WORKLOADS = ("batch", "ingest")
# (name, unit)
END_TO_END = [
    ("setup_s", "s"),
    ("pass_s", "s"),
    ("query_s.geomean", "s"),
    ("event_latency_s.p50", "s"),
    ("event_latency_s.p90", "s"),
    ("sustained_rows_per_s", "rows/s"),
    ("ok_ratio", "ratio"),
    ("peak_rss_mb", "MB"),
]
REQUIRED = ("__spark_entry__.py", "cs422pp_mapreduce_spark",
            "tools/gen_sf.py", "tools/check_oracles.py")


def end_to_end(result: dict) -> dict:
    t = result["timed"]
    attempted = result["attempted"]
    return {
        "setup_s": result["setup_s"],
        "pass_s": t["pass_s"],
        "query_s.geomean": t["query_s.geomean"],
        "event_latency_s.p50": t["event_latency_s.p50"],
        "event_latency_s.p90": t["event_latency_s.p90"],
        "sustained_rows_per_s": t["sustained_rows_per_s"],
        "ok_ratio": (attempted - result["failed"]) / attempted,
        "peak_rss_mb": result["peak_rss_mb"],
    }


def record(result: dict) -> dict:
    """JSON-able copy of a result (spans dumped, Spark objects dropped)."""
    out = {k: v for k, v in result.items() if k != "trace"}
    tr = result.get("trace")
    if tr is not None:
        out["trace"] = {
            "pass_s": tr["pass_s"], "overhead_s": tr["overhead_s"],
            "spans": tr["tracer"].dump(),
        }
        if "queries" in tr:
            out["trace"]["queries"] = tr["queries"]
        if "stream" in tr:
            out["trace"]["progress"] = tr["stream"]["listener"]
    return out


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    missing = [p for p in REQUIRED if not os.path.exists(os.path.join(ROOT, p))]
    if missing:
        print(f"perfbench: {ROOT} is not a checkout of the engine "
              f"(missing {', '.join(missing)})", file=sys.stderr)
        return 2

    # a run killed by SIGKILL leaves its directory; drop those whose
    # process is gone, and turn SIGTERM into an exit that cleans up
    for stale in glob.glob(os.path.join(ROOT, ".perfbench", "run-*")):
        if not os.path.exists(f"/proc/{stale.rsplit('-', 1)[1]}"):
            shutil.rmtree(stale, ignore_errors=True)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    run_dir = os.path.join(ROOT, ".perfbench", f"run-{os.getpid()}")
    os.makedirs(run_dir)
    H.hermetic_env(ROOT, run_dir)
    if args.workload == "ingest":
        import ingest as workload
    else:
        import batch as workload
    session = H.Session()
    try:
        result = workload.run(session, args.workload, args.seed,
                              args.seconds, bool(args.trace), run_dir)
    finally:
        session.close()
        shutil.rmtree(run_dir, ignore_errors=True)

    e2e = end_to_end(result)
    if args.trace:
        import layers

        per_layer = (layers.ingest if args.workload == "ingest"
                     else layers.batch)(result)
        units = {n: u for n, u, _ in layers.PER_LAYER}
        metrics = {n: {"value": per_layer[n], "unit": units[n]}
                   for n in units}
    else:
        metrics = {n: {"value": e2e[n], "unit": u} for n, u in END_TO_END}
    correct = result["wrong"] == 0 and result["exceptions"] == 0

    rec = record(result)
    rec.update(workload=args.workload, seconds=args.seconds,
               end_to_end=e2e, metrics=metrics, correct=correct)
    out_dir = os.path.join(ROOT, ".perfbench", "results")
    os.makedirs(out_dir, exist_ok=True)
    out_path = os.path.join(
        out_dir, f"{args.workload}-seed{args.seed}-trace{args.trace}.json")
    with open(out_path, "w") as fh:
        json.dump(rec, fh, indent=1, default=str)

    print(f"perfbench {args.workload} seed={args.seed} "
          f"seconds={args.seconds:g} trace={args.trace}")
    for name, unit in END_TO_END:
        print(f"  {name:24s} {e2e[name]:14.4f} {unit}")
    if args.trace:
        print(f"  tracing overhead {result['trace']['overhead_s']:+.3f} s "
              "(traced minus untraced pass_s)")
    verdict = "correct" if correct else "INCORRECT"
    print(f"  verdict: {verdict}; {result['attempted']} operations, "
          f"{result['failed']} failed ({result['wrong']} wrong results, "
          f"{result['exceptions']} exceptions, {result['drift']} with conf "
          "drift)")
    for err in result["errors"]:
        print(f"    {err.splitlines()[0]}")
    print(f"  record: {os.path.relpath(out_path, ROOT)}")
    print(json.dumps({
        "correct": correct,
        "attempted": result["attempted"],
        "failed": result["failed"],
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())

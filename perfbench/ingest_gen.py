"""Open-loop event generator for the ``ingest`` workload.

Runs as its own process so that landing files never waits on the
system under test. It first writes every file of the plan into
``<out>/staging`` (seeded: the same seed and plan give the same bytes),
then prints ``ready`` and waits for one ``go <epoch_seconds>`` line on
stdin. From that instant ``t0`` it lands each file at ``t0 + due`` by
setting its mtime and renaming it into ``<out>/landing``; the rename
is atomic, so the file source never lists a half-written file.

The plan is a JSON list of ``{"due": seconds, "rows": n, "segment":
name}``, one entry per file, in landing order. Files are in the
catalog's ``events`` schema with microsecond timestamps. Event time
runs on its own clock from 2024-01-01: an event's ``ts`` is its file's
due offset on that clock minus a jitter below ``JITTER`` seconds.
``DUP_SHARE`` of each file's rows re-deliver, bit for bit, events of
the previous ``DUP_LAG`` files.

When the plan ends it writes ``<out>/landed.json``: the plan entries
with each file's due and actual landing time (epoch seconds) and the
number of event ids it introduced.

Usage: python3 ingest_gen.py --out DIR --seed N --plan PLAN.json
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = np.array(["signup", "click", "purchase", "error", "view"])
# 2024-01-01T00:00:00Z in microseconds: the event-time origin.
BASE_US = 1_704_067_200_000_000
JITTER = 0.5  # seconds, below the ingest watermark
DUP_SHARE = 0.02
DUP_LAG = 4  # files


def write_files(out: str, plan: list[dict], seed: int) -> list[dict]:
    """Write one parquet file per plan entry into ``<out>/staging``.

    Returns the plan entries extended with ``path`` and ``new`` (event
    ids introduced by the file; the rest of its rows are re-deliveries).
    """
    rng = np.random.default_rng(seed)
    staging = os.path.join(out, "staging")
    os.makedirs(staging, exist_ok=True)
    os.makedirs(os.path.join(out, "landing"), exist_ok=True)
    recent: list[pa.Table] = []
    next_id = 0
    files = []
    for i, entry in enumerate(plan):
        rows = entry["rows"]
        n_dup = int(rows * DUP_SHARE) if recent else 0
        n_new = rows - n_dup
        due_us = BASE_US + round(entry["due"] * 1e6)
        fresh = pa.table({
            "event_id": pa.array(np.arange(next_id, next_id + n_new), pa.int64()),
            "ts": pa.array(
                due_us - rng.integers(0, round(JITTER * 1e6), n_new),
                pa.timestamp("us"),
            ),
            "user_id": pa.array(rng.integers(0, 5_000, n_new), pa.int64()),
            "event_type": EVENT_TYPES[rng.integers(0, 5, n_new)],
            "value": np.round(np.minimum(rng.exponential(50.0, n_new), 560.0), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_new)],
        })
        next_id += n_new
        parts = [fresh]
        if n_dup:
            pool = pa.concat_tables(recent)
            parts.append(pool.take(pa.array(rng.integers(0, pool.num_rows, n_dup))))
        recent = (recent + [fresh])[-DUP_LAG:]
        path = os.path.join(staging, f"ev{i:05d}.parquet")
        pq.write_table(pa.concat_tables(parts), path)
        files.append({**entry, "i": i, "new": n_new, "path": path})
    return files


def land(out: str, files: list[dict], t0: float) -> list[dict]:
    """Land each file at t0 + due; never wait on the consumer."""
    landing = os.path.join(out, "landing")
    log = []
    for f in files:
        due = t0 + f["due"]
        delay = due - time.time()
        if delay > 0:
            time.sleep(delay)
        now = time.time()
        os.utime(f["path"], (now, now))
        os.rename(f["path"], os.path.join(landing, os.path.basename(f["path"])))
        log.append({
            "i": f["i"], "segment": f["segment"], "rows": f["rows"],
            "new": f["new"], "due": due, "landed": now,
        })
    return log


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--out", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--plan", required=True)
    args = ap.parse_args()

    with open(args.plan) as fh:
        plan = json.load(fh)
    files = write_files(args.out, plan, args.seed)
    print("ready", flush=True)
    line = sys.stdin.readline().split()
    if len(line) != 2 or line[0] != "go":
        return 1
    log = land(args.out, files, float(line[1]))
    tmp = os.path.join(args.out, "landed.json.tmp")
    with open(tmp, "w") as fh:
        json.dump(log, fh)
    os.rename(tmp, os.path.join(args.out, "landed.json"))
    return 0


if __name__ == "__main__":
    sys.exit(main())

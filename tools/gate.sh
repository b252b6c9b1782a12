#!/usr/bin/env bash
# One-shot local correctness gate, in order of increasing cost. Exit
# non-zero on the first failing stage.
#
#   tools/gate.sh [sf_dir]          # default /root/testdata/sf0.01
#
# Stages:
#   1. pytest            unit/plan/property/streaming suite
#   2. audit_plans       scale anti-patterns over every query plan
#   3. sweep_dtypes      output dtype/collection lint
#   4. check_oracles     exact DuckDB comparison, full surface
#
# The benchmark is separate: `python3 perfbench/run.py` (see
# perfbench/README.md), run on an otherwise idle machine.
set -euo pipefail
cd "$(dirname "$0")/.."
SF="${1:-/root/testdata/sf0.01}"

echo "== 1/4 pytest ==" >&2
python -m pytest tests/ -x -q
echo "== 2/4 plan audit ==" >&2
python tools/audit_plans.py "$SF"
echo "== 3/4 dtype sweep ==" >&2
python tools/sweep_dtypes.py "$SF"
echo "== 4/4 oracle gate ($SF) ==" >&2
python tools/check_oracles.py "$SF"
echo "GATE GREEN ($SF)" >&2

"""``tools/check_oracles.py`` query selection: names and shell patterns
pick registered queries, and one that matches none fails the run
before Spark starts instead of passing with nothing checked."""

from __future__ import annotations

import importlib.util
import os
import subprocess
import sys

TOOL = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "tools",
    "check_oracles.py",
)
_spec = importlib.util.spec_from_file_location("check_oracles", TOOL)
check_oracles = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(check_oracles)
select = check_oracles.select


def test_select_names_and_patterns():
    names = ["stream_dedup", "stream_sessions", "tpch_q1", "wordcount"]
    assert select(names, []) == (names, [])
    assert select(names, ["stream_*", "wordcount"]) == (
        ["stream_dedup", "stream_sessions", "wordcount"],
        [],
    )
    assert select(names, ["stream_dedupp", "tpch_*", "q9*"]) == (
        ["tpch_q1"],
        ["stream_dedupp", "q9*"],
    )


def test_streaming_pattern_selects_the_streaming_queries():
    import __spark_entry__ as E

    chosen, unmatched = select(list(E.queries()), ["stream_*"])
    assert len(chosen) == 15 and not unmatched


def test_unknown_query_exits_2():
    r = subprocess.run(
        [sys.executable, TOOL, "/nonexistent", "stream_dedupp", "stream_*"],
        capture_output=True,
        text=True,
        timeout=120,
    )
    assert r.returncode == 2, r.stdout + r.stderr[-2000:]
    assert "stream_dedupp" in r.stdout and "stream_*" not in r.stdout

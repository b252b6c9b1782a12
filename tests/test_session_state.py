"""Per-session engine state lives in one registry (session.py).

Every frame that outlives its builder is persisted through
``scratch_persist``, every build-once memo goes through
``session_memo``, and ``evict_scratch`` releases them all. A dropped
session is collected, and the next registry call unpersists the frames
it left behind.
"""

from __future__ import annotations

import ast
import gc
import pathlib
import sys
import threading
import weakref

import pytest

from cs422pp_mapreduce_spark.operators import dedup as D
from cs422pp_mapreduce_spark.operators import similarity as S
from cs422pp_mapreduce_spark.session import (
    evict_scratch,
    scratch_persist,
    session_memo,
)
from cs422pp_mapreduce_spark.sources.catalog import load_table

PACKAGE = pathlib.Path(__file__).resolve().parents[1] / "cs422pp_mapreduce_spark"

# Each build is run for its side effects and its result dropped at once,
# so the test frame holds no DataFrame of the session under test.
BUILDS = {
    "load_table": lambda s, sf: load_table(s, sf, "documents"),
    "scratch_persist": lambda s, sf: scratch_persist(
        load_table(s, sf, "documents").select("doc_id")
    ).count(),
    "build_ivf_index": S.build_ivf_index,
    "build_pq_index": S.build_pq_index,
    "cluster_labels": lambda s, sf: D.cluster_labels(s, sf).count(),
}


def _cache_empty(spark) -> bool:
    return spark._jsparkSession.sharedState().cacheManager().isEmpty()


@pytest.mark.parametrize("name", sorted(BUILDS))
def test_session_state_is_released(spark, sf_dir, name):
    build = BUILDS[name]
    # Start from an empty cache manager (it is shared by every session
    # of the JVM, so earlier tests' frames would otherwise show).
    evict_scratch(spark)
    spark.catalog.clearCache()

    session = spark.newSession()
    build(session, sf_dir)
    evict_scratch(session)  # alone: no clearCache
    assert _cache_empty(spark)

    build(session, sf_dir)
    ref = weakref.ref(session)
    del session
    # PySpark's _monkey_patch_RDD closure (RDD.toDF) pins the newest
    # session; a sentinel session takes that place before collecting.
    sentinel = spark.newSession()
    gc.collect()
    assert ref() is None, f"{name}: the dropped session is still reachable"
    # the collected session's frames are unpersisted by the next
    # registry call, made here on another session
    evict_scratch(sentinel)
    assert _cache_empty(spark)


def test_memo_builds_once_until_evict(spark):
    calls = []

    def build():
        calls.append(1)
        return [1.0, 2.0], scratch_persist(spark.range(10))

    evict_scratch(spark)
    data, first = session_memo(spark, ("test", "memo"), build)
    again = session_memo(spark, ("test", "memo"), build)
    assert len(calls) == 1
    # a hit re-wraps the same persisted plan in a new DataFrame
    assert again[1]._jdf is first._jdf and again[0] is data
    assert first.storageLevel.useMemory or first.storageLevel.useDisk

    evict_scratch(spark)
    # unpersisted JVM-side (storageLevel asks the JVM)
    lvl = first.storageLevel
    assert not (lvl.useMemory or lvl.useDisk)
    session_memo(spark, ("test", "memo"), build)
    assert len(calls) == 2
    evict_scratch(spark)


def test_concurrent_registration_loses_nothing(spark):
    """Threads registering frames and memos on one session at once (as
    ann_recall_report's two index fits do): every frame is registered,
    every memo is built once, and one evict releases them all."""
    n_threads, per_thread = 8, 4  # more threads than the test's cores
    frames, builds = [], []

    def work(i):
        for j in range(per_thread):
            frames.append(scratch_persist(spark.range(i * 100 + j)))
            session_memo(spark, ("stress", i), lambda: builds.append(i))

    evict_scratch(spark)
    spark.catalog.clearCache()
    switch = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [
            threading.Thread(target=work, args=(i,)) for i in range(n_threads)
        ]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=120)
    finally:
        sys.setswitchinterval(switch)
    assert not any(t.is_alive() for t in threads)
    assert len(frames) == n_threads * per_thread
    assert sorted(builds) == list(range(n_threads))
    evict_scratch(spark)
    assert _cache_empty(spark)


def _modules():
    for path in sorted(PACKAGE.rglob("*.py")):
        yield path.relative_to(PACKAGE).as_posix(), ast.parse(path.read_text())


def _outermost_functions(tree):
    """Module-level functions and methods, each with its nested
    functions (a closure may release what its parent persisted)."""
    for node in ast.walk(tree):
        if isinstance(node, (ast.Module, ast.ClassDef)):
            for child in node.body:
                if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef)):
                    yield child


def test_every_escaping_persist_is_registered():
    """A ``.persist(`` outside session.py must be a local pair: its
    result is bound to a name that the same function unpersists.
    Anything else goes through ``session.scratch_persist``, so that
    ``evict_scratch`` can release it."""
    bad = []
    for rel, tree in _modules():
        if rel == "session.py":
            continue
        for fn in _outermost_functions(tree):
            released = {
                n.func.value.id
                for n in ast.walk(fn)
                if isinstance(n, ast.Call)
                and isinstance(n.func, ast.Attribute)
                and n.func.attr == "unpersist"
                and isinstance(n.func.value, ast.Name)
            }
            bound = {}
            for n in ast.walk(fn):
                if isinstance(n, ast.Assign) and len(n.targets) == 1:
                    target = n.targets[0]
                    if isinstance(target, ast.Name):
                        for sub in ast.walk(n.value):
                            bound[id(sub)] = target.id
            for n in ast.walk(fn):
                if (
                    isinstance(n, ast.Call)
                    and isinstance(n.func, ast.Attribute)
                    and n.func.attr == "persist"
                    and bound.get(id(n)) not in released
                ):
                    bad.append(f"{rel}:{n.lineno} ({fn.name})")
    assert not bad, "persist without a local unpersist: " + ", ".join(bad)


def test_state_imports_stay_in_their_homes():
    """weakref belongs to the registries (session.py, and catalog.py's
    scan memo); StorageLevel to session.py and to modules that keep a
    local persist/unpersist pair."""
    weak, levels = set(), set()
    for rel, tree in _modules():
        for n in ast.walk(tree):
            if isinstance(n, ast.Import) and any(
                a.name == "weakref" for a in n.names
            ):
                weak.add(rel)
            if isinstance(n, ast.ImportFrom) and any(
                a.name == "StorageLevel" for a in n.names
            ):
                levels.add(rel)
    assert weak == {"session.py", "sources/catalog.py"}
    assert levels == {
        "session.py",
        "operators/dedup.py",
        "operators/relational.py",
        "operators/suffix.py",
    }

"""Session-scoped staging directories for write→read contract queries.

Queries that materialize intermediate files (bucketed tables, CSV/JSON/
ORC round-trips, staged streaming inputs) previously called
``tempfile.mkdtemp`` per invocation, so repeated gate/bench/pytest runs
in one session leaked a directory (and, for bucketed tables, catalog
entries) per call. One directory per (Spark application, tag) fixes
that: the first call creates it, every later call reuses it and
overwrites the contents — the write still happens per call (for
bucketed_join the write IS the operator under test), only the
allocation is amortized.

Streaming inputs go one step further: their slices are a pure function
of the fixture, so ``build_once`` writes them once per (application,
tag), and ``land_files`` copies them into a per-call source directory
in arrival order. Per-call run dirs (a restart sequence's source,
checkpoint and target) come from ``scratch_dir``, inside one staging
dir, so every directory the engine stages has one home: the dirs
``_STAGING`` records are removed at interpreter exit.
"""

from __future__ import annotations

import atexit
import hashlib
import os
import shutil
import tempfile
import threading
import time
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

_STAGING: dict[tuple[str, str], str] = {}
_TAG_LOCKS: dict[tuple[str, str], threading.Lock] = {}
_LOCK = threading.Lock()


def session_staging_dir(spark: SparkSession, tag: str) -> str:
    """Return the one staging dir for (this Spark application, tag).

    Created on first use; reused (NOT cleaned) on later calls — callers
    write with mode='overwrite' so contents never accumulate. The dict
    insert is lock-guarded (queries may run from concurrent threads)."""
    key = (spark.sparkContext.applicationId, tag)
    with _LOCK:
        path = _STAGING.get(key)
        if path is None or not os.path.isdir(path):
            path = tempfile.mkdtemp(prefix=f"{tag}_")
            _STAGING[key] = path
        return path


def scratch_dir(spark: SparkSession, prefix: str) -> str:
    """A new directory for one call, inside this application's
    ``scratch`` staging dir."""
    return tempfile.mkdtemp(prefix=prefix, dir=session_staging_dir(spark, "scratch"))


@atexit.register
def remove_staging_dirs() -> None:
    """Remove every staging dir this process recorded, and forget them."""
    with _LOCK:
        paths = list(_STAGING.values())
        _STAGING.clear()
    for path in paths:
        shutil.rmtree(path, ignore_errors=True)


def tag_lock(spark: SparkSession, tag: str) -> threading.Lock:
    """One lock per (Spark application, tag), for callers that must
    serialize a build-once/reuse-later section over a shared staging
    dir (e.g. the memoized event-slice build: two concurrent threads
    must not race interleaved overwrite writes into the same parts)."""
    key = (spark.sparkContext.applicationId, tag)
    with _LOCK:
        lk = _TAG_LOCKS.get(key)
        if lk is None:
            lk = _TAG_LOCKS[key] = threading.Lock()
        return lk


def write_once(
    spark: SparkSession, tag: str, write: Callable[[str], None]
) -> str:
    """Run ``write(dir)`` into the staging dir of (this Spark
    application, tag) once, and return the dir.

    Later calls skip the write; one whose dir was removed writes again.
    The marker check and the write run under the tag's lock: two
    concurrent first callers must not interleave overwrite writes into
    the same dir, and the second must not read a half-written one. The
    ``_COMPLETE`` marker is written last; Spark's readers skip files
    whose names start with ``_``."""
    base = session_staging_dir(spark, tag)
    marker = os.path.join(base, "_COMPLETE")
    with tag_lock(spark, tag):
        if not os.path.isfile(marker):
            write(base)
            with open(marker, "w") as fh:
                fh.write("ok")
    return base


def build_once(
    spark: SparkSession, tag: str, slices: Callable[[], list[DataFrame]]
) -> list[str]:
    """Write each frame of ``slices()`` as ONE parquet file, once per
    (Spark application, tag) (``write_once``), and return the files in
    slice order."""

    def write(base: str) -> None:
        for i, frame in enumerate(slices(), start=1):
            frame.coalesce(1).write.mode("overwrite").parquet(
                os.path.join(base, f"s{i}")
            )

    base = write_once(spark, tag, write)
    dirs = sorted(
        (d for d in os.listdir(base) if d.startswith("s")),
        key=lambda d: int(d[1:]),
    )
    return [
        os.path.join(base, d, next(
            n for n in os.listdir(os.path.join(base, d))
            if n.endswith(".parquet")
        ))
        for d in dirs
    ]


def land_files(src: str, parts: list[str]) -> None:
    """Copy ``parts`` into the file-stream source dir ``src`` in list
    order, as the arrival sequence of an ingestion directory.

    The k-th file ever landed in ``src`` is named ``slice{k}.parquet``
    and stamped with an mtime 10 s after the newest file already there
    (or after now): the file source orders new files by modification
    time, so landing order is processing order, also across landings
    made between two runs of one restarted query."""
    have = os.listdir(src)
    t = max([time.time()] + [os.path.getmtime(os.path.join(src, n)) for n in have])
    for k, part in enumerate(parts, start=len(have) + 1):
        dst = os.path.join(src, f"slice{k}.parquet")
        shutil.copy(part, dst)
        t += 10
        os.utime(dst, (t, t))


def sf_tag(sf_dir: str) -> str:
    """Filesystem/metastore-safe token for an sf_dir: its basename plus
    a short digest of the normalised absolute path, so two fixtures
    that share a directory name (say two ``sf0.01`` copies) never share
    staged files or table names within a session. Lowercase hex keeps
    the token a valid metastore identifier."""
    path = os.path.abspath(sf_dir)
    digest = hashlib.sha1(path.encode()).hexdigest()[:8]
    return f"{os.path.basename(path).replace('.', '_')}_{digest}"

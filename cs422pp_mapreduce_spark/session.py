"""SparkSession construction with scale-oriented defaults.

The reference engine hand-rolled its control plane (MPI jobtracker,
pthread pools, sentinel termination — /root/reference/mapreduce.cc:42-205).
Spark's driver/executor model replaces all of it; what remains our job is
*configuration*: AQE, sensible shuffle parallelism, Arrow for the few
Python-side operators, and a UTC session timezone so event-time semantics
are reproducible anywhere.

Tested locally on ``local[N]``; the same builder works unchanged on a
cluster because nothing here assumes a single JVM.
"""

from __future__ import annotations

import glob
import hashlib
import logging
import os
import shutil
import subprocess
import tempfile
import threading
import weakref
from contextlib import contextmanager

from py4j.java_gateway import JavaObject
from pyspark.find_spark_home import _find_spark_home
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.classic.dataframe import DataFrame as ClassicDataFrame
from pyspark.storagelevel import StorageLevel

# Runtime-settable session confs applied even when the caller (e.g. the
# verification driver) hands us an already-built SparkSession.
RUNTIME_CONFS: dict[str, str] = {
    # Event-time math (window/date_trunc/year) must be timezone-stable.
    "spark.sql.session.timeZone": "UTC",
    # AQE: runtime shuffle-partition coalescing + skew-join splitting.
    # At 100 TB, static shuffle partitioning is always wrong for some
    # stage; AQE re-plans from actual map-output sizes.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Let AQE coalesce the output partitioning of persisted plans too
    # (off by default). Every iterative operator here (pagerank,
    # connected components, k-means) and every persisted intermediate
    # (tf table, LSH buckets) re-scans its cache once per round — at a
    # 64-MB advisory size the cache collapses to a handful of
    # right-sized partitions instead of one tiny task per original
    # shuffle partition. Results stay partition-count-independent by
    # the engine's decimal-routing convention (oracles.py), so this is
    # purely a task-count knob.
    "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning": "true",
    # Arrow for the (rare, declared) pandas-UDF operators.
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Parquet TIMESTAMP(NANOS) (events.ts) is read as long nanos and
    # converted to a microsecond timestamp in the loader (catalog.py) —
    # the same ns→us truncation DuckDB applies.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # InferFiltersFromGenerate adds `size(arr) > 0 AND isnotnull(arr)`
    # under every inner explode; PushDownPredicates then substitutes the
    # generator input's FULL defining expression into that filter and
    # pushes it through projections and exchanges to the scan. For
    # derived arrays (word shingles, tokenizations) the expensive
    # expression is thereby evaluated 3x — twice of those in the
    # pre-repartition scan stage, i.e. at the file layout's parallelism
    # (often 1 task). Measured on the novelty family at sf0.1: explode
    # of the shingle table went 4.5 s -> 0.35 s with the rule excluded.
    # The inferred filter is a pure row-skipping optimization (inner
    # explode drops empty/null arrays anyway), so excluding it never
    # changes results; our generator inputs are non-empty by
    # construction, so nothing is lost.
    "spark.sql.optimizer.excludedRules": (
        "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate"
    ),
    # Parquet timestamps without isAdjustedToUTC read as TIMESTAMP (LTZ),
    # not TIMESTAMP_NTZ. With the UTC session timezone above the two are
    # numerically identical, but the engine's event-time operators use
    # unix_micros()/RANGE frames, which require the LTZ type; the
    # testdata's ts column has shipped as both int64-nanos and
    # timestamp[us], and this pins one read type for both layouts.
    "spark.sql.parquet.inferTimestampNTZ.enabled": "false",
    # Streaming checkpoints (offset, commit and source logs, state
    # deltas) go through the FileSystem API. Unset, Spark picks the
    # FileContext-based manager, and without the native Hadoop library
    # its local rename forks a `readlink` process for every path it
    # resolves: 2,272 forks in one ingest run at 2 state partitions.
    # The FileSystem API's own fork, a `chmod` for every file created,
    # is gone only in sessions get_spark launches (NIO_LOCAL_FS).
    # Ten interleaved ingest pairs (perfbench, seeds 51-60, 4-core VM):
    # p50 event latency fell in 10 of 10, median 0.702 -> 0.493 s
    # against a parent interquartile range of 0.066 s.
    # Semantics: on local disk both managers check the destination,
    # then rename; on HDFS FileSystem.rename also refuses to overwrite,
    # so the metadata logs keep their one-writer-per-batch guard. On
    # object stores neither manager's rename is atomic.
    # A session-wide constant, not part of stream_drain_conf, so
    # streams started outside a drain scope use it too.
    "spark.sql.streaming.checkpointFileManagerClass": (
        "org.apache.spark.sql.execution.streaming.checkpointing."
        "FileSystemBasedCheckpointFileManager"
    ),
}


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))


STREAM_STATE_PARTITIONS = 2


def stream_state_partitions() -> int:
    """Shuffle-partition count for STREAMING micro-batch drains — i.e.
    the state-store instance count (it is pinned into the checkpoint at
    first batch and every stateful stage runs exactly this many tasks
    per micro-batch; AQE never applies to stateful streaming, so unlike
    batch stages nothing coalesces this at runtime).

    Sized to the STATE, not the core count: the contract fixtures hold
    O(10²–10³) keys (windows × types, users), so the batch-side default
    (one partition per core) only multiplies per-micro-batch fixed cost
    without any parallelism the data can use (guide §2: fewer, larger
    partitions; §6: small files hurt twice).

    That fixed cost was process forks, not data or disk sync. Each
    partition of each micro-batch launches a task, writes one state
    delta file and one sink file, and renames both into place. Renames
    no longer fork ``readlink``: checkpoints go through the
    FileSystem-based manager (``RUNTIME_CONFS``). Creates no longer
    fork ``chmod`` in sessions ``get_spark`` launches: their local file
    system sets permissions in-process (``NIO_LOCAL_FS``). A plain
    session without that class still forks one ``chmod`` per file and
    directory. More partitions than cores also add a second task wave.

    Measured on ``perfbench/run.py --workload ingest`` (4-core VM,
    seeds 1 and 2, p50 event latency and sustained rows/s per seed):

    ==========  ===============  ================
    partitions  p50 latency (s)  sustained (k/s)
    ==========  ===============  ================
    1           0.90 / 0.88      199 / 186
    2           0.86 / 0.93      259 / 232
    4           1.06 / 1.17      245 / 237
    8           1.24 / 1.46      259 / 230
    ==========  ===============  ================

    2 is the smallest count that keeps burst throughput flat: 1 saves
    no more latency and costs about 20% of sustained throughput.

    The checkpoint pins whatever value the job started with: Spark
    restores ``spark.sql.shuffle.partitions`` from the offset log, so a
    checkpoint begun under another count keeps it on restart.
    """
    return STREAM_STATE_PARTITIONS


_CONFS_APPLIED: "weakref.WeakSet" = weakref.WeakSet()


def apply_runtime_confs(spark: SparkSession, force: bool = False) -> SparkSession:
    """Apply runtime-settable confs to an externally-built session.

    Idempotent per session and memoized (weak set): the driver contract
    wraps EVERY query builder with this call, so a bench/gate run pays
    len(RUNTIME_CONFS) py4j round-trips per query build otherwise.
    The engine changes these confs after application only inside
    ``scoped_conf``, which restores them, so first-application
    semantics are identical.

    Because of the memo, an external caller that mutates a
    RUNTIME_CONFS key mid-session is not self-healed on the next query
    build; a caller that needs the confs re-applied passes
    ``force=True``."""
    if not force and spark in _CONFS_APPLIED:
        return spark
    for k, v in RUNTIME_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            # Some confs may be static in exotic deployments; best-effort.
            pass
    _CONFS_APPLIED.add(spark)
    return spark


# Hadoop's local file system with permissions set through java.nio
# instead of a forked `chmod` per file and directory (without the
# native Hadoop library, Hadoop cannot call chmod(2) directly). Source
# in jvm/, compiled on first use into the user cache dir.
NIO_LOCAL_FS = "cs422pp_mapreduce_spark.jvm.NioLocalFileSystem"
_NIO_SOURCE = os.path.join(
    os.path.dirname(os.path.abspath(__file__)), "jvm", "NioLocalFileSystem.java"
)
_log = logging.getLogger(__name__)


def _javac() -> str | None:
    """The javac of the JDK that launches Spark: JAVA_HOME's, else PATH's."""
    home = os.environ.get("JAVA_HOME")
    if home and os.access(os.path.join(home, "bin", "javac"), os.X_OK):
        return os.path.join(home, "bin", "javac")
    return shutil.which("javac")


def nio_local_fs_classes() -> str | None:
    """Class directory holding ``NIO_LOCAL_FS``; None without javac or a
    writable cache.

    Compiled once per source digest into the user cache dir; never
    under TMPDIR, which benchmark runs delete. javac writes into a
    temporary sibling that is renamed into place, so processes
    compiling at once all end with one complete directory."""
    with open(_NIO_SOURCE, "rb") as f:
        digest = hashlib.sha256(f.read()).hexdigest()[:16]
    cache = os.path.join(
        os.environ.get("XDG_CACHE_HOME") or os.path.expanduser("~/.cache"),
        "spark-graft", "jvm",
    )
    out = os.path.join(cache, digest)
    if os.path.isdir(out):
        return out
    javac = _javac()
    jars = glob.glob(os.path.join(_find_spark_home(), "jars", "hadoop-client-api-*.jar"))
    if javac is None or not jars:
        _log.warning("no javac or hadoop-client-api jar: the local file system "
                     "forks chmod for every file it creates")
        return None
    try:
        os.makedirs(cache, exist_ok=True)
        tmp = tempfile.mkdtemp(prefix=f".{digest}-", dir=cache)
    except OSError as e:
        _log.warning("cannot write %s (%s): the local file system forks "
                     "chmod for every file it creates", cache, e)
        return None
    try:
        # Spark 4 needs Java 17, so these classes load in any JVM it runs on.
        done = subprocess.run(
            [javac, "--release", "17", "-cp", jars[0], "-d", tmp, _NIO_SOURCE],
            capture_output=True, text=True,
        )
        if done.returncode:
            _log.warning("compiling %s failed, keeping the forking local file "
                         "system:\n%s", _NIO_SOURCE, done.stderr)
            return None
        try:
            os.replace(tmp, out)
        except OSError:
            if not os.path.isdir(out):  # else another process renamed first
                raise
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return out


def _local_fs_confs() -> dict[str, str]:
    """Launch confs that make ``NIO_LOCAL_FS`` the ``file:`` file system.

    Never in RUNTIME_CONFS: a session whose JVM lacks the class on its
    classpath (the external driver's) could then read no file."""
    classes = nio_local_fs_classes()
    if classes is None:
        return {}
    return {
        # local[N] executors run in the driver JVM, so share its classpath
        "spark.driver.extraClassPath": classes,
        "spark.hadoop.fs.file.impl": NIO_LOCAL_FS,
    }


# Entries of the JVM-wide LRU cache of Janino-compiled generated classes
# (``spark.sql.codegen.cache.maxEntries``, Spark's default 100). Sizing
# rule: hold the engine's warm working set several times over. One pass
# of perfbench's 11-query batch mix touches about 150 distinct classes,
# so at 100 entries an LRU cycling over them misses on every access and
# each warm pass recompiled 140 classes; at 1024 a warm pass compiles 4.
# Ten interleaved batch pairs (perfbench, seeds 501-510, 4-core VM):
# query_s.geomean fell in 10 of 10, median 0.466 -> 0.346 s against a
# parent interquartile range of 0.059 s.
# The cache is a cap, not a reservation: a first pass over all 234
# registered queries compiled 3,308 classes and grew Metaspace by
# 148 MB, at most about 46 KB a class, so 1024 entries bound what a
# long stream's one-off classes (stream dedup compiles about one per
# micro-batch) keep to roughly 50 MB.
# A static conf, read once when the cache is first used: it belongs in
# the launch confs of get_spark, not in RUNTIME_CONFS, where
# apply_runtime_confs would swallow the error it raises. A JVM someone
# else launched keeps its own size.
CODEGEN_CACHE_ENTRIES = 1024

# (gateway, its launch confs) of the JVM the last get_spark launched
_LAUNCHED: tuple = (None, {})


def get_spark(app_name: str = "cs422pp_mapreduce_spark") -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    Local mode uses ``local[$SPARK_GRAFT_CPUS]``; shuffle partitions are
    sized to the local core count. On a real cluster these two settings
    are deployment-time choices (spark-submit conf), not code.

    A JVM this function launches gets ``NIO_LOCAL_FS`` as its ``file:``
    file system, and so do later sessions on that JVM. A JVM someone
    else launched keeps its own.
    """
    global _LAUNCHED
    from pyspark import SparkContext

    if SparkContext._gateway is None:
        fs_confs = _local_fs_confs()
    elif SparkContext._gateway is _LAUNCHED[0]:
        fs_confs = _LAUNCHED[1]
    else:
        fs_confs = {}
    cpus = default_parallelism()
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        # One shuffle partition per core locally; AQE coalesces further.
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        # Keep parquet scans splittable into right-sized tasks.
        .config("spark.sql.files.maxPartitionBytes", "128m")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
    )
    for k, v in {**RUNTIME_CONFS, **fs_confs}.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    _LAUNCHED = (SparkContext._gateway, fs_confs)
    return spark


def codegen_compiles(spark: SparkSession) -> int:
    """Classes the session's JVM has compiled from generated code since
    it started (``CodegenMetrics``' compilation-time histogram count).

    Pull-only: nothing is recorded unless called. The difference across
    a warm pass counts the misses of the codegen cache
    (``CODEGEN_CACHE_ENTRIES``)."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return int(metrics.METRIC_COMPILATION_TIME().getCount())


# session → {key: (value, saved value, depth)} for the open scopes
_SCOPES: "weakref.WeakKeyDictionary" = weakref.WeakKeyDictionary()
_SCOPES_LOCK = threading.Lock()


@contextmanager
def scoped_conf(spark: SparkSession, confs: dict[str, str]):
    """Set session confs for the duration of a block, restoring them
    after — safe when scopes of one session overlap across threads
    (``ann_recall_report`` fits its IVF and PQ indexes concurrently,
    each AQE-off).

    A depth count per (session, key) makes only the outermost scope
    save the old value and restore it, so the last thread out never
    "restores" a sibling's value. A scope that asks for a different
    value of a key an open scope already holds raises instead of
    changing it under the holder. A key that had no value before the
    outermost scope is unset again after it."""
    with _SCOPES_LOCK:
        held = _SCOPES.setdefault(spark, {})
        for k, v in confs.items():
            if k in held and held[k][0] != v:
                raise RuntimeError(
                    f"{k} is held at {held[k][0]!r} by an open scope; "
                    f"cannot scope it to {v!r}"
                )
        for k, v in confs.items():
            if k in held:
                value, saved, depth = held[k]
                held[k] = (value, saved, depth + 1)
            else:
                held[k] = (v, spark.conf.get(k, None), 1)
                spark.conf.set(k, v)
    try:
        yield
    finally:
        with _SCOPES_LOCK:
            for k in confs:
                value, saved, depth = held.pop(k)
                if depth > 1:
                    held[k] = (value, saved, depth - 1)
                elif saved is None:
                    spark.conf.unset(k)
                else:
                    spark.conf.set(k, saved)


@contextmanager
def driver_paced_build_conf(spark: SparkSession):
    """Disable AQE for a bounded driver-paced build sequence (the
    IVF and PQ Lloyd fit collects), restoring the session value after.

    Under AQE every exchange of every bounded collect/materialization
    becomes its own stage-materialization job so the plan can be
    re-optimized from map stats; these build sequences run dozens of
    TINY driver-paced queries over persisted inputs whose plans carry
    nothing AQE can improve (explicit partition counts or broadcast
    hints, kilobyte aggregates), so the extra jobs are pure driver
    pacing. Queries planned OUTSIDE the context (the returned
    lazy frames forced by the harness) still plan under AQE."""
    with scoped_conf(spark, {"spark.sql.adaptive.enabled": "false"}):
        yield


# --- per-session engine state ----------------------------------------------
# Frames that outlive the function that built them (a query's shared
# intermediate, an index build's persisted table) and the build-once
# memos over them (the IVF and PQ indexes, cluster labels) are held
# here, per session, and released by one call: evict_scratch. Queries
# that persist branch-shared intermediates return a LAZY DataFrame, so
# there is no in-query point to unpersist them; a long-lived session
# calls evict_scratch between queries (the benchmark's isolate() does),
# or MEMORY_AND_DISK blocks accumulate until clearCache().
#
# The registry holds JVM handles (``df._jdf``) and plain data, never a
# Python DataFrame: a DataFrame references its session, so a weakly
# keyed entry holding one would keep its own key alive and the session
# could never be collected. A collected session's finalizer makes no
# py4j call (it may run inside any thread's garbage collection); it
# queues the session's handles, and the next registry call unpersists
# them.


# session → (registered frame handles, {memo key: held value})
_STATE: "weakref.WeakKeyDictionary[SparkSession, tuple]" = (
    weakref.WeakKeyDictionary()
)
_STATE_LOCK = threading.Lock()
# handles of collected sessions, unpersisted by the next registry call
_RELEASED: list = []
_MISS = object()


def _unpersist(handles) -> None:
    for jdf in handles:
        try:
            jdf.unpersist(False)
        except Exception:  # noqa: BLE001 — already-stopped session/JVM
            pass


def _state(spark: SparkSession) -> tuple:
    with _STATE_LOCK:  # finalizers only append, so pop under the lock
        released = [_RELEASED.pop() for _ in range(len(_RELEASED))]
        st = _STATE.get(spark)
        if st is None:
            st = _STATE[spark] = ([], {})
            weakref.finalize(spark, _RELEASED.extend, st[0])
    _unpersist(released)
    return st


def _hold(value):
    """A memo value (plain data, a DataFrame, or a tuple of them) with
    its frames swapped for their JVM handles."""
    if isinstance(value, tuple):
        return tuple(map(_hold, value))
    return value._jdf if isinstance(value, DataFrame) else value


def _wrap(value, spark: SparkSession):
    """Inverse of _hold: the classic DataFrame constructor re-wraps a
    handle without a py4j call."""
    if isinstance(value, tuple):
        return tuple(_wrap(v, spark) for v in value)
    return ClassicDataFrame(value, spark) if isinstance(value, JavaObject) else value


def scratch_persist(df: DataFrame, level: str = "MEMORY_AND_DISK") -> DataFrame:
    """Persist ``df`` at the ``StorageLevel`` named ``level`` and
    register it for evict_scratch: the one persist for a frame that
    outlives its builder. A frame persisted and unpersisted inside one
    function stays a plain local pair."""
    out = df.persist(getattr(StorageLevel, level))
    frames, _ = _state(df.sparkSession)
    with _STATE_LOCK:
        frames.append(out._jdf)
    return out


def session_memo(spark: SparkSession, key, build):
    """``build()`` once per (session, key), until evict_scratch.

    The value is plain data, a DataFrame, or a tuple of them; its
    frames come from scratch_persist, so evict_scratch releases them.
    A hit re-wraps the held handles and makes no py4j call. The lock
    covers only the dict, so distinct keys build on concurrent
    threads; two threads that miss one key both build, and the first
    to finish wins."""
    _, memos = _state(spark)
    with _STATE_LOCK:
        held = memos.get(key, _MISS)
    if held is _MISS:
        value = _hold(build())
        with _STATE_LOCK:
            held = memos.setdefault(key, value)
    return _wrap(held, spark)


def evict_scratch(spark: SparkSession) -> None:
    """Unpersist every frame this session registered and drop its
    memos; also releases what collected sessions left behind."""
    frames, memos = _state(spark)
    with _STATE_LOCK:
        held = frames[:]
        frames.clear()
        memos.clear()
    _unpersist(held)


def release_checkpoint(df: DataFrame) -> None:
    """Free the blocks of ``df``, a ``localCheckpoint`` frame, at once
    (they are RDD blocks, not cache-manager entries, so neither
    evict_scratch nor clearCache reaches them). Only for a checkpoint
    no later plan reads: reading a released one fails with
    CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND."""
    df._jdf.queryExecution().logical().rdd().unpersist(False)

"""Shared pieces of the benchmark: hermetic environment, session set-up
cycles, per-query isolation and conf-drift checks, RSS sampling."""

from __future__ import annotations

import math
import os
import statistics
import sys
import tempfile
import threading
import time

SETUP_CYCLES = 3
# driver heap, committed up front: a growing heap made peak RSS vary by
# a third from run to run
DRIVER_MEM = "2g"
PAGE = os.sysconf("SC_PAGE_SIZE")
PROGRESS_KEPT = 100_000


def hermetic_env(root: str, run_dir: str) -> None:
    """Point every scratch path of this process, the JVM and Python workers
    at ``run_dir`` and make the engine importable in workers."""
    tmp = os.path.join(run_dir, "tmp")
    for d in ("tmp", "local", "warehouse"):
        os.makedirs(os.path.join(run_dir, d), exist_ok=True)
    cpus = str(os.cpu_count() or 1)
    path = os.environ.get("PYTHONPATH", "")
    os.environ.update({
        "PYTHONPATH": root + (os.pathsep + path if path else ""),
        "SPARK_GRAFT_CPUS": cpus,
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        # few glibc malloc arenas: native memory of the JVM's many
        # threads otherwise varies run to run by gigabytes
        "MALLOC_ARENA_MAX": "2",
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": os.path.join(run_dir, "local"),
        "PYSPARK_SUBMIT_ARGS": (
            f"--conf spark.sql.warehouse.dir={run_dir}/warehouse "
            # ingest reads every micro-batch back from recentProgress,
            # which otherwise keeps only the last 100
            f"--conf spark.sql.streaming.numRecentProgressUpdates={PROGRESS_KEPT} "
            f'--driver-java-options "-Xms{DRIVER_MEM} -Djava.io.tmpdir={tmp} '
            # JIT-compile hot code ten times sooner, so that a run
            # nears steady speed within its first few passes
            '-XX:-UsePerfData -XX:CompileThresholdScaling=0.1" '
            "pyspark-shell"
        ),
    })
    tempfile.tempdir = tmp
    sys.path.insert(0, root)
    sys.path.insert(0, os.path.join(root, "tools"))


class Session:
    """Owns the SparkSession and the set-up measurements.

    ``setup`` starts the session ``SETUP_CYCLES`` times, each time
    followed by the workload's warm-up; the first cycle also imports
    the engine and launches the JVM. The last session stays open."""

    def __init__(self):
        self.spark = None
        self.start_s: list[float] = []
        self.warmup_s: list[float] = []

    def setup(self, warmup) -> None:
        for k in range(SETUP_CYCLES):
            if self.spark is not None:
                self.spark.stop()
            t0 = time.perf_counter()
            from cs422pp_mapreduce_spark import session as S
            import __spark_entry__  # noqa: F401  (import cost is set-up)

            self.spark = S.get_spark("perfbench")
            self.spark.sparkContext.setLogLevel("ERROR")
            t1 = time.perf_counter()
            warmup(self.spark)
            t2 = time.perf_counter()
            self.start_s.append(t1 - t0)
            self.warmup_s.append(t2 - t1)

    @property
    def setup_s(self) -> float:
        return statistics.median(
            s + w for s, w in zip(self.start_s, self.warmup_s)
        )

    def jvm_pid(self) -> int | None:
        from pyspark import SparkContext

        gw = SparkContext._gateway
        proc = getattr(gw, "proc", None)
        return proc.pid if proc is not None else None

    def close(self) -> None:
        """Stop Spark, then the JVM, and wait for it to exit."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        gw = SparkContext._gateway
        if gw is None:
            return
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()
            try:
                proc.wait(timeout=20)
            except Exception:  # noqa: BLE001 - kill a JVM that will not exit
                proc.kill()
                proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None


def isolate(spark) -> None:
    """Per-query isolation: drop every persisted frame and index memo
    an earlier query left behind."""
    from cs422pp_mapreduce_spark.operators.dedup import evict_cluster_cache
    from cs422pp_mapreduce_spark.operators.similarity import evict_index_caches
    from cs422pp_mapreduce_spark.session import evict_scratch

    spark.catalog.clearCache()
    evict_index_caches(spark)
    evict_cluster_cache(spark)
    evict_scratch(spark)


def conf_drift(spark) -> list[str]:
    """Keys of ``session.RUNTIME_CONFS`` whose session value changed;
    restores them all when any did."""
    from cs422pp_mapreduce_spark.session import RUNTIME_CONFS, apply_runtime_confs

    bad = [k for k, v in RUNTIME_CONFS.items() if spark.conf.get(k, None) != v]
    if bad:
        apply_runtime_confs(spark, force=True)
    return bad


class RssSampler:
    """Peak RSS of the Spark driver JVM plus its Python workers, sampled from
    /proc every ``period`` seconds.

    Other children of the JVM (Hadoop's shell helpers) are left out: in
    the instant between fork and exec a child's RSS still counts the
    parent's pages, which would double the JVM in a sample."""

    def __init__(self, jvm_pid: int, period: float = 0.1):
        self.jvm_pid = jvm_pid
        self.period = period
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        return False

    @property
    def peak_mb(self) -> float:
        return self.peak / 2**20

    def _run(self) -> None:
        while True:
            self.peak = max(self.peak, self.sample())
            if self._stop.wait(self.period):
                break

    def sample(self) -> int:
        children: dict[int, list[int]] = {}
        for name in os.listdir("/proc"):
            if not name.isdigit():
                continue
            try:
                with open(f"/proc/{name}/stat") as fh:
                    stat = fh.read()
            except OSError:
                continue
            # "pid (comm) state ppid ...": ppid follows the command name
            ppid = int(stat.rsplit(")", 1)[1].split()[1])
            if "python" in stat[stat.find("(") + 1:stat.rfind(")")]:
                children.setdefault(ppid, []).append(int(name))
        total, todo = 0, [self.jvm_pid]
        while todo:
            pid = todo.pop()
            todo.extend(children.get(pid, []))
            try:
                with open(f"/proc/{pid}/statm") as fh:
                    total += int(fh.read().split()[1]) * PAGE
            except OSError:
                continue
        return total


def median(xs) -> float:
    return statistics.median(xs) if xs else 0.0


def pctl(xs, q: float) -> float:
    """Percentile by linear interpolation between order statistics."""
    if len(xs) < 2:
        return xs[0] if xs else 0.0
    s = sorted(xs)
    pos = q * (len(s) - 1)
    lo = math.floor(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def geomean(xs) -> float:
    xs = [x for x in xs if x > 0]
    return math.exp(sum(map(math.log, xs)) / len(xs)) if xs else 0.0

"""The codegen cache of sessions get_spark launches holds a working set
larger than Spark's default 100 entries, so a warm pass over about 150
distinct plans reuses its compiled classes instead of recompiling them."""

from __future__ import annotations

from pyspark.sql import functions as F

from cs422pp_mapreduce_spark.session import (
    CODEGEN_CACHE_ENTRIES,
    RUNTIME_CONFS,
    codegen_compiles,
)

KEY = "spark.sql.codegen.cache.maxEntries"
# more plans than Spark's default cache holds, well under ours
N_PLANS = 150


def test_launch_conf_sizes_the_codegen_cache(spark):
    assert spark.conf.get(KEY) == str(CODEGEN_CACHE_ENTRIES)
    # a static conf: apply_runtime_confs could not set it on a running JVM
    assert KEY not in RUNTIME_CONFS


def _round(spark) -> int:
    """Run N_PLANS tiny plans that differ only in an inlined literal, so
    each one generates its own class; return the classes compiled."""
    before = codegen_compiles(spark)
    for k in range(N_PLANS):
        spark.range(0, 10, 1, 1).where(F.col("id") > 1_000_003 + k).collect()
    return codegen_compiles(spark) - before


def test_warm_round_compiles_nothing(spark):
    """An LRU cycling over 150 keys with room for 100 misses on every
    access: at Spark's default every plan of the second round compiles
    again."""
    assert _round(spark) >= N_PLANS
    assert _round(spark) == 0

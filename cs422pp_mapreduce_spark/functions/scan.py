"""Global prefix scans: the one range-exchange kernel behind every
global rank, running sum and prefix min in the engine.

An unpartitioned window (``row_number() OVER (ORDER BY k)``) funnels
every row through one task. ``prefix_scan`` computes the same values
in the MapReduce prefix-sum round:

1. range exchange: ``repartitionByRange`` on the order key, so each
   partition holds one contiguous slice of the total order and
   ``spark_partition_id`` numbers the slices in key order;
2. local window: the scan per partition;
3. persist before branching: the offsets branch and the final join
   must see the SAME range boundaries, and re-executing the range
   exchange re-samples them (RangePartitioner seeds per RDD
   instance), which would misalign offsets against local values;
4. per-partition aggregate (O(partitions) rows), its exclusive prefix
   over partition ids, broadcast-joined back and combined with the
   local value.

The result equals the naive single-window formulation, whatever
boundaries the sampler picks: count, sum and min are associative, so
offset + local prefix is invariant under any contiguous split of a
total order. Empty range partitions simply contribute no row. A dense
rank additionally needs equal keys in one partition, which the range
exchange guarantees because it partitions on the whole key.

Preconditions: order keys are non-null, and for ``sum`` with
``exclusive=False`` so is the value (an all-null local prefix would
drop the offset). ``min`` follows SQL null semantics: nulls are
skipped, and a prefix with no non-null value is null.
"""

from __future__ import annotations

from typing import NamedTuple

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..session import default_parallelism, scratch_persist

# the kernel's internal columns on Scan.frame
_PID, _LOCAL, _PART, _OFF, _TOTAL = "_pid", "_lscan", "_part", "_off", "_total"


class Scan(NamedTuple):
    """``frame``: the input columns plus the kernel's internal ones;
    ``value``: the global scan of each row; ``total``: the grand
    total (None unless asked for). Select from ``frame`` by name."""

    frame: DataFrame
    value: Column
    total: Column | None


def prefix_scan(
    df: DataFrame,
    order: list[str],
    scan: str,
    value: str | None = None,
    exclusive: bool = False,
    total: bool = False,
    n_parts: int | None = None,
) -> Scan:
    """Global ``scan`` of ``df`` in ``order`` (a total order, except
    for ``dense_rank``, which ranks the distinct keys):

    * ``row_number`` / ``dense_rank``: 1-based global rank;
    * ``sum`` / ``min`` of ``value`` over the rows up to and including
      this one, or strictly before it when ``exclusive`` (an empty
      exclusive sum is 0, an empty exclusive min null).

    ``total`` adds the grand total (row count, distinct-key count,
    sum or min), read from the per-partition aggregate and joined back
    as a 1-row broadcast. ``n_parts`` sizes the range exchange
    (default one partition per core)."""
    w = Window.partitionBy(_PID).orderBy(*order)
    if scan == "row_number":
        local, part = F.row_number().over(w), F.count(F.lit(1))
    elif scan == "dense_rank":
        local, part = F.dense_rank().over(w), F.countDistinct(*order)
    else:
        agg = {"sum": F.sum, "min": F.min}[scan]
        upto = w.rowsBetween(Window.unboundedPreceding, -1 if exclusive else 0)
        local, part = agg(value).over(upto), agg(value)
        if scan == "sum" and exclusive:
            local = F.coalesce(local, F.lit(0))
    fold = F.min if scan == "min" else F.sum

    ranged = df.repartitionByRange(
        n_parts or default_parallelism(), *[F.col(c) for c in order]
    ).withColumn(_PID, F.spark_partition_id())
    local_df = scratch_persist(ranged.withColumn(_LOCAL, local))
    parts = local_df.groupBy(_PID).agg(part.alias(_PART))
    before = fold(_PART).over(
        Window.orderBy(_PID).rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = parts.withColumn(
        _OFF, before if scan == "min" else F.coalesce(before, F.lit(0))
    ).select(_PID, _OFF)
    out = local_df.join(F.broadcast(offsets), _PID)
    if total:
        out = out.join(F.broadcast(parts.agg(fold(_PART).alias(_TOTAL))))
    combined = (
        F.least(F.col(_LOCAL), F.col(_OFF)) if scan == "min"
        else F.col(_LOCAL) + F.col(_OFF)
    )
    return Scan(out, combined, F.col(_TOTAL) if total else None)

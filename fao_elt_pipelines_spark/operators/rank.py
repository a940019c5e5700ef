"""Scale-safe global ranking.

``rank() OVER (ORDER BY k)`` with no PARTITION BY compiles to a
single-partition window: every row funnels through ONE task — invisible at
per-customer cardinality, a serial bottleneck at hundreds of millions of
entities (the reference's silver_top_countries ranks a ~200-row table,
``/root/reference/dbt_project/models/silver/silver_top_countries.sql:44-51``,
so it never noticed; a 100 TB corpus would).

``global_rank`` computes the identical result distributed, in two phases:

1. Range-partition on the order key (``repartitionByRange``). Spark's
   RangePartitioner assigns every row with the SAME key value to the same
   partition, so rank ties never straddle a partition boundary.
2. Rank *within* each physical partition (a partitionBy(_pid) window — a
   balanced hash exchange, never single-partition), then add each
   partition's global row offset.

Offsets are per-partition counts — at most ``num_partitions`` integers, so
they are collected driver-side (tiny by construction) and baked back in
as a literal pid→offset map: no single-partition Exchange anywhere in the
physical plan, which tests/test_plans.py asserts.

The range-partitioned input is persisted so the count pass and the rank
pass observe the same sampled range boundaries (RangePartitioner samples;
recomputation could re-draw them).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..caching import managed_persist


def _order(col: str, descending: bool) -> Column:
    return F.desc_nulls_last(col) if descending else F.asc_nulls_last(col)


def global_rank(
    df: DataFrame,
    order_col: str,
    out_col: str,
    descending: bool = True,
    num_partitions: int | None = None,
) -> DataFrame:
    """Append ``out_col`` = SQL ``rank()`` over the global ordering of
    ``order_col`` (ties share a rank, gaps follow), without ever shuffling
    the full dataset into one partition."""
    parted = (
        df.repartitionByRange(num_partitions, _order(order_col, descending))
        if num_partitions
        else df.repartitionByRange(_order(order_col, descending))
    ).withColumn("_pid", F.spark_partition_id())
    managed_persist(parted)

    counts = {
        r["_pid"]: r["n"]
        for r in parted.groupBy("_pid").agg(F.count("*").alias("n")).collect()
    }
    if not counts:
        return df.withColumn(out_col, F.lit(None).cast("long"))
    offsets: dict[int, int] = {}
    acc = 0
    for pid in sorted(counts):
        offsets[pid] = acc
        acc += counts[pid]
    off_map = F.create_map(
        *[F.lit(x) for pid, off in offsets.items() for x in (pid, off)]
    )

    local_w = Window.partitionBy("_pid").orderBy(_order(order_col, descending))
    return (
        parted.withColumn("_lr", F.rank().over(local_w))
        .withColumn(
            out_col,
            # long, not int: ranks past 2^31-1 are exactly the scale this
            # operator exists for (global_cumsum next door already does)
            (F.col("_lr") + F.element_at(off_map, F.col("_pid"))).cast("long"),
        )
        .drop("_pid", "_lr")
    )


def global_cumsum(
    df: DataFrame,
    order_col: str,
    value_col: str,
    out_col: str,
    num_partitions: int | None = None,
) -> DataFrame:
    """Append ``out_col`` = running total of ``value_col`` over the global
    ascending ordering of ``order_col`` (inclusive of the current row),
    distributed by the same two-phase scheme as ``global_rank``: range
    partition on the order key, per-partition SUMS (≤ num_partitions
    longs) collected driver-side into exclusive offsets, then a
    within-partition window cumsum plus the partition's offset — no
    single-partition Exchange. ``order_col`` must be unique per row for
    the ordering (hence the cumsum) to be well-defined."""
    parted = (
        df.repartitionByRange(num_partitions, F.asc_nulls_last(order_col))
        if num_partitions
        else df.repartitionByRange(F.asc_nulls_last(order_col))
    ).withColumn("_pid", F.spark_partition_id())
    managed_persist(parted)

    # the running total keeps the value column's numeric family: int()-ing
    # per-partition offsets (and a blanket cast to long) silently truncates
    # fractional inputs, compounding the error across every later partition
    fractional = isinstance(df.schema[value_col].dataType, T.FractionalType)
    out_type = "double" if fractional else "long"

    sums = {
        r["_pid"]: r["s"]
        for r in parted.groupBy("_pid").agg(F.sum(value_col).alias("s")).collect()
    }
    if not sums:
        return df.withColumn(out_col, F.lit(None).cast(out_type))
    offsets: dict[int, float] = {}
    acc = 0.0 if fractional else 0
    for pid in sorted(sums):
        offsets[pid] = acc
        s = sums[pid] or 0
        acc += float(s) if fractional else int(s)
    off_map = F.create_map(
        *[F.lit(x) for pid, off in offsets.items() for x in (pid, off)]
    )

    local_w = (
        Window.partitionBy("_pid")
        .orderBy(F.asc_nulls_last(order_col))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        parted.withColumn("_ls", F.sum(value_col).over(local_w))
        .withColumn(
            out_col,
            (F.col("_ls") + F.element_at(off_map, F.col("_pid"))).cast(out_type),
        )
        .drop("_pid", "_ls")
    )

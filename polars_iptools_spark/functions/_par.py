"""Parallelism guards: under-partitioned inputs and pinned fan-out.

A small parquet file scans as ONE partition (row-group granularity —
``spark.sql.files.maxPartitionBytes`` cannot split below it), which
serializes every downstream CPU-heavy operator onto one core.  At
100 TB inputs arrive with thousands of partitions and this guard is a
no-op; on small/test inputs it buys full-cluster parallelism for one
cheap round-robin shuffle of the (tiny) data.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def ensure_parallelism(df: DataFrame) -> DataFrame:
    """Repartition only if the frame has fewer than half as many
    partitions as the cluster has cores."""
    try:
        target = df.sparkSession.sparkContext.defaultParallelism
        cur = df.rdd.getNumPartitions()
    except Exception:
        # Spark Connect exposes neither sparkContext nor df.rdd; the
        # explicit repartitions at the exploding operators still pin
        # their own fan-out, so passing through is safe
        return df
    if 2 * cur < target:
        return df.repartition(target)
    return df


def pinned_partitions(df: DataFrame) -> int:
    """Partition count for an explicit repartition ahead of a join whose
    output explodes: AQE coalesces exchanges by INPUT bytes, and a user
    repartition is exempt.  Spark Connect has no sparkContext: 16."""
    try:
        return max(df.sparkSession.sparkContext.defaultParallelism * 2, 8)
    except Exception:
        return 16

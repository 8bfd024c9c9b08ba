"""Parallelism guard for under-partitioned inputs.

A small parquet file scans as ONE partition (row-group granularity —
``spark.sql.files.maxPartitionBytes`` cannot split below it), which
serializes every downstream CPU-heavy operator onto one core.  At
100 TB inputs arrive with thousands of partitions and this guard is a
no-op; on small/test inputs it buys full-cluster parallelism for one
cheap round-robin shuffle of the (tiny) data.

:func:`pair_fanout` is the partition count the quadratic pair joins
(blocking, n-gram Jaccard, embedding LSH) pin their exchanges to.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def ensure_parallelism(df: DataFrame, min_ratio: float = 0.5) -> DataFrame:
    """Repartition only if the frame has materially fewer partitions
    than the cluster has cores."""
    try:
        target = df.sparkSession.sparkContext.defaultParallelism
        cur = df.rdd.getNumPartitions()
    except Exception:
        # Spark Connect exposes neither sparkContext nor df.rdd; the
        # explicit repartitions at the exploding operators still pin
        # their own fan-out, so passing through is safe
        return df
    if cur < target * min_ratio:
        return df.repartition(target)
    return df


def pair_fanout(df: DataFrame) -> int:
    """Pinned partition count for a quadratic pair-generating join:
    twice the cluster's cores, at least 8.  Spark Connect has no
    sparkContext, so it gets a fixed fan-out of 16."""
    try:
        return max(df.sparkSession.sparkContext.defaultParallelism * 2, 8)
    except Exception:
        return 16

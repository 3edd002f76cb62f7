"""Input-parallelism guard (spark_optimization_guide §2.5, "input skew").

A small input arrives as fewer scan partitions than the cluster has task
slots: one parquet row group, one gzip member or a driver-built local
relation is ONE partition, and Spark never splits a file into pieces
smaller than ``spark.sql.files.openCostInBytes`` (4 MB), so a 7 MB file
is two. Every downstream narrow operation (Arrow-batched kernels,
broadcast-join probes, nested-loop join stream sides) then runs on that
many cores and leaves the other slots idle, no matter how wide the
cluster is. ``spread_small_input`` round-robin repartitions such frames
to the cluster's default parallelism (its task-slot count).

The rule is one slot count: a frame with fewer partitions than
``defaultParallelism`` is spread, and anything that already fills every
slot (many files, many row groups, any post-shuffle frame at the
default width) passes through untouched — so at real scale the extra
exchange never fires and nothing is tuned to the local harness. The
guard is only correct where results are partitioning-invariant, which
holds for every call site in this repo (tile pipelines re-key by tile_id
behind a shuffle; join/refine operators re-aggregate by key).
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def spread_small_input(df: DataFrame) -> DataFrame:
    """Round-robin repartition ``df`` to the default parallelism when it
    arrives with fewer partitions than there are task slots; otherwise
    return it as-is.

    The partition count probe converts the plan to an RDD (cheap, no job —
    every call site here sits before the first exchange). The explicit
    partition count keeps AQE from re-coalescing the small frame back to
    one partition (AQE honors user-specified repartition counts)."""
    try:
        target = int(df.sparkSession.sparkContext.defaultParallelism)
        n_in = int(df.rdd.getNumPartitions())
    except Exception:  # pragma: no cover - defensive: never fail the plan
        return df
    if n_in >= target:
        return df
    return df.repartition(target)

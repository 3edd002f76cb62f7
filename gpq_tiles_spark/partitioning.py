"""Input-parallelism guard (spark_optimization_guide §2.5, "input skew").

A small input arrives as fewer scan partitions than the cluster has task
slots: one parquet row group, one gzip member or a driver-built local
relation is ONE partition, and Spark never splits a file into pieces
smaller than ``spark.sql.files.openCostInBytes`` (4 MB), so a 7 MB file
is two. Every downstream narrow operation then runs on that many cores
and leaves the other slots idle, no matter how wide the cluster is.
``spread_small_input`` round-robin repartitions such frames to the
cluster's default parallelism (its task-slot count).

The rule is one slot count: a frame with fewer partitions than
``defaultParallelism`` is spread, and anything that already fills every
slot (many files, many row groups, any post-shuffle frame at the
default width) passes through untouched — so at real scale the extra
exchange never fires and nothing is tuned to the local harness. The
guard is only correct where results are partitioning-invariant, which
holds for every call site in this repo (tile pipelines re-key by tile_id
behind a shuffle; join/refine operators re-aggregate by key).

A spread only pays where the work per row it moves is larger than the
move (~0.9 us a point through the round-robin exchange, plus a Spark job
and a Python worker per slot). The callers, and what was measured on
each side of that line (4-CPU container, ``local[4]``):

* ``pipeline._premerge_records``, the conversion fan-out (clip,
  simplify, encode: milliseconds per feature). Spread kept: without it,
  ``docs_props_stream`` conversions took 2.13 s instead of 1.84 s
  (median ``op_p50_ms``, slower in 4 of 4 pairs) at 11% less peak RSS,
  and ``adm4_sharded`` 2.05 s instead of 1.99 s (slower in 2 of 3).
* ``operators.joins.point_in_polygon_join``'s broadcast pass, only at
  ``PIP_SPREAD_MIN_ZONE_VERTICES`` (64) ring vertices per zone or more:
  its refine costs ~1.2 us a point at 5-vertex zones and ~17 us at 553
  (``scripts/measure_join_refine.py --zone-vertices``). Over 50,000
  points in one partition and 300 zones of 553 vertices the spread join
  took 0.67 s against 1.18 s without it; at the benchmark's 5-vertex
  zones, dropping it (with ``knn_join``'s) cut ``spatial_joins``
  ``op_p50_ms`` from 989 to 801 ms. ``knn_join`` (a pass of ~0.2 us a
  point) and the distributed PIP path (its cell join repartitions
  anyway) no longer spread.
* ``operators.joins.knn_join_distributed``,
  ``operators.dedup.ngram_jaccard_pairs`` and
  ``operators.similarity.embedding_near_duplicates``: not re-measured.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def spread_small_input(df: DataFrame) -> DataFrame:
    """Round-robin repartition ``df`` to the default parallelism when it
    arrives with fewer partitions than there are task slots; otherwise
    return it as-is.

    The partition count probe converts the plan to an RDD. That runs no
    Spark job (every call site here sits before the first exchange), but
    it is not free: it plans the query and computes the RDD's partitions
    on the driver. Warm calls took 43-170 ms of driver time each on a
    local[4] session over the benchmark's Parquet and extracted inputs
    (4 CPUs; the first call in a session 0.4-1.2 s). The explicit
    partition count keeps AQE from re-coalescing the small frame back to
    one partition (AQE honors user-specified repartition counts).

    Blind spot: the probe counts file splits, empty ones included. A
    21.3 MB parquet file of 2,400 vertex-dense polygons written as ONE
    row group reads as 4 splits on ``local[4]``, and all its rows land in
    one of them (the split holding the row group's midpoint), so the rule
    returns the frame unchanged and the fan-out runs on one task:
    ``convert_sharded`` z0-14 took 6.3-6.8 s against 3.2-3.8 s with an
    explicit ``repartition(4)``, same archive (3 alternating pairs).
    Counting rows or bytes per split, not splits, would see it."""
    try:
        target = int(df.sparkSession.sparkContext.defaultParallelism)
        n_in = int(df.rdd.getNumPartitions())
    except Exception:  # pragma: no cover - defensive: never fail the plan
        return df
    if n_in >= target:
        return df
    return df.repartition(target)

#!/usr/bin/env python
"""Per-task Python overhead: a no-op mapInPandas next to a JVM-only job.

    PYTHONPATH=. python scripts/measure_task_overhead.py [--reps 7] \
        [--partitions 1,2,4,8,16] [--cores N]

For each partition count P it times, on a warm ``get_spark`` session, a
job over ``spark.range(P, numPartitions=P)`` written to the ``noop`` sink,
once through an identity ``mapInPandas`` (one Python task per partition)
and once without it (JVM only). The difference is the fixed cost a
Python task pays before and after its UDF runs. It prints one JSON line
with the median wall seconds per partition count. Set
``SPARK_GRAFT_NO_DAEMON_PRELOAD=1`` to measure Spark's stock worker
daemon instead of ``gpq_tiles_spark.worker_daemon``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import time


def _identity(batches):
    yield from batches


def _time_job(build, reps: int) -> float:
    walls = []
    for _ in range(reps):
        t0 = time.perf_counter()
        build().write.format("noop").mode("overwrite").save()
        walls.append(time.perf_counter() - t0)
    return round(statistics.median(walls), 4)


def main() -> None:
    p = argparse.ArgumentParser()
    p.add_argument("--reps", type=int, default=7)
    p.add_argument("--partitions", default="1,2,4,8,16")
    p.add_argument("--cores", type=int, default=len(os.sched_getaffinity(0)))
    args = p.parse_args()
    counts = [int(x) for x in args.partitions.split(",")]

    from gpq_tiles_spark.session import get_spark

    spark = get_spark("task-overhead", cores=args.cores)
    spark.sparkContext.setLogLevel("ERROR")
    try:
        def python_job(n):
            return spark.range(0, n, numPartitions=n).mapInPandas(
                _identity, "id long")

        def jvm_job(n):
            return spark.range(0, n, numPartitions=n)

        # warm the JVM and one Python worker per core before timing
        _time_job(lambda: python_job(max(counts + [args.cores])), 2)
        out = {"python_task_s": {}, "jvm_only_s": {}}
        for n in counts:
            out["python_task_s"][str(n)] = _time_job(lambda: python_job(n), args.reps)
            out["jvm_only_s"][str(n)] = _time_job(lambda: jvm_job(n), args.reps)
        out.update(
            reps=args.reps, cores=args.cores,
            daemon=spark.sparkContext.getConf().get(
                "spark.python.daemon.module", "pyspark.daemon"))
        print(json.dumps(out))
    finally:
        spark.stop()


if __name__ == "__main__":
    main()

"""SparkSession factory with scale-appropriate defaults.

AQE on (runtime re-plan + skew handling), Arrow on (all our kernels run in
Arrow-batched pandas UDFs), and a shuffle-partition count sized for the local
harness; on a real cluster these come from spark-submit conf.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _default_driver_mem() -> str:
    """Size the single-JVM heap from the host: ~1/5 of physical RAM,
    clamped to [4g, 24g] (24g was tuned for the 128 GiB harness box; a
    fixed 24g default fails JVM launch on smaller hosts — ADVICE r3).
    SPARK_DRIVER_MEM always overrides."""
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemTotal:"):
                    total_gb = int(line.split()[1]) / (1024 * 1024)
                    break
            else:
                return "8g"
    except OSError:
        return "8g"
    return f"{min(24, max(4, int(total_gb / 5)))}g"


def _daemon_module() -> str | None:
    """Resolve the worker daemon (worker_daemon.py: pre-imports, plus
    stamp-guarded zip invalidation). The
    daemon subprocess must be able to import this package, so the package
    parent dir is pushed onto PYTHONPATH (inherited by the JVM and thus by
    the daemon it spawns). Returns None — keeping the stock daemon — only
    if that cannot be arranged; a broken daemon module would fail every
    Python stage, so this is deliberately conservative.
    Opt out with SPARK_GRAFT_NO_DAEMON_PRELOAD=1."""
    if os.environ.get("SPARK_GRAFT_NO_DAEMON_PRELOAD"):
        return None
    try:
        pkg_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        cur = os.environ.get("PYTHONPATH", "")
        if pkg_root not in cur.split(os.pathsep):
            os.environ["PYTHONPATH"] = (
                pkg_root + (os.pathsep + cur if cur else ""))
        return "gpq_tiles_spark.worker_daemon"
    except Exception:  # pragma: no cover - defensive
        return None


def get_spark(app: str = "gpq-tiles-spark", cores: int | None = None,
              shuffle_partitions: int | None = None) -> SparkSession:
    cores = cores or int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    shuffle_partitions = shuffle_partitions or max(cores, 8)
    b = (
        SparkSession.builder.appName(app)
        .master(f"local[{cores}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        # local[K] puts driver + executor in ONE JVM: size the heap from
        # host RAM (24g on the 128 GiB harness box). Arrow/netty direct
        # memory defaults to the heap cap, so this also sizes the Arrow
        # transfer pool that the vertex-heavy fan-out batches go through.
        # On a real cluster these come from spark-submit conf instead.
        .config("spark.driver.memory",
                os.environ.get("SPARK_DRIVER_MEM") or _default_driver_mem())
        .config("spark.sql.parquet.filterPushdown", "true")
        # serialized RDD blocks + spills are uncompressed by default; lz4
        # halves the on-disk footprint of coordinate-heavy WKB records
        .config("spark.rdd.compress", "true")
        .config("spark.ui.enabled", "false")
    )
    # worker daemon (worker_daemon.py) with two jobs. Pre-import: forked
    # Python workers inherit warm numpy/pandas/pyarrow + kernel modules
    # via copy-on-write instead of each paying the import on its first
    # task. Stamp-guarded invalidation: pyspark 4.1.2's worker calls
    # importlib.invalidate_caches() on every task, and on CPython 3.11 that
    # re-reads the directory of each of the 16 zip importers on the worker
    # path (pyspark.zip, py4j, the spark-core jar), 0.1-0.15 s per task; the
    # daemon re-reads an archive only when its os.stat stamp changed.
    # SPARK_GRAFT_NO_DAEMON_PRELOAD=1 keeps Spark's stock daemon, which
    # turns both off.
    daemon = _daemon_module()
    if daemon:
        b = b.config("spark.python.daemon.module", daemon)
    # opt-in stage-level profiling: SPARK_GRAFT_EVENTLOG=/path/dir writes
    # the standard Spark event log there (parse offline for stage timings)
    ev = os.environ.get("SPARK_GRAFT_EVENTLOG")
    if ev:
        os.makedirs(ev, exist_ok=True)
        b = b.config("spark.eventLog.enabled", "true") \
             .config("spark.eventLog.dir", f"file://{ev}") \
             .config("spark.eventLog.compress", "false")
    return b.getOrCreate()

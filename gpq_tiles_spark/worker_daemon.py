"""PySpark worker daemon that cuts the fixed cost of every Python task.

``session.get_spark`` sets this module as ``spark.python.daemon.module``.
It does two jobs before it forks any worker:

1. **Pre-import.** Every Python worker pays a ~0.5 s import of
   numpy/pandas/pyarrow (plus this package's kernels) the first time it
   unpickles one of our Arrow UDFs. With 32 cores that is ~16
   CPU-seconds of import storms smeared across the first wide stage of
   every operator family. The stock pyspark daemon forks workers from a
   process that has imported none of it; this daemon imports the stack
   ONCE, so every forked worker inherits warm modules through
   copy-on-write: heavy init once per executor, not once per worker.

2. **Stamp-guarded zip invalidation.** PySpark's worker calls
   ``importlib.invalidate_caches()`` at the start of every task, so that
   files shipped with ``addFile``/``addPyFile`` become importable. On
   CPython 3.11 that makes every ``zipimport.zipimporter`` on the worker
   path re-read its archive's central directory. With pyspark 4.1.2 there
   are 16 of them: ``pyspark.zip`` plus 11 package paths inside it, the
   py4j zip plus ``/py4j``, and the spark-core jar plus ``/org`` (Spark
   puts the jar on the worker PYTHONPATH). Measured on a warm, reused
   worker, that is 0.1-0.15 s of each task spent before the UDF runs.
   :func:`invalidate_if_changed` replaces ``zipimporter.invalidate_caches``
   and re-reads an archive only when its ``os.stat`` stamp
   ``(st_ino, st_size, st_mtime_ns)`` differs from the one recorded at the
   importer's last read, or when the stat fails. A new archive still gets
   a new importer and a rewritten one a new stamp, so ``addPyFile`` keeps
   working. The daemon calls ``importlib.invalidate_caches()`` once after
   installing it, so the stamps are recorded before the fork and even a
   worker's first task skips the reads.

Both jobs are best-effort: a failure must never take down the daemon
(that would break every Python stage), so a failed import falls back to
the normal lazy import inside the worker, and a failed install leaves the
stock method in place. ``SPARK_GRAFT_NO_DAEMON_PRELOAD=1`` makes
``get_spark`` keep Spark's stock daemon, which turns both jobs off.
"""

from __future__ import annotations

import importlib
import os
import zipimport

for _mod in (
    "numpy",
    "pandas",
    "pyarrow",
    "pyspark.serializers",
    "pyspark.sql.pandas.serializers",
    "gpq_tiles_spark.kernels.tile_math",
    "gpq_tiles_spark.kernels.geom",
    "gpq_tiles_spark.kernels.clip",
    "gpq_tiles_spark.kernels.simplify",
    "gpq_tiles_spark.kernels.drop",
    "gpq_tiles_spark.kernels.hashes",
    "gpq_tiles_spark.kernels.hilbert",
    "gpq_tiles_spark.kernels.mvt",
    "gpq_tiles_spark.kernels.mvt_fast",
    "gpq_tiles_spark.kernels.pmtiles",
    "gpq_tiles_spark.pipeline",
    "gpq_tiles_spark.operators.cells",
):
    try:  # pragma: no cover - import side effects only
        importlib.import_module(_mod)
    except Exception:
        pass

from pyspark.daemon import manager  # noqa: E402

_stock_invalidate = zipimport.zipimporter.invalidate_caches


def invalidate_if_changed(self: zipimport.zipimporter) -> None:
    """``zipimporter.invalidate_caches`` that skips the directory re-read
    while the archive's stamp is unchanged since this importer's last
    read. The stamp is taken before the read: an archive rewritten in
    between gets a new stamp on the next call and is read again."""
    try:
        st = os.stat(self.archive)
        stamp = (st.st_ino, st.st_size, st.st_mtime_ns)
    except (OSError, ValueError):
        stamp = None
    if stamp is not None and stamp == getattr(self, "_gpq_stamp", None):
        return
    _stock_invalidate(self)
    self._gpq_stamp = stamp


if __name__ == "__main__":
    try:
        zipimport.zipimporter.invalidate_caches = invalidate_if_changed
        importlib.invalidate_caches()
    except Exception:  # pragma: no cover - keep the daemon up
        zipimport.zipimporter.invalidate_caches = _stock_invalidate
    manager()

"""Iceberg source (gated — Iceberg runtime jars are not in this container).

[north-star: "reads Iceberg tables of interleaved text+media documents",
"resume from Iceberg snapshot checkpoints"]. When the session has the
Iceberg catalog configured (spark.sql.catalog.* + iceberg-spark-runtime on
the classpath), these helpers read the documents table — optionally AS OF a
snapshot, or only what was appended between two snapshots. Without the
runtime they raise a clear error; the rest of the engine runs on plain
parquet paths via the same DataFrame contract.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def iceberg_available(spark: SparkSession) -> bool:
    try:
        spark._jvm.org.apache.iceberg.Table  # noqa: B018
        return True
    except Exception:
        return False


def read_documents(spark: SparkSession, table: str,
                   snapshot_id: int | None = None) -> DataFrame:
    """documents table -> DataFrame(doc_id, spans), optionally time-traveled
    (`VERSION AS OF`) for reproducible resume."""
    if not iceberg_available(spark):  # pragma: no cover - env-dependent
        raise RuntimeError(
            "Iceberg runtime not on the classpath; add "
            "iceberg-spark-runtime via spark-submit --packages, or read the "
            "documents as parquet (spark.read.parquet) — the engine's "
            "DataFrame contract is identical"
        )
    reader = spark.read.format("iceberg")
    if snapshot_id is not None:
        reader = reader.option("snapshot-id", str(snapshot_id))
    return reader.load(table).select("doc_id", "spans")


def read_appended_documents(spark: SparkSession, table: str,
                            from_snapshot: int,
                            to_snapshot: int | None = None) -> DataFrame:
    """Incremental append scan between two snapshots: the (doc_id, spans)
    rows appended after ``from_snapshot`` (up to ``to_snapshot``, or the
    latest). Nothing in the engine merges their tiles into an existing
    archive: a checkpointed run (``checkpoint.convert_with_checkpoints``)
    always writes a whole new one."""
    if not iceberg_available(spark):  # pragma: no cover - env-dependent
        raise RuntimeError("Iceberg runtime not on the classpath")
    reader = (
        spark.read.format("iceberg")
        .option("start-snapshot-id", str(from_snapshot))
    )
    if to_snapshot is not None:
        reader = reader.option("end-snapshot-id", str(to_snapshot))
    return reader.load(table).select("doc_id", "spans")


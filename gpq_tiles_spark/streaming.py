"""Incremental / streaming ingest.

The reference has NO unbounded-streaming semantics — its "streaming" is
bounded-memory batch (SURVEY.md §2.8, reference ADR-001). The engine
therefore offers one incremental idiom: ``incremental_extract``, Structured
Streaming over a document directory with ``Trigger.AvailableNow``. Each run
drains exactly the files not yet seen (checkpointed by the stream itself),
extracts features, and appends to a staging parquet. Combined with
``checkpoint.convert_with_checkpoints`` this gives snapshot-to-snapshot
incremental tiling.
"""

from __future__ import annotations

from pyspark.sql import SparkSession

from .extract import FEATURES_SCHEMA, _extract_batches


def incremental_extract(spark: SparkSession, docs_dir: str, staging_dir: str,
                        checkpoint_dir: str, doc_schema=None) -> None:
    """Drain new document files -> append extracted features to staging.

    Runs as Trigger.AvailableNow: returns when the current snapshot of the
    directory is fully processed; re-running processes only new files.
    """
    if doc_schema is None:
        doc_schema = spark.read.parquet(docs_dir).schema
    stream = (
        spark.readStream.schema(doc_schema)
        .parquet(docs_dir)
        .select("doc_id", "spans")
        .mapInPandas(_extract_batches, schema=FEATURES_SCHEMA)
    )
    q = (
        stream.writeStream.format("parquet")
        .option("path", staging_dir)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


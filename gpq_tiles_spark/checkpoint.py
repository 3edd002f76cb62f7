"""Checkpoint / resume + per-partition lineage metrics.

[north-star — cite: BASELINE.json "Runs resume from Iceberg snapshot
checkpoints with per-partition lineage and throughput/row-count metrics"].

The reference has no unbounded streaming (SURVEY.md §2.8); resume is
driver-orchestrated incremental batch. A run is keyed on an input snapshot
fingerprint — the Iceberg snapshot id when the table is Iceberg (gated: no
Iceberg runtime in this container), else a hash of the parquet file listing
(path, size, mtime). Each pipeline stage materializes to a staging directory
and records completion in ``manifest.json``; a re-run with the same snapshot
fingerprint skips completed stages and resumes from the first incomplete
one. Stage outputs are written atomically (Spark job commit), so a killed
run never records a half-written stage.
"""

from __future__ import annotations

import json
import os
import time
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def snapshot_fingerprint(spark: SparkSession, table_path: str) -> str:
    """Iceberg snapshot id when available, else parquet listing hash."""
    try:  # pragma: no cover - Iceberg jars not in this container
        snaps = spark.sql(f"SELECT snapshot_id FROM {table_path}.snapshots "
                          "ORDER BY committed_at DESC LIMIT 1").collect()
        if snaps:
            return f"iceberg:{snaps[0][0]}"
    except Exception:
        pass
    from .kernels.hashes import xxh64

    entries = []
    if os.path.isdir(table_path):
        for root, _, files in os.walk(table_path):
            for fn in sorted(files):
                p = os.path.join(root, fn)
                st = os.stat(p)
                entries.append(f"{p}:{st.st_size}:{int(st.st_mtime)}")
    elif os.path.exists(table_path):
        st = os.stat(table_path)
        entries.append(f"{table_path}:{st.st_size}:{int(st.st_mtime)}")
    return f"files:{xxh64('|'.join(entries).encode()):016x}"


def partition_lineage(df: DataFrame, stage: str) -> list[dict]:
    """Per-partition lineage rows: (stage, partition_id, rows)."""
    rows = (
        df.withColumn("__pid", F.spark_partition_id())
        .groupBy("__pid")
        .count()
        .collect()
    )
    return [
        {"stage": stage, "partition_id": int(r["__pid"]), "rows": int(r["count"])}
        for r in rows
    ]


@dataclass
class CheckpointedRun:
    spark: SparkSession
    work_dir: str
    snapshot: str

    def __post_init__(self):
        os.makedirs(self.work_dir, exist_ok=True)
        self._manifest_path = os.path.join(self.work_dir, "manifest.json")
        self.manifest = self._load()

    def _load(self) -> dict:
        if os.path.exists(self._manifest_path):
            with open(self._manifest_path) as f:
                m = json.load(f)
            if m.get("snapshot") == self.snapshot:
                return m
        return {"snapshot": self.snapshot, "stages": {}, "lineage": [], "metrics": {}}

    def _save(self) -> None:
        tmp = self._manifest_path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(self.manifest, f, indent=1)
        os.replace(tmp, self._manifest_path)

    def stage_done(self, name: str) -> bool:
        return self.manifest["stages"].get(name, {}).get("done", False)

    def stage_path(self, name: str) -> str:
        return os.path.join(self.work_dir, f"stage_{name}.parquet")

    def run_stage(self, name: str, producer, record_lineage: bool = True,
                  info=None) -> DataFrame:
        """Run (or resume) a stage: producer() -> DataFrame, materialized to
        parquet; on resume the staged parquet is read back instead.
        ``info()``, called once the stage is written, adds entries to its
        manifest record."""
        path = self.stage_path(name)
        if self.stage_done(name):
            return self.spark.read.parquet(path)
        t0 = time.perf_counter()
        df = producer()
        df.write.mode("overwrite").parquet(path)
        out = self.spark.read.parquet(path)
        n = out.count()
        dt = time.perf_counter() - t0
        if record_lineage:
            self.manifest["lineage"].extend(partition_lineage(out, name))
        self.manifest["stages"][name] = {
            "done": True,
            "rows": n,
            "seconds": round(dt, 3),
            "rows_per_sec": round(n / dt, 1) if dt > 0 else None,
            **(info() if info else {}),
        }
        self.manifest["metrics"][name] = self.manifest["stages"][name]
        self._save()
        return out

    def mark(self, name: str, **info) -> None:
        self.manifest["stages"][name] = {"done": True, **info}
        self._save()


def convert_with_checkpoints(spark: SparkSession, docs_path: str, output_path: str,
                             work_dir: str, config=None) -> dict:
    """Checkpointed end-to-end conversion: extract -> message records ->
    shards -> archive, resumable after any completed stage. The records
    are the premerge map side (framed messages per (tile, feature)); the
    shards stage is ``pipeline.convert``'s reduce over them, writing shard
    and entry files to ``work_dir/shards``; the archive stage is its
    driver-side finalize, which starts no Spark job.

    The records stage keeps the archive bounds the fan-out accumulated in
    its manifest entry, and the shards stage keeps one (pid, entries,
    features) lineage row per shard it wrote, so a run resumed after
    either reads neither the features nor the records again.

    ``config`` is validated as ``convert`` validates it, and
    ``config.layer_fields`` goes into the archive metadata. The extracted
    documents have no ``props`` column, so ``write_properties=True``
    raises ``convert``'s ``ValueError`` before any stage runs."""
    from .config import TilerConfig
    from .extract import extract_features
    from .kernels import pmtiles as P
    from .pipeline import (PipelineMetrics, _check_props_input,
                           _expected_codec_backend, _finalize_entry_files,
                           _premerge_records, _premerge_stage,
                           _shard_summaries)

    config = (config or TilerConfig()).validate()
    extracted = extract_features(spark.read.parquet(docs_path))
    _check_props_input(extracted, config, salted=False)
    run = CheckpointedRun(spark, work_dir, snapshot_fingerprint(spark, docs_path))
    metrics = PipelineMetrics.create(spark)
    codec = P.CODEC_BY_NAME[config.tile_compression]
    shard_dir = os.path.join(work_dir, "shards")

    if not run.stage_done("shards"):
        if "bounds" not in run.manifest["stages"].get("records", {"bounds": 0}):
            # a records stage staged before it kept the bounds: redo it
            del run.manifest["stages"]["records"]
        feats = run.run_stage("extract", lambda: extracted)
        records = run.run_stage(
            "records", lambda: _premerge_records(feats, config, metrics),
            info=lambda: {"bounds": list(metrics.feature_bounds())})
        t0 = time.perf_counter()
        os.makedirs(shard_dir, exist_ok=True)
        sorted_in, encoder = _premerge_stage(records, config, metrics=metrics)
        shards = _shard_summaries(
            sorted_in, encoder, shard_dir, codec,
            _expected_codec_backend(records, codec), stream=False).collect()
        run.manifest["lineage"] = [
            r for r in run.manifest["lineage"] if r["stage"] != "shards"] + [
            {"stage": "shards", **r.asDict()} for r in shards]
        run.manifest["metrics"]["accumulators"] = metrics.as_dict()
        run.mark("shards", shards=len(shards),
                 seconds=round(time.perf_counter() - t0, 3))

    if not run.stage_done("archive"):
        t0 = time.perf_counter()
        stats = _finalize_entry_files(
            shard_dir,
            [r["pid"] for r in run.manifest["lineage"] if r["stage"] == "shards"],
            output_path, tuple(run.manifest["stages"]["records"]["bounds"]),
            config, codec)
        run.mark("archive", tiles=stats["tiles"],
                 seconds=round(time.perf_counter() - t0, 3), output=output_path)
    return run.manifest

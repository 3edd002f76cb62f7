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

    def run_stage(self, name: str, producer, record_lineage: bool = True) -> DataFrame:
        """Run (or resume) a stage: producer() -> DataFrame, materialized to
        parquet; on resume the staged parquet is read back instead."""
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
        }
        self.manifest["metrics"][name] = self.manifest["stages"][name]
        self._save()
        return out

    def mark(self, name: str, **info) -> None:
        self.manifest["stages"][name] = {"done": True, **info}
        self._save()


def _scan_bounds(feats: DataFrame) -> tuple[float, float, float, float]:
    """Header bounds of ``feats`` by one scan, on the rule the sinks'
    fan-out accumulator follows: null and NaN bbox values are skipped
    (Spark's own min/max would rank NaN largest), and ``WORLD_BOUNDS``
    stands in when no feature has a bbox. A resumed checkpointed run
    skips the fan-out, so it cannot read the accumulator."""
    from .pipeline import WORLD_BOUNDS

    def known(c):
        return F.when(~F.isnan(c), F.col(c))

    row = feats.agg(F.min(known("lng_min")), F.min(known("lat_min")),
                    F.max(known("lng_max")), F.max(known("lat_max"))
                    ).collect()[0]
    return WORLD_BOUNDS if row[0] is None else tuple(row)


def convert_with_checkpoints(spark: SparkSession, docs_path: str, output_path: str,
                             work_dir: str, config=None) -> dict:
    """Checkpointed end-to-end conversion: extract -> message records ->
    tiles -> archive, resumable after any completed stage. The records
    are the premerge map side (framed messages per (tile, feature)) and
    the tiles its wrap stage, the layout ``pipeline.convert`` runs.

    ``config`` is validated as ``convert`` validates it, and
    ``config.layer_fields`` goes into the archive metadata. The extracted
    documents have no ``props`` column, so ``write_properties=True``
    raises ``convert``'s ``ValueError`` before any stage runs."""
    from .config import TilerConfig
    from .extract import extract_features
    from .pipeline import (PipelineMetrics, _check_props_input, _encode,
                           _premerge_records, _premerge_stage)

    config = (config or TilerConfig()).validate()
    extracted = extract_features(spark.read.parquet(docs_path))
    _check_props_input(extracted, config, salted=False)
    run = CheckpointedRun(spark, work_dir, snapshot_fingerprint(spark, docs_path))
    metrics = PipelineMetrics.create(spark)

    feats = run.run_stage("extract", lambda: extracted)
    records = run.run_stage(
        "records", lambda: _premerge_records(feats, config, metrics))
    tiles = run.run_stage("tiles", lambda: _encode(
        _premerge_stage(records, config, metrics=metrics)))
    acc = metrics.as_dict()
    if any(acc.values()):  # only meaningful when the stages actually ran
        run.manifest["metrics"]["accumulators"] = acc
        run._save()

    if not run.stage_done("archive"):
        from .kernels import pmtiles as P

        codec = P.CODEC_BY_NAME[config.tile_compression]
        asm = P.PMTilesAssembler(
            tile_compression=codec, layer_name=config.layer_name,
            min_zoom=config.min_zoom, max_zoom=config.max_zoom,
            fields=config.layer_fields,
            leaf_max_entries=config.leaf_max_entries,
        )
        # without this the sentinel [180,90,-180,-90] would be written,
        # giving viewers an inverted/empty extent
        asm.bounds = list(_scan_bounds(feats))
        t0 = time.perf_counter()
        n = 0
        for row in tiles.orderBy("tile_id").toLocalIterator(prefetchPartitions=True):
            asm.add_tile(row.tile_id, row.z, bytes(row.mvt), row.content_hash,
                         row.n_features)
            n += 1
        asm.finalize(output_path)
        run.mark("archive", tiles=n, seconds=round(time.perf_counter() - t0, 3),
                 output=output_path)
    return run.manifest

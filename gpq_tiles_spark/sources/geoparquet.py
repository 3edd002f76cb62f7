"""GeoParquet source/sink + input-quality assessment.

Mirrors the reference's scan operators (SURVEY.md §2.1):
* S1/S2: ``read_geoparquet`` — Spark's parquet reader already streams row
  groups as splits (spark.sql.files.maxPartitionBytes); we add geometry
  column discovery by the same name heuristic (batch_processor.rs:59-62) and
  bbox derivation in one Arrow pass.
* S4: ``dataset_bbox`` — min/max aggregation, never materializes.
* S5: ``field_metadata`` — Arrow type -> MVT type map (String/Number/
  Boolean), geometry + complex columns skipped (batch_processor.rs:424-467).
* S7: ``assess_quality`` — driver-side O(1) checks on parquet footer
  metadata: geo key-value metadata present, row-group bbox stats usable,
  rows/group >= 100, Hilbert-sortedness sample (quality.rs:105-158).
"""

from __future__ import annotations

from dataclasses import dataclass, field
from struct import error as struct_error
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructField, StructType

from ..extract import FEATURES_SCHEMA
from ..kernels import geom as G

GEOMETRY_NAME_HINTS = ("geometry", "geom", "wkb")


def discover_geometry_column(columns: list[str]) -> str | None:
    """Name heuristic matching batch_processor.rs:59-62."""
    for c in columns:
        if c.lower() == "geometry":
            return c
    for c in columns:
        if any(h in c.lower() for h in GEOMETRY_NAME_HINTS):
            return c
    return None


@dataclass
class ScanMetrics:
    """Accumulator-backed scan counters (no silent skips): filled by the
    executors during the scan job, readable on the driver after an action."""
    n_skipped: object = None      # undecodable WKB rows
    n_nulls: object = None        # NULL geometry rows
    n_collections: object = None  # GeometryCollections flattened

    @classmethod
    def create(cls, spark: SparkSession) -> "ScanMetrics":
        sc = spark.sparkContext
        return cls(sc.accumulator(0), sc.accumulator(0), sc.accumulator(0))

    def as_dict(self) -> dict[str, int]:
        return {
            "n_skipped": int(self.n_skipped.value),
            "n_nulls": int(self.n_nulls.value),
            "n_collections": int(self.n_collections.value),
        }


def read_geoparquet(spark: SparkSession, path: str,
                    geometry_col: str | None = None,
                    id_col: str | None = None,
                    metrics: ScanMetrics | None = None,
                    property_cols: list[str] | None = None) -> DataFrame:
    """GeoParquet (WKB geometry column) -> features DataFrame
    (FEATURES_SCHEMA). Column pruning reaches the scan: only the geometry
    and id columns are read.

    All 7 WKB variants decode (Point..MultiPolygon + GeometryCollection,
    batch_processor.rs:94-143); collections flatten to one feature per part
    (MVT features are single-typed). Undecodable rows are SKIPPED BUT
    COUNTED when a ``metrics`` (ScanMetrics.create(spark)) is passed —
    never silently lost. ``property_cols`` additionally packs the named
    parquet columns into a ``props`` column of (key, MVT-Value-bytes)
    structs for the write_properties tile path; flattened
    GeometryCollection parts all carry the source row's properties."""
    raw = spark.read.parquet(path)
    gcol = geometry_col or discover_geometry_column(raw.columns)
    if gcol is None:
        raise ValueError(f"no geometry column found in {raw.columns}")
    property_cols = list(property_cols or [])
    cols = [gcol] + ([id_col] if id_col else []) + property_cols
    raw = raw.select(*cols)
    acc_skip = metrics.n_skipped if metrics else None
    acc_null = metrics.n_nulls if metrics else None
    acc_coll = metrics.n_collections if metrics else None

    # schema-driven value kinds, shared with the pipeline's
    # encode_props_column (one normalization/encode path to maintain, and
    # nullable-int batches can't flip a value's wire kind)
    if property_cols:
        from ..pipeline import prop_kinds

        kinds = prop_kinds(raw, property_cols)

    def to_features(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from ..kernels.hashes import fmix64, xxh64
        from ..pipeline import pack_prop_row

        for pdf in batches:
            out = {k: [] for k in (
                "feature_id", "doc_id", "span_offset", "wkb", "geom_type",
                "lng_min", "lat_min", "lng_max", "lat_max")}
            if property_cols:
                out["props"] = []
            for i, wkb in enumerate(pdf[gcol]):
                if wkb is None:
                    if acc_null is not None:
                        acc_null.add(1)
                    continue
                wkb = bytes(wkb)
                try:
                    g = G.from_wkb(wkb)
                except (ValueError, IndexError, struct_error):
                    if acc_skip is not None:
                        acc_skip.add(1)
                    continue
                if property_cols:
                    # packed once per source row; flattened collection
                    # parts share it
                    row_props = pack_prop_row(
                        {c: pdf[c].iloc[i] for c in property_cols}, kinds)
                parts = G.flatten(g)
                if g[0] == G.GEOMETRYCOLLECTION and acc_coll is not None:
                    acc_coll.add(1)
                for part_idx, pg in enumerate(parts):
                    x0, y0, x1, y1 = G.bbox(pg)
                    pwkb = wkb if len(parts) == 1 else G.to_wkb(pg)
                    if id_col:
                        fid = int(pdf[id_col].iloc[i])
                        did = str(fid)
                        if part_idx:
                            # salt flattened GeometryCollection parts so
                            # feature_id stays unique (part 0 byte-stable,
                            # mirroring extract._hash_feature_id); mask
                            # BEFORE np.uint64 — a negative id would raise
                            # OverflowError on numpy >= 2.0
                            fid = int(
                                fmix64(
                                    np.uint64(fid & 0xFFFF_FFFF_FFFF_FFFF)
                                    ^ np.uint64(
                                        (part_idx * 0x9E3779B97F4A7C15)
                                        & 0xFFFF_FFFF_FFFF_FFFF
                                    )
                                )[()]
                            ) & 0x7FFF_FFFF_FFFF_FFFF
                    else:
                        fid = int(fmix64(np.uint64(xxh64(pwkb)))[()]) & 0x7FFF_FFFF_FFFF_FFFF
                        did = ""
                    out["feature_id"].append(fid)
                    out["doc_id"].append(did)
                    out["span_offset"].append(part_idx)
                    out["wkb"].append(pwkb)
                    out["geom_type"].append(pg[0])
                    out["lng_min"].append(x0)
                    out["lat_min"].append(y0)
                    out["lng_max"].append(x1)
                    out["lat_max"].append(y1)
                    if property_cols:
                        out["props"].append(row_props)
            yield pd.DataFrame(out)

    schema = FEATURES_SCHEMA
    if property_cols:
        from ..pipeline import PROPS_FIELD_SCHEMA

        schema = StructType(
            FEATURES_SCHEMA.fields + [StructField("props", PROPS_FIELD_SCHEMA)]
        )
    return raw.mapInPandas(to_features, schema=schema)


def dataset_bbox(features: DataFrame) -> tuple[float, float, float, float]:
    row = features.agg(
        F.min("lng_min"), F.min("lat_min"), F.max("lng_max"), F.max("lat_max")
    ).collect()[0]
    return (row[0], row[1], row[2], row[3])


_MVT_TYPES = {
    "string": "String",
    "double": "Number", "float": "Number", "int": "Number", "bigint": "Number",
    "smallint": "Number", "tinyint": "Number", "decimal": "Number",
    "boolean": "Boolean",
}


def field_metadata(df: DataFrame, geometry_col: str = "geometry") -> dict[str, str]:
    """Arrow/Spark type -> MVT field type; geometry + complex types skipped
    (batch_processor.rs:424-467)."""
    out: dict[str, str] = {}
    for f_ in df.schema.fields:
        if f_.name == geometry_col:
            continue
        t = f_.dataType.simpleString().split("(")[0]
        if t in _MVT_TYPES:
            out[f_.name] = _MVT_TYPES[t]
    return out


@dataclass
class GeoParquetQuality:
    has_geo_metadata: bool = False
    has_rowgroup_bbox_stats: bool = False
    rows_per_group_ok: bool = True
    avg_rows_per_group: float = 0.0
    n_row_groups: int = 0
    hilbert_sorted_sample: bool | None = None
    warnings: list[str] = field(default_factory=list)
    suggestions: list[str] = field(default_factory=list)


def assess_quality(path: str, sample_rows: int = 2000) -> GeoParquetQuality:
    """Driver-side pre-flight on the parquet footer (quality.rs:105-158)."""
    import pyarrow.parquet as pq

    q = GeoParquetQuality()
    f = pq.ParquetFile(path)
    meta = f.metadata
    kv = meta.metadata or {}
    q.has_geo_metadata = b"geo" in kv
    if not q.has_geo_metadata:
        q.warnings.append("no 'geo' key-value metadata: not a GeoParquet 1.x file")
    q.n_row_groups = meta.num_row_groups
    q.avg_rows_per_group = meta.num_rows / max(meta.num_row_groups, 1)
    if q.avg_rows_per_group < 100:
        q.rows_per_group_ok = False
        q.warnings.append(
            f"tiny row groups (~{q.avg_rows_per_group:.0f} rows/group): "
            "per-group overhead dominates (reference ADM2 pathology, "
            "context/ARCHITECTURE.md:74-81)"
        )
        q.suggestions.append("rewrite with >= 10k rows per row group")
    gcol = discover_geometry_column([c.name for c in f.schema_arrow])
    # bbox stats: usable when min/max statistics exist on bbox columns
    names = {f.schema_arrow[i].name for i in range(len(f.schema_arrow.names))}
    q.has_rowgroup_bbox_stats = bool({"lng_min", "lat_min"} & names) or q.has_geo_metadata
    if gcol is None:
        q.warnings.append("no geometry column found by name heuristic")
    else:
        # Hilbert-sortedness sample: are consecutive rows spatially close?
        try:
            tbl = next(f.iter_batches(batch_size=min(sample_rows, meta.num_rows),
                                      columns=[gcol]))
            from ..kernels import hilbert as H
            from ..kernels import tile_math as T

            cents = []
            for wkb in tbl.column(0).to_pylist():
                if wkb is None:
                    continue
                try:
                    c = G.centroid(G.from_wkb(bytes(wkb)))
                except (ValueError, IndexError):
                    continue
                if c:
                    cents.append(c)
            if len(cents) > 10:
                arr = np.array(cents)
                wx, wy = T.lng_lat_to_world(arr[:, 0], arr[:, 1])
                keys = H.encode_hilbert(wx, wy)
                # sorted data: adjacent keys are almost always non-decreasing
                frac_mono = float(np.mean(np.diff(keys.astype(np.float64)) >= 0))
                q.hilbert_sorted_sample = bool(frac_mono > 0.9)
                if not q.hilbert_sorted_sample:
                    q.suggestions.append(
                        "input not Hilbert-sorted: repartitionByRange(hilbert_key) "
                        "before tiling for locality"
                    )
        except StopIteration:
            pass
    return q

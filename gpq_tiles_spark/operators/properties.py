"""Property filtering (P1) — tippecanoe -y / -x / -X semantics.

Mirrors /root/reference/crates/core/src/property_filter.rs:19-72: Include
keeps only the listed properties, Exclude drops the listed ones, ExcludeAll
drops everything; the geometry/feature-id columns are always kept.

The tiling pipeline applies the filter to each feature's tags
(``pipeline._apply_property_filter``) and to the PMTiles JSON metadata
fields (``filter_field_metadata``, as pipeline.rs:483-490 does); the
input columns are still read in full. ``apply_property_filter`` is the
same rule as a DataFrame projection, so Catalyst column pruning would
reach the parquet scan, but no pipeline path calls it: a caller has to
apply it to its own input.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

PROTECTED = {"feature_id", "doc_id", "span_offset", "wkb", "geometry", "geom_type",
             "lng_min", "lat_min", "lng_max", "lat_max", "tile_id", "z", "x", "y"}


def apply_property_filter(df: DataFrame, include: list[str] | None = None,
                          exclude: list[str] | None = None,
                          exclude_all: bool = False) -> DataFrame:
    if exclude_all:
        keep = [c for c in df.columns if c in PROTECTED]
        return df.select(*keep)
    if include is not None:
        keep = [c for c in df.columns if c in PROTECTED or c in include]
        return df.select(*keep)
    if exclude:
        drop = [c for c in exclude if c in df.columns and c not in PROTECTED]
        return df.drop(*drop)
    return df


def filter_field_metadata(fields: dict[str, str], include: list[str] | None = None,
                          exclude: list[str] | None = None,
                          exclude_all: bool = False) -> dict[str, str]:
    """``fields`` with the filter applied by the same rule as the tags
    (``pipeline._apply_property_filter``): a field survives when it is in
    ``include`` (if given) and not in ``exclude``."""
    if exclude_all:
        return {}
    exc = set(exclude or ())
    return {k: v for k, v in fields.items()
            if (include is None or k in include) and k not in exc}

"""gpq-tiles-spark: PySpark-native spatial tiling + join engine.

A from-scratch Spark reimplementation of the capabilities of
geoparquet-io/gpq-tiles (reference at /root/reference, read-only),
expressed as DataFrame algebra + vectorized numpy/pandas kernels.
See SURVEY.md for the full structural analysis and COVERAGE.md for the
operator-by-operator map.

Public surface::

    from gpq_tiles_spark import TilerConfig, convert, extract_features
    from gpq_tiles_spark.session import get_spark

    spark = get_spark()
    docs = spark.read.parquet("documents.parquet")   # (doc_id, spans)
    stats = convert(extract_features(docs), "out.pmtiles",
                    TilerConfig(min_zoom=0, max_zoom=14))
"""

__version__ = "0.1.0"

from .config import TilerConfig  # noqa: F401


def __getattr__(name):  # lazy: keep kernel-only imports Spark-free
    if name in ("convert", "convert_sharded", "fanout_records",
                "encode_tiles_salted", "encode_tiles_premerge",
                "encode_tiles_premerge_props", "encode_props_column",
                "detect_hot_tiles", "encode_single_tile",
                "ProgressEvent", "PipelineMetrics"):
        from . import pipeline

        return getattr(pipeline, name)
    if name in ("extract_features", "span_sequences"):
        from . import extract

        return getattr(extract, name)
    if name in ("read_tile", "decode_tile"):
        # archive debugging helpers (no Spark needed)
        if name == "read_tile":
            from .kernels.pmtiles import read_tile

            return read_tile
        from .kernels.mvt import decode_tile

        return decode_tile
    raise AttributeError(name)

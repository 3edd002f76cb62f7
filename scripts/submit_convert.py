#!/usr/bin/env python
"""spark-submit entry point: documents table -> PMTiles archive.

    spark-submit --py-files dist/gpq_tiles_spark.zip \
        scripts/submit_convert.py INPUT OUTPUT.pmtiles \
        [--min-zoom 0] [--max-zoom 14] [--layer-name features] \
        [--compression gzip|none] [--salted] [--progress] \
        [--work-dir DIR (checkpointed)]

INPUT is a parquet path of interleaved documents (doc_id, spans) or — with
--geoparquet — a GeoParquet file with a WKB geometry column.

This entry builds its session with a plain ``SparkSession.builder``, not
``gpq_tiles_spark.session.get_spark``, so it keeps Spark's stock Python
worker daemon. That daemon neither pre-imports the stack nor skips the
per-task zip directory re-reads (``gpq_tiles_spark/worker_daemon.py``),
so each Python task pays that fixed cost (0.1-0.15 s measured with
pyspark 4.1.2 on CPython 3.11).
"""

from __future__ import annotations

import argparse


def main() -> None:
    p = argparse.ArgumentParser()
    p.add_argument("input")
    p.add_argument("output")
    p.add_argument("--min-zoom", type=int, default=0)
    p.add_argument("--max-zoom", type=int, default=14)
    p.add_argument("--layer-name", default="features")
    p.add_argument("--compression", default="gzip",
                   choices=["gzip", "none", "zstd", "brotli"],
                   help="zstd works via the zstandard package or a system "
                        "libzstd (ctypes); brotli requires the lib "
                        "installed (import-gated)")
    p.add_argument("--salted", action="store_true")
    p.add_argument("--sharded", action="store_true",
                   help="accepted for compatibility; the default run "
                        "already writes shards and streams them into one "
                        "archive (same call, same bytes)")
    p.add_argument("--geoparquet", action="store_true")
    p.add_argument("--work-dir", default=None, help="enable checkpoint/resume")
    p.add_argument("--feature-id-mode", default="hash", choices=["hash", "rownum"])
    p.add_argument("--write-properties", action="store_true",
                   help="serialize properties into MVT tags (with "
                        "--geoparquet, pick columns via --property-col)")
    p.add_argument("--property-col", action="append", default=[],
                   help="parquet column to carry as a tile property "
                        "(repeatable; implies --write-properties)")
    p.add_argument("--max-tile-bytes", type=int, default=None,
                   help="per-tile byte budget: oversized tiles are "
                        "deterministically thinned (tippecanoe's default "
                        "500KB limit analog; omit for --no-tile-size-limit "
                        "behavior)")
    p.add_argument("--progress", action="store_true",
                   help="print phase start/progress/complete events")
    args = p.parse_args()

    from pyspark.sql import SparkSession

    from gpq_tiles_spark.config import TilerConfig

    spark = SparkSession.builder.appName("gpq-tiles-convert").getOrCreate()
    cfg = TilerConfig(
        min_zoom=args.min_zoom, max_zoom=args.max_zoom,
        layer_name=args.layer_name, tile_compression=args.compression,
        max_tile_bytes=args.max_tile_bytes,
        write_properties=args.write_properties or bool(args.property_col),
    ).validate()

    if args.work_dir:
        from gpq_tiles_spark.checkpoint import convert_with_checkpoints

        manifest = convert_with_checkpoints(spark, args.input, args.output,
                                            args.work_dir, cfg)
        print({k: v for k, v in manifest["stages"].items()})
        return

    if args.geoparquet:
        from gpq_tiles_spark.sources.geoparquet import assess_quality, read_geoparquet

        q = assess_quality(args.input)
        for w in q.warnings:
            print(f"warning: {w}")
        feats = read_geoparquet(spark, args.input,
                                property_cols=args.property_col or None)
        if args.property_col:
            from gpq_tiles_spark.pipeline import props_field_metadata

            cfg.layer_fields = props_field_metadata(
                spark.read.parquet(args.input), args.property_col)
    else:
        from gpq_tiles_spark.extract import extract_features

        feats = extract_features(spark.read.parquet(args.input),
                                 feature_id_mode=args.feature_id_mode)
        if cfg.write_properties and "props" not in feats.columns:
            raise SystemExit(
                "--write-properties on the interleaved-document input needs "
                "a props column; use --geoparquet with --property-col, or "
                "build props via gpq_tiles_spark.pipeline.encode_props_column"
            )

    from gpq_tiles_spark.pipeline import convert

    progress = None
    if args.progress:
        def progress(ev):  # noqa: ANN001 - ProgressEvent
            print(f"[{ev.phase}] {ev.kind} {ev.info}")

    stats = convert(feats, args.output, cfg, salted=args.salted,
                    progress=progress)
    print(stats)


if __name__ == "__main__":
    main()

"""Driver-side reference encode for archive byte-parity tests.

The archive writer runs the premerge layout (messages encoded map-side,
wrapped per tile after the shuffle), or with ``salted=True`` and a hot
tile the salted two-phase concat of those same messages. The reference
here shares neither: it collects ``fanout_records``, sorts the
records on (tile_id, feature_id) and encodes all tiles in one call of the
kernel-level encoders — ``mvt_fast.encode_sorted_runs`` (WKB straight to
tile bytes) or, with ``write_properties``, ``encode_record_msgs`` +
``_props_tiles_frame`` over the ordering-minimum props of each
feature_id. ``reference_archive`` writes those tiles with
``PMTilesAssembler`` (the kernel-level single writer, which no library
write path uses), so its bytes must equal the archive writer's on every
layout.
"""

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from gpq_tiles_spark import pipeline as P
from gpq_tiles_spark.kernels import mvt_fast
from gpq_tiles_spark.kernels import pmtiles as PM
from gpq_tiles_spark.operators.properties import filter_field_metadata


def reference_tiles(features, config) -> pd.DataFrame:
    """TILES_SCHEMA rows in tile_id order, encoded on the driver."""
    recs = P.fanout_records(features, config).toPandas()
    recs = recs.sort_values(["tile_id", "feature_id"], kind="stable",
                            ignore_index=True)
    if recs.empty:
        return pd.DataFrame(columns=P.TILES_SCHEMA.fieldNames())
    tid = recs["tile_id"].to_numpy(dtype=np.int64)
    fid = recs["feature_id"].to_numpy(dtype=np.int64)
    wkbs = recs["wkb"].to_numpy()
    if not config.write_properties:
        return pd.DataFrame(mvt_fast.encode_sorted_runs(
            tid, fid, wkbs, config.layer_name, config.extent,
            config.buffer_pixels, max_tile_bytes=config.max_tile_bytes))
    winners = {
        r["feature_id"]: r["props"]
        for r in features.groupBy("feature_id")
        .agg(F.min("props").alias("props")).collect()
    }
    msgs = mvt_fast.encode_record_msgs(tid, fid, wkbs, config.extent,
                                       config.buffer_pixels)
    return P._props_tiles_frame(
        tid, fid, msgs.tolist(), [winners.get(f) for f in fid.tolist()],
        P._apply_property_filter(config), config, None)


def reference_archive(features, config, path: str) -> bytes:
    """Write ``reference_tiles`` as a .pmtiles archive with ``convert``'s
    header bounds and metadata; returns the archive bytes. An input with
    no records gives an archive with no tiles."""
    tiles = reference_tiles(features, config)
    row = features.agg(F.min("lng_min"), F.min("lat_min"),
                       F.max("lng_max"), F.max("lat_max")).collect()[0]
    asm = PM.PMTilesAssembler(
        tile_compression=PM.CODEC_BY_NAME[config.tile_compression],
        layer_name=config.layer_name,
        min_zoom=config.min_zoom,
        max_zoom=config.max_zoom,
        fields=filter_field_metadata(
            config.layer_fields or {}, config.include_properties,
            config.exclude_properties, config.exclude_all_properties),
        leaf_max_entries=config.leaf_max_entries,
    )
    for t in tiles.itertuples(index=False):
        asm.add_tile(int(t.tile_id), int(t.z), bytes(t.mvt),
                     int(t.content_hash), int(t.n_features))
    asm.bounds = list(P.WORLD_BOUNDS if row[0] is None else row)
    asm.finalize(path)
    with open(path, "rb") as f:
        return f.read()

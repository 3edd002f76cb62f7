"""Feature-drop rules (zoom generalization) — tippecanoe-compatible.

Mirrors /root/reference/crates/core/src/feature_drop.rs:
* D1/D2 point thinning: keep iff fmix64(feature_index)/2^64 < 0.4^(base-z);
  at z >= base_zoom keep all (feature_drop.rs:42-115).
* D3 tiny-polygon diffuse drop: area in tile px^2 (f64 transform, unsigned
  shoelace); <= 0 drop; >= 4.0 keep; else keep iff
  siphash13(coord f64 bit stream)/2^64 < area/4 (feature_drop.rs:129-293).
* D4/D5 tiny lines: drop iff all vertices floor-quantize to one tile pixel
  (feature_drop.rs:360-433).
* D7 dispatch by type; MultiPolygon drops iff ALL parts drop
  (pipeline.rs:104-131).

The density dropper (D6) exists as a window-function operator in
``gpq_tiles_spark.operators.density`` — NOT applied in the production tiling
path, matching the reference (SURVEY.md §2.4 subtlety; pipeline.rs:918-927).
"""

from __future__ import annotations

import numpy as np

from .geom import (
    LINESTRING,
    MULTILINESTRING,
    MULTIPOINT,
    MULTIPOLYGON,
    POINT,
    POLYGON,
    Geom,
)
from .hashes import fmix64, siphash13_coords

POINT_DROP_FACTOR = 2.5  # retention 0.4^dz (feature_drop.rs:42)
TINY_POLYGON_THRESHOLD = 4.0  # px^2 (feature_drop.rs:130)

_U64_MAX_F = float(0xFFFF_FFFF_FFFF_FFFF)


def point_retention(zoom: int, base_zoom: int) -> float:
    if zoom >= base_zoom:
        return 1.0
    return (1.0 / POINT_DROP_FACTOR) ** (base_zoom - zoom)


def should_drop_points(feature_index, zoom: int, base_zoom: int) -> np.ndarray:
    """Vectorized D1: True where dropped."""
    idx = np.asarray(feature_index).astype(np.uint64)
    if zoom >= base_zoom:
        return np.zeros(idx.shape, dtype=bool)
    retention = point_retention(zoom, base_zoom)
    normalized = fmix64(idx).astype(np.float64) / _U64_MAX_F
    return normalized >= retention


def _to_tile_f64(coords: np.ndarray, lng_min, lat_min, lng_max, lat_max, extent: int):
    """Geographic -> tile-local pixels, f64, y-flipped (feature_drop.rs:217-233)."""
    c = np.asarray(coords, dtype=np.float64)
    x = (c[:, 0] - lng_min) / (lng_max - lng_min) * extent
    y = (1.0 - (c[:, 1] - lat_min) / (lat_max - lat_min)) * extent
    return x, y


def polygon_area_tile_px(rings, lng_min, lat_min, lng_max, lat_max, extent: int) -> float:
    """Unsigned shoelace area of the transformed polygon in px^2
    (feature_drop.rs:190-214); geo unsigned_area = |sum of signed rings|."""
    total = 0.0
    for ring in rings:
        x, y = _to_tile_f64(ring, lng_min, lat_min, lng_max, lat_max, extent)
        if len(x) < 3:
            continue
        s = np.dot(x[:-1], y[1:]) - np.dot(x[1:], y[:-1])
        s += x[-1] * y[0] - x[0] * y[-1]
        total += s / 2.0
    return abs(total)


def should_drop_tiny_polygon(rings, lng_min, lat_min, lng_max, lat_max,
                             extent: int, threshold: float = TINY_POLYGON_THRESHOLD) -> bool:
    area = polygon_area_tile_px(rings, lng_min, lat_min, lng_max, lat_max, extent)
    if area <= 0.0:
        return True
    if area >= threshold:
        return False
    keep_probability = area / threshold
    h = siphash13_coords(rings)  # exterior then holes, f64 bit patterns
    return (h / _U64_MAX_F) >= keep_probability


def line_collapses_to_pixel(coords, lng_min, lat_min, lng_max, lat_max, extent: int) -> bool:
    """D4: all vertices floor to the same pixel (feature_drop.rs:360-384)."""
    c = np.asarray(coords, dtype=np.float64)
    if len(c) <= 1:
        return True
    x, y = _to_tile_f64(c, lng_min, lat_min, lng_max, lat_max, extent)
    px = np.floor(x)
    py = np.floor(y)
    return bool(px.min() == px.max() and py.min() == py.max())


def should_drop_geometry(g: Geom, zoom: int, base_zoom: int, extent: int,
                         lng_min, lat_min, lng_max, lat_max, feature_index: int) -> bool:
    """D7 dispatch (pipeline.rs:104-131). True = drop."""
    t, d = g
    if t in (POINT, MULTIPOINT):
        return bool(should_drop_points(np.array([feature_index]), zoom, base_zoom)[0])
    if t == LINESTRING:
        return line_collapses_to_pixel(d, lng_min, lat_min, lng_max, lat_max, extent)
    if t == MULTILINESTRING:
        return all(
            line_collapses_to_pixel(ls, lng_min, lat_min, lng_max, lat_max, extent)
            for ls in d
        )
    if t == POLYGON:
        return should_drop_tiny_polygon(d, lng_min, lat_min, lng_max, lat_max, extent)
    if t == MULTIPOLYGON:
        return all(
            should_drop_tiny_polygon(rings, lng_min, lat_min, lng_max, lat_max, extent)
            for rings in d
        )
    if t == 7:  # GEOMETRYCOLLECTION: drop only when every part drops
        return all(
            should_drop_geometry(p, zoom, base_zoom, extent,
                                 lng_min, lat_min, lng_max, lat_max, feature_index)
            for p in d
        )
    return False


# ---------------------------------------------------------------------------
# Per-tile byte budget (round-4 scale insurance — the low-zoom mega-tile)
# ---------------------------------------------------------------------------

def tile_budget_keep_mask(fids: np.ndarray, framed_lens: np.ndarray,
                          tile_id: int, budget: int) -> np.ndarray:
    """Deterministic per-tile byte-budget thinning.

    The z<=6 mega-tile's body grows with input scale (a whole-country tile
    is ONE reduce task's concat+gzip); tippecanoe defaults to a 500 KB tile
    limit for the same reason (its --no-tile-size-limit flag opts out,
    golden/README.md). When a tile's summed FRAMED message bytes exceed
    ``budget``, keep records in ascending fmix64(fid ^ mix(tile_id)) order —
    the same hash family as the D1 point-thinning rule — until the budget is
    spent. Properties of the rule:

    * order-independent: the mask depends only on the (fid, framed_len) SET
      of the tile, so the premerge wrap, the salted phase-B
      bucket merge and the driver-side ``mvt_fast.encode_sorted_runs`` all
      compute the SAME mask -> archives stay byte-identical;
    * deterministic: no RNG, stable across runs/partitionings (hash ties
      broken by fid, which is unique within a tile);
    * never empties a tile: the first record in hash order is always kept.

    Returns a bool mask in the INPUT record order.
    """
    framed_lens = np.asarray(framed_lens, dtype=np.int64)
    n = len(framed_lens)
    if n == 0 or int(framed_lens.sum()) <= budget:
        return np.ones(n, dtype=bool)
    # zero-length (dead) records cost nothing and are always kept: every
    # layout carries them as zero-length entries and counts them in
    # n_features, so only the LIVE records compete for the budget
    fids = np.asarray(fids, dtype=np.int64)
    nz = np.flatnonzero(framed_lens > 0)
    h = fmix64(fids[nz].astype(np.uint64) ^ fmix64(np.uint64(tile_id)))
    order = np.lexsort((fids[nz], h))
    csum = np.cumsum(framed_lens[nz][order])
    keep_sorted = csum <= budget
    keep_sorted[0] = True  # tile never goes empty
    mask = framed_lens == 0
    mask[nz[order[keep_sorted]]] = True
    return mask

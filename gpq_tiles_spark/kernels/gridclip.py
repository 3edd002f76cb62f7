"""Interior/boundary tile-grid classification for large features.

The reference's ADR-001 insight (18M vs 36B intersection checks) applies
WITHIN one large feature too: a polygon touching thousands of z14 tiles has
only O(perimeter) boundary tiles; the rest are fully interior (clip result
== the buffered tile rect) or fully exterior (no output). This module
classifies a feature's candidate tile grid in O(edges + tiles):

* ``mark_boundary``: every tile whose BUFFERED rect overlaps any edge's bbox
  (conservative superset of true edge crossings — misclassifying an interior
  tile as boundary only costs a clip call, never correctness).
* non-boundary tiles: one vectorized point-in-polygon test of the tile
  center decides interior (emit canonical rect) vs exterior (emit nothing).

The canonical interior output is the buffered tile rect as a CCW ring
starting at the SW corner. This is the exact geometric intersection; the
reference's Sutherland-Hodgman would produce the same rectangle with an
input-dependent vertex rotation (clip.rs:227-290) — semantically identical,
and our own scalar path uses the same canonical form so the engine is
self-consistent (the byte-parity tests cover it).
"""

from __future__ import annotations

import numpy as np

from . import geom as G
from . import tile_math as T

GRID_THRESHOLD = 32  # candidate tiles above which grid classification pays


_RECT_WKB_HEAD = (
    b"\x01" + (3).to_bytes(4, "little") + (1).to_bytes(4, "little")
    + (5).to_bytes(4, "little")
)


def rect_wkb(bx0: float, by0: float, bx1: float, by1: float) -> bytes:
    """WKB of the canonical rect polygon (byte-equal to
    geom.to_wkb((POLYGON, [canonical ring])))."""
    ring = np.array(
        [[bx0, by0], [bx1, by0], [bx1, by1], [bx0, by1], [bx0, by0]], dtype="<f8"
    )
    return _RECT_WKB_HEAD + ring.tobytes()


def edge_bboxes(g: G.Geom) -> np.ndarray:
    """All segment bboxes of a geometry -> (m, 4) [xmin, ymin, xmax, ymax]."""
    segs = []
    t, d = g
    parts: list[np.ndarray] = []
    if t == G.LINESTRING:
        parts = [d]
    elif t in (G.MULTILINESTRING, G.POLYGON):
        parts = list(d)
    elif t == G.MULTIPOLYGON:
        parts = [r for rings in d for r in rings]
    else:
        return np.empty((0, 4))
    for p in parts:
        a = np.asarray(p, dtype=np.float64)
        if len(a) < 2:
            continue
        x0 = np.minimum(a[:-1, 0], a[1:, 0])
        x1 = np.maximum(a[:-1, 0], a[1:, 0])
        y0 = np.minimum(a[:-1, 1], a[1:, 1])
        y1 = np.maximum(a[:-1, 1], a[1:, 1])
        segs.append(np.stack([x0, y0, x1, y1], axis=1))
    if not segs:
        return np.empty((0, 4))
    return np.concatenate(segs)


def mark_boundary(edges: np.ndarray, zoom: int, gx0: int, gx1: int,
                  gy0: int, gy1: int, buffer_px: float, extent: int) -> np.ndarray:
    """Boolean (ny, nx) mask: tile [gy0+iy, gx0+ix] overlapped (buffered,
    with a one-tile safety margin) by some edge bbox."""
    nx = gx1 - gx0 + 1
    ny = gy1 - gy0 + 1
    mask = np.zeros((ny, nx), dtype=bool)
    if len(edges) == 0:
        return mask
    n = float(1 << zoom)
    w = 360.0 / n
    buf = w * buffer_px / extent  # width-based: same degree value on both axes
    # exact buffered-overlap ranges; x is linear in lng
    tx_lo = np.floor((edges[:, 0] - buf + 180.0) / w).astype(np.int64)
    tx_hi = np.floor((edges[:, 2] + buf + 180.0) / w).astype(np.int64)
    # y via the Mercator transform (monotone decreasing in lat)
    _, ty_hi = T.lng_lat_to_tile_xy(edges[:, 0], edges[:, 1] - buf, zoom)
    _, ty_lo = T.lng_lat_to_tile_xy(edges[:, 0], edges[:, 3] + buf, zoom)
    tx_lo = np.clip(tx_lo - gx0, 0, nx)
    tx_hi = np.clip(tx_hi - gx0 + 1, 0, nx)
    ty_lo = np.clip(ty_lo - gy0, 0, ny)
    ty_hi = np.clip(ty_hi - gy0 + 1, 0, ny)
    for i in range(len(edges)):
        if tx_lo[i] < tx_hi[i] and ty_lo[i] < ty_hi[i]:
            mask[ty_lo[i] : ty_hi[i], tx_lo[i] : tx_hi[i]] = True
    return mask


def classify_polygon_grid(g: G.Geom, zoom: int, gx0: int, gx1: int,
                          gy0: int, gy1: int, buffer_px: float,
                          extent: int) -> tuple[np.ndarray, np.ndarray]:
    """-> (boundary_mask, interior_mask), both (ny, nx).

    interior = not boundary AND inside the edge-covered column/row envelope
    AND tile center inside the polygon. A closed outline necessarily places
    edges in every column/row that contains interior tiles, so cells outside
    the envelope are exterior without a point-in-polygon test — this is what
    keeps wrapped-coordinate (antimeridian) geometries with world-spanning
    bboxes cheap.

    (For line geometries use ``mark_boundary`` alone: non-boundary tiles
    produce no output.)
    """
    from . import pip as PIPK

    edges = edge_bboxes(g)
    boundary = mark_boundary(edges, zoom, gx0, gx1, gy0, gy1, buffer_px, extent)
    ny, nx = boundary.shape
    interior = np.zeros_like(boundary)
    envelope = boundary.any(axis=0)[None, :] & boundary.any(axis=1)[:, None]
    cand = envelope & ~boundary
    if cand.any():
        iy, ix = np.nonzero(cand)
        xs = (gx0 + ix).astype(np.float64)
        ys = (gy0 + iy).astype(np.float64)
        lng0, lat0, lng1, lat1 = T.tile_bounds(xs, ys, zoom)
        cx = (lng0 + lng1) / 2.0
        cy = (lat0 + lat1) / 2.0
        inside = np.zeros(len(cx), dtype=bool)
        for s in range(0, len(cx), 20000):  # bound the (points x edges) matrix
            e = s + 20000
            inside[s:e] = PIPK.points_in_geom(cx[s:e], cy[s:e], g)
        interior[iy[inside], ix[inside]] = True
    return boundary, interior

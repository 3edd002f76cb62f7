#!/usr/bin/env python
"""Spark-free timing of the join refine, the zone cover and the rect tails.

    PYTHONPATH=. python scripts/measure_join_refine.py [--seed 2] [--reps 5]
    PYTHONPATH=. python scripts/measure_join_refine.py --zone-vertices 5,33,65,129,550

Builds the benchmark's seeded inputs (``perfbench/inputs.py``, full sizes)
and times, each as the median of ``--reps`` runs:

* ``local_refine``: the broadcast PIP join's one pass over the
  ``spatial_joins`` points, cut into Arrow-sized batches of 65,536 rows
  (``joins._refine_local_cover``: each batch's cells, the cover lookup by
  ``searchsorted`` and the refine grouped by zone), with its hit count.
* ``refine``: the distributed PIP path's refine over the same candidates
  (the cell join done in numpy, cut into batches of 65,536 rows),
  grouped once per batch (``joins._refine_by_zone``), next to the
  per-zone loop over the whole batch it replaced; all three hit counts
  print and must agree.
* ``cover``: the cell cover of the 300 zones, one vectorized call
  (``joins._cover_rows``) next to one ``cover_bbox_cells`` call per zone.
* ``rect_tails``: the interior-rect message tails of the
  ``docs_props_stream`` fan-out (documents extracted and fanned out
  without Spark), one batch (``mvt_fast._rect_msg_tails``) next to one
  scalar ``kernels.mvt.encode_geometry`` per tile, and the whole
  per-record message encode of that fan-out.

Prints one JSON line of seconds and counts.

``--zone-vertices V1,V2,...`` measures the cost behind
``joins.PIP_SPREAD_MIN_ZONE_VERTICES`` instead: the broadcast PIP pass
(``local_refine`` above) over the same points against the same 300
zones, each ring densified to about V vertices (every edge cut into
``ceil((V-1)/edges)`` equal segments: the same polygons, so the hit
count must not change), one JSON line per V with the microseconds per
point; then one line with the microseconds per point of a ``knn_join``
round's pass (``joins._ring_candidates``: the benchmark's probes, k and
zoom, radius 2).
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time

import numpy as np
import pandas as pd

sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "perfbench"))

BATCH_ROWS = 65_536


def _median_s(fn, reps: int):
    walls, out = [], None
    for _ in range(reps):
        t0 = time.perf_counter()
        out = fn()
        walls.append(time.perf_counter() - t0)
    return round(statistics.median(walls), 4), out


def _join_inputs(seed: int, sz: dict):
    import inputs

    from gpq_tiles_spark.kernels import geom as G
    from gpq_tiles_spark.operators import cells as C
    from gpq_tiles_spark.operators import joins as J

    pts = inputs.clustered_points(sz["points"], seed)
    zt = inputs.zones(sz["zones"])
    geoms = {z: G.from_wkb(w) for z, w in zip(
        zt.column("zone_id").to_pylist(), zt.column("zone_wkb").to_pylist())}
    bboxes = [G.bbox(g) for g in geoms.values()]
    zoom = J._cover_zoom(bboxes[:512])
    ids, cells = J._cover_rows(list(geoms), bboxes, zoom)
    lng = pts.column("lng").to_numpy()
    lat = pts.column("lat").to_numpy()
    points = pd.DataFrame({"point_id": pts.column("point_id").to_numpy(),
                           "lng": lng, "lat": lat,
                           "cell": C.latlng_to_cell(lng, lat, zoom)})
    cand = points.merge(pd.DataFrame({"zone_id": ids, "cell": cells}), on="cell")
    cand = cand[["point_id", "lng", "lat", "zone_id"]]
    return (geoms, bboxes, zoom, _batches(points[["point_id", "lng", "lat"]]),
            _batches(cand))


def _batches(df: pd.DataFrame) -> list[pd.DataFrame]:
    return [df.iloc[s:s + BATCH_ROWS].reset_index(drop=True)
            for s in range(0, len(df), BATCH_ROWS)]


def _densified(g, vertices: int):
    """``g`` with every ring edge cut into ``ceil((vertices-1)/edges)``
    equal segments."""
    from gpq_tiles_spark.kernels import geom as G

    def ring(r):
        m = max(1, -(-(vertices - 1) // (len(r) - 1)))
        t = np.arange(m)[None, :, None] / m
        a, b = r[:-1, None, :], r[1:, None, :]
        return np.vstack([(a + t * (b - a)).reshape(-1, 2), r[-1:]])

    kind, parts = g
    if kind == G.POLYGON:
        return kind, [ring(r) for r in parts]
    return kind, [[ring(r) for r in rings] for rings in parts]


def _zone_vertex_table(seed: int, sz: dict, vertices: list[int],
                       reps: int) -> None:
    import inputs

    from gpq_tiles_spark.operators import cells as C
    from gpq_tiles_spark.operators import joins as J

    geoms, bboxes, zoom, point_batches, _ = _join_inputs(seed, sz)
    n = sum(len(b) for b in point_batches)
    for v in vertices:
        dense = [_densified(g, v) for g in geoms.values()]
        refine = J._refine_local_cover(list(geoms), dense, bboxes, zoom)
        s, hits = _median_s(
            lambda: sum(len(f) for f in refine(iter(point_batches))), reps)
        print(json.dumps({
            "zone_vertices": v,
            "ring_vertices": J._mean_zone_vertices(dense),
            "local_refine_us_per_point": round(s / n * 1e6, 3),
            "hits": hits, "points": n, "zones": len(dense)}))
    pr = inputs.probes(sz["probes"], seed)
    p_lng = pr.column("lng").to_numpy()
    p_lat = pr.column("lat").to_numpy()
    zoom = sz["knn_zoom"]
    pair_probe, pair_cell = J._disk_pairs(C.latlng_to_cell(p_lng, p_lat, zoom),
                                          2, zoom)
    ring = J._ring_candidates(pair_probe, pair_cell,
                              pr.column("probe_id").to_numpy(), p_lng, p_lat,
                              sz["k"], zoom)
    batches = [b.assign(lng_null=False, lat_null=False) for b in point_batches]
    s, rows = _median_s(lambda: sum(len(f) for f in ring(iter(batches))), reps)
    print(json.dumps({"ring_candidates_us_per_point": round(s / n * 1e6, 3),
                      "candidate_rows": rows, "points": n,
                      "probes": len(p_lng), "k": sz["k"], "zoom": zoom,
                      "radius": 2}))


def _per_zone_loop_hits(batches, geoms) -> int:
    from gpq_tiles_spark.kernels import pip as PIPK

    hits = 0
    for pdf in batches:
        keep = np.zeros(len(pdf), dtype=bool)
        px = pdf["lng"].to_numpy(dtype=np.float64)
        py = pdf["lat"].to_numpy(dtype=np.float64)
        zarr = pdf["zone_id"].to_numpy()
        for zid in pd.unique(zarr):
            m = zarr == zid
            keep[m] = PIPK.points_in_geom(px[m], py[m], geoms[zid])
        hits += int(keep.sum())
    return hits


def _docs_rect_records(seed: int, sz: dict):
    """The docs fan-out's record frames and its interior-rect tile windows."""
    import inputs

    from gpq_tiles_spark.config import TilerConfig
    from gpq_tiles_spark.extract import _extract_batches
    from gpq_tiles_spark.kernels import hilbert as H
    from gpq_tiles_spark.kernels import tile_math as T
    from gpq_tiles_spark.pipeline import FANOUT_COLS, make_fanout

    docs = inputs.documents(sz["docs"], seed).to_pandas()
    feats = pd.concat(list(_extract_batches([docs])), ignore_index=True)
    cfg = TilerConfig(min_zoom=0, max_zoom=sz["docs_max_zoom"])
    frames = list(make_fanout(cfg)([feats[list(FANOUT_COLS)]]))
    rect_tids = np.unique(np.concatenate([
        f["tile_id"].to_numpy(dtype=np.int64)[
            np.fromiter((len(w) == 0 for w in f["wkb"]), bool, len(f))]
        for f in frames]))
    z, x, y = H.tile_id_to_zxy_vec(rect_tids)
    return cfg, frames, T.tile_bounds_mixed(x, y, z)


def _scalar_rect_tails(bounds, extent: int, buffer_px: float) -> int:
    from gpq_tiles_spark.kernels import geom as G
    from gpq_tiles_spark.kernels import mvt as M

    total = 0
    for lng0, lat0, lng1, lat1 in zip(*bounds):
        buf = (lng1 - lng0) * buffer_px / extent
        bx0, by0, bx1, by1 = lng0 - buf, lat0 - buf, lng1 + buf, lat1 + buf
        ring = np.array([[bx0, by0], [bx1, by0], [bx1, by1], [bx0, by1],
                         [bx0, by0]])
        cmds, gtype = M.encode_geometry((G.POLYGON, [ring]), lng0, lat0,
                                        lng1, lat1, extent)
        total += len(M._tag(3, 0) + M._varint(gtype) + M._packed_u32(4, cmds))
    return total


def main() -> None:
    p = argparse.ArgumentParser()
    p.add_argument("--seed", type=int, default=2)
    p.add_argument("--reps", type=int, default=5)
    p.add_argument("--zone-vertices", default=None,
                   help="comma-separated ring vertex counts: time the "
                        "broadcast PIP pass at each instead")
    args = p.parse_args()

    from workloads import SIZES

    from gpq_tiles_spark.kernels import mvt_fast
    from gpq_tiles_spark.operators import cells as C
    from gpq_tiles_spark.operators import joins as J
    from gpq_tiles_spark.pipeline import make_msg_encoder

    sz = SIZES["full"]
    if args.zone_vertices:
        _zone_vertex_table(args.seed, sz,
                           [int(v) for v in args.zone_vertices.split(",")],
                           args.reps)
        return
    out: dict = {"seed": args.seed}
    geoms, bboxes, zoom, point_batches, batches = _join_inputs(args.seed, sz)
    local = J._refine_local_cover(list(geoms), list(geoms.values()), bboxes,
                                  zoom)
    out["local_refine_s"], out["local_refine_hits"] = _median_s(
        lambda: sum(len(f) for f in local(iter(point_batches))), args.reps)
    out["candidates"] = sum(len(b) for b in batches)
    out["batches"] = len(batches)
    out["zones"] = len(geoms)
    out["refine_s"], hits = _median_s(lambda: sum(
        len(J._refine_by_zone(b, lambda zid, _row: geoms[zid]))
        for b in batches), args.reps)
    out["refine_per_zone_loop_s"], loop_hits = _median_s(
        lambda: _per_zone_loop_hits(batches, geoms), args.reps)
    out["refine_hits"], out["per_zone_loop_hits"] = hits, loop_hits

    def cover_loop():
        for x0, y0, x1, y1 in bboxes:
            C.cover_bbox_cells([x0], [y0], [x1], [y1], zoom)

    out["cover_s"], _ = _median_s(
        lambda: J._cover_rows(list(geoms), bboxes, zoom), args.reps)
    out["cover_per_zone_loop_s"], _ = _median_s(cover_loop, args.reps)

    cfg, frames, bounds = _docs_rect_records(args.seed, sz)
    ext, buf = cfg.extent, cfg.buffer_pixels
    out["rect_tiles"] = len(bounds[0])
    out["rect_tails_s"], (tails, _, _) = _median_s(
        lambda: mvt_fast._rect_msg_tails(*bounds, ext, buf), args.reps)
    out["rect_tails_scalar_s"], scalar_bytes = _median_s(
        lambda: _scalar_rect_tails(bounds, ext, buf), args.reps)
    out["rect_tail_bytes"], out["rect_tail_bytes_scalar"] = len(tails), scalar_bytes
    encode = make_msg_encoder(cfg)
    out["records"] = sum(len(f) for f in frames)
    out["record_encode_s"], _ = _median_s(
        lambda: list(encode(iter(frames))), args.reps)
    print(json.dumps(out))


if __name__ == "__main__":
    main()

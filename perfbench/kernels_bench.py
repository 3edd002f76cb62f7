"""Spark-free kernel section of the traced run.

Times the hot Python kernels one call batch at a time on the workload's
own inputs, each with the count of work it did:

- ``simplify``, ``clip`` and ``mvt_fast`` on the workload's polygons;
- ``xxh3``, ``pmtiles.compress`` and ``mvt.decode`` on the workload's
  archive tiles;
- ``pmtiles.directory``: ``DirectoryBuilder`` over a seeded synthetic
  entry list with the clustered-id, blocky-reuse shape that
  ``scripts/bench_dir_assembly.py`` synthesizes (root + leaf directories,
  run-length coalescing, gzip of every leaf). The distributed half of that
  script (executor-chunked assembly) is the ``pipeline.sink`` layer of the
  ``adm4_sharded`` traced run.

A section without inputs reports zeros.
"""

from __future__ import annotations

import time

import numpy as np

from gpq_tiles_spark.kernels import clip as CL
from gpq_tiles_spark.kernels import geom as G
from gpq_tiles_spark.kernels import hilbert as H
from gpq_tiles_spark.kernels import mvt
from gpq_tiles_spark.kernels import mvt_fast
from gpq_tiles_spark.kernels import pmtiles as PM
from gpq_tiles_spark.kernels import simplify as S
from gpq_tiles_spark.kernels import tile_math as T
from gpq_tiles_spark.kernels import xxh3

EXTENT = 4096
GEOM_ZOOM = 12


def _vertices(g) -> int:
    t, d = g
    if t == G.POLYGON:
        return sum(len(r) for r in d)
    if t == G.MULTIPOLYGON:
        return sum(len(r) for rings in d for r in rings)
    return 0


def _timed(fn):
    t0 = time.perf_counter()
    out = fn()
    return time.perf_counter() - t0, out


def geometry_kernels(wkbs: list[bytes]) -> dict[str, float]:
    out = {k: 0.0 for k in ("kernels.simplify_s", "kernels.simplify.vertices",
                            "kernels.clip_s", "kernels.clip.vertices",
                            "kernels.mvt_fast_s", "kernels.mvt_fast.records")}
    geoms = [G.from_wkb(w) for w in wkbs]
    geoms = [g for g in geoms if g[0] in (G.POLYGON, G.MULTIPOLYGON)]
    if not geoms:
        return out
    verts = sum(_vertices(g) for g in geoms)
    dt, simp = _timed(lambda: S.simplify_many(geoms, GEOM_ZOOM, EXTENT))
    out["kernels.simplify_s"] = dt
    out["kernels.simplify.vertices"] = float(verts)

    # each polygon against the z12 tile holding its bbox centre: a real clip
    # for the polygons that straddle a tile edge, a bbox test for the rest
    boxes = np.array([G.bbox(g) for g in simp])
    cx = (boxes[:, 0] + boxes[:, 2]) / 2
    cy = (boxes[:, 1] + boxes[:, 3]) / 2
    tx, ty = T.lng_lat_to_tile_xy(cx, cy, GEOM_ZOOM)
    x0, y0, x1, y1 = T.tile_bounds(tx, ty, GEOM_ZOOM)
    buf = CL.buffer_pixels_to_degrees(8, float(x0[0]), float(x1[0]), EXTENT)

    def clip_all():
        return [CL.clip_geometry(g, x0[i], y0[i], x1[i], y1[i], buf)
                for i, g in enumerate(simp)]

    dt, clipped = _timed(clip_all)
    out["kernels.clip_s"] = dt
    out["kernels.clip.vertices"] = float(sum(_vertices(g) for g in simp))

    keep = [i for i, g in enumerate(clipped) if g is not None]
    tid = H.tile_id(GEOM_ZOOM, tx[keep], ty[keep]).astype(np.int64)
    fid = np.arange(len(keep), dtype=np.int64)
    recs = np.empty(len(keep), dtype=object)
    recs[:] = [G.to_wkb(clipped[i]) for i in keep]
    dt, _ = _timed(lambda: mvt_fast.encode_record_msgs(tid, fid, recs, EXTENT))
    out["kernels.mvt_fast_s"] = dt
    out["kernels.mvt_fast.records"] = float(len(keep))
    return out


def blob_kernels(tiles: list[bytes]) -> dict[str, float]:
    """``tiles``: decompressed MVT bodies."""
    nbytes = float(sum(len(t) for t in tiles))
    dt_x, _ = _timed(lambda: [xxh3.xxh3_64(t) for t in tiles])
    dt_c, _ = _timed(lambda: [PM.compress(t, PM.COMPRESSION_GZIP) for t in tiles])
    dt_d, _ = _timed(lambda: [mvt.decode_tile(t) for t in tiles])
    return {
        "kernels.xxh3_s": dt_x, "kernels.xxh3.bytes": nbytes,
        "kernels.pmtiles.compress_s": dt_c,
        "kernels.pmtiles.compress.bytes": nbytes,
        "kernels.mvt.decode_s": dt_d, "kernels.mvt.decode.bytes": nbytes,
    }


def directory_kernel(n: int, seed: int) -> dict[str, float]:
    """Build root + leaf directories for ``n`` seeded synthetic entries."""
    rng = np.random.default_rng([seed, 11])
    tid = np.cumsum(rng.integers(1, 3, n)).astype(np.int64)
    blob = np.cumsum(rng.random(n) < 0.02).astype(np.int64)  # ~50-entry runs
    length = np.full(n, 417, dtype=np.int64)
    off = blob * 417

    def build():
        cols = PM.coalesce_runs_arrays(tid, off, length)
        b = PM.DirectoryBuilder(len(cols[0]), PM.COMPRESSION_GZIP)
        b.add(*cols)
        return b.finish()

    dt, _ = _timed(build)
    return {"kernels.pmtiles.directory_s": dt,
            "kernels.pmtiles.directory.entries": float(n)}


def run(wkbs: list[bytes], tiles: list[bytes], dir_entries: int,
        seed: int) -> dict[str, float]:
    out = geometry_kernels(wkbs)
    if tiles:
        out.update(blob_kernels(tiles))
    else:
        out.update({k: 0.0 for k in blob_kernels([])})
    if dir_entries:
        out.update(directory_kernel(dir_entries, seed))
    else:
        out.update({"kernels.pmtiles.directory_s": 0.0,
                    "kernels.pmtiles.directory.entries": 0.0})
    return out

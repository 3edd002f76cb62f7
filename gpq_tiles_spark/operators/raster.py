"""Raster <-> vector tile rendering.

[north-star extension — cite: BASELINE.json "raster-to-vector tile
rendering"]. Two operators:

* ``rasterize_points``: per-tile point-density grid (numpy 2D histogram per
  tile group — one histogram call per tile, vectorized over its points).
* ``vectorize_density``: marching-squares-free contouring: threshold the
  grid, extract connected-cell rectangles as polygons (tile-local pixel
  space), emit as MVT-ready polygon features. This is the "raster ->
  vector" direction; the rasterize step is "vector -> raster".
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    IntegerType,
    LongType,
    StructField,
    StructType,
)

from ..kernels import geom as G
from ..kernels import mvt as M
from ..kernels import tile_math as T

GRID_SCHEMA = StructType(
    [
        StructField("tile_id", LongType()),
        StructField("z", IntegerType()),
        StructField("x", LongType()),
        StructField("y", LongType()),
        StructField("grid", ArrayType(LongType())),  # row-major counts
        StructField("grid_size", IntegerType()),
    ]
)

VECTOR_SCHEMA = StructType(
    [
        StructField("tile_id", LongType()),
        StructField("z", IntegerType()),
        StructField("x", LongType()),
        StructField("y", LongType()),
        StructField("n_polygons", IntegerType()),
        StructField("mvt", BinaryType()),
    ]
)


def rasterize_points(records: DataFrame, zoom: int, grid_size: int = 64) -> DataFrame:
    """Point records (tile_id, z, x, y, wkb) at one zoom -> per-tile density
    grids. Expects tile_id-sorted input (reuses the pipeline's range
    shuffle); consecutive-run grouping like the MVT encoder."""
    from ..kernels.hilbert import _base_id

    lo = _base_id(zoom) + 1 if zoom > 0 else 0
    hi = _base_id(zoom) + 4**zoom if zoom > 0 else 0
    # project to the two columns the grid kernel reads BEFORE the exchange
    # (z/x/y re-derive from tile_id) — guide §2.3, shuffle fewer bytes
    pts = records.where(F.col("tile_id").between(lo, hi)).select(
        "tile_id", "wkb")
    # hash co-location + in-partition sort: the run grouping only needs
    # each tile contiguous WITHIN a partition, not global tile order, and
    # dropping repartitionByRange removes its range-boundary SAMPLING JOB —
    # which executed the entire upstream fan-out a second time (guide §2.4,
    # same reasoning as the archive writer's hash exchange). The partition count
    # is pinned to the session's shuffle parallelism: AQE would otherwise
    # coalesce by the SHUFFLED bytes, but this stage's output (gs^2 cells
    # per tile) is ~30x its input, so input-sized coalescing serializes
    # the grid build and its Arrow transfer on a handful of tasks.
    sess_parts = int(records.sparkSession.conf.get(
        "spark.sql.shuffle.partitions", "200"))
    shuffled = pts.repartition(sess_parts, "tile_id").sortWithinPartitions(
        "tile_id")

    def grids(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        hold: pd.DataFrame | None = None
        for pdf in batches:
            if hold is not None:
                pdf = pd.concat([hold, pdf], ignore_index=True)
                hold = None
            tids = pdf["tile_id"].to_numpy()
            cut = int(np.searchsorted(tids, tids[-1], side="left"))
            hold = pdf.iloc[cut:]
            body = pdf.iloc[:cut]
            if len(body):
                yield _grid_chunk(body, grid_size)
        if hold is not None and len(hold):
            yield _grid_chunk(hold, grid_size)

    return shuffled.mapInPandas(grids, schema=GRID_SCHEMA)


def _grid_chunk(pdf: pd.DataFrame, grid_size: int) -> pd.DataFrame:
    """Per-tile density grids for one (tile_id-contiguous) chunk.

    Fast path (round 7): when every record is a 21-byte little-endian
    POINT WKB — the dominant rasterize input — the whole chunk decodes as
    ONE numpy buffer view and all tiles' histograms come from ONE
    bincount over (tile_seq, cell) flat indices; the previous per-point
    ``G.from_wkb`` Python loop (~100k scalar decodes per chunk) and the
    per-tile ``.tolist()`` (16M+ Python ints per chunk at z6) are gone.
    Values are bit-identical: the geo->cell expressions apply the same
    IEEE ops elementwise, and bincount counts the same indices add.at
    counted. Mixed/odd geometry falls back to the per-tile loop."""
    from ..kernels.hilbert import tile_id_to_zxy_vec

    tid = pdf["tile_id"].to_numpy()
    starts = np.flatnonzero(np.concatenate(([True], tid[1:] != tid[:-1])))
    ends = np.append(starts[1:], len(tid))
    g_z, g_x, g_y = tile_id_to_zxy_vec(tid[starts])

    wkbs = pdf["wkb"].to_numpy()
    n = len(wkbs)
    gs = grid_size
    lens = np.fromiter((len(w) for w in wkbs), dtype=np.int64, count=n)
    fast = n > 0 and bool((lens == 21).all()) and bool(
        (g_z == g_z[0]).all())
    if fast:
        buf = np.frombuffer(b"".join(bytes(w) for w in wkbs),
                            dtype=np.uint8).reshape(n, 21)
        fast = bool((buf[:, 0] == 1).all()) and bool(
            (buf[:, 1] == G.POINT).all()) and bool((buf[:, 2:5] == 0).all())
    if fast:
        xy = buf[:, 5:21].reshape(-1).view("<f8").reshape(n, 2)
        lng0_t, lat0_t, lng1_t, lat1_t = T.tile_bounds(g_x, g_y, int(g_z[0]))
        counts = ends - starts
        lng0 = np.repeat(lng0_t, counts)
        lat0 = np.repeat(lat0_t, counts)
        lng1 = np.repeat(lng1_t, counts)
        lat1 = np.repeat(lat1_t, counts)
        gx = np.clip((xy[:, 0] - lng0) / (lng1 - lng0) * gs, 0, gs - 1e-9)
        gy = np.clip((1.0 - (xy[:, 1] - lat0) / (lat1 - lat0)) * gs,
                     0, gs - 1e-9)
        tile_seq = np.repeat(np.arange(len(starts), dtype=np.int64), counts)
        flat = (tile_seq * (gs * gs)
                + gy.astype(np.int64) * gs + gx.astype(np.int64))
        hist = np.bincount(flat, minlength=len(starts) * gs * gs)
        hist = hist.astype(np.int64, copy=False).reshape(len(starts), gs * gs)
        return pd.DataFrame({
            "tile_id": tid[starts],
            "z": g_z.astype(np.int32),
            "x": g_x,
            "y": g_y,
            "grid": list(hist),
            "grid_size": np.full(len(starts), gs, dtype=np.int32),
        })

    rows = {k: [] for k in ("tile_id", "z", "x", "y", "grid", "grid_size")}
    for gi, (s, e) in enumerate(zip(starts, ends)):
        z = int(g_z[gi])
        xx = int(g_x[gi])
        yy = int(g_y[gi])
        lng0, lat0, lng1, lat1 = (
            float(v[0]) for v in T.tile_bounds(np.array([xx]), np.array([yy]), z)
        )
        px, py = [], []
        for wkb in pdf["wkb"].iloc[s:e]:
            g = G.from_wkb(bytes(wkb))
            if g[0] != G.POINT:
                continue
            px.append(g[1][0])
            py.append(g[1][1])
        gx = np.clip(((np.array(px) - lng0) / (lng1 - lng0) * grid_size), 0, grid_size - 1e-9)
        gy = np.clip(((1.0 - (np.array(py) - lat0) / (lat1 - lat0)) * grid_size), 0, grid_size - 1e-9)
        hist = np.zeros((grid_size, grid_size), dtype=np.int64)
        np.add.at(hist, (gy.astype(np.int64), gx.astype(np.int64)), 1)
        rows["tile_id"].append(int(tid[s]))
        rows["z"].append(z)
        rows["x"].append(xx)
        rows["y"].append(yy)
        rows["grid"].append(hist.reshape(-1).tolist())
        rows["grid_size"].append(grid_size)
    return pd.DataFrame(rows)


def _connected_rects(mask: np.ndarray) -> list[tuple[int, int, int, int]]:
    """Greedy maximal-rectangle decomposition of a boolean grid (simple
    row-run merge): returns (x0, y0, x1, y1) cell rects covering the mask."""
    m = mask.copy()
    rects = []
    h, w = m.shape
    for yy in range(h):
        xx = 0
        while xx < w:
            if not m[yy, xx]:
                xx += 1
                continue
            x1 = xx
            while x1 + 1 < w and m[yy, x1 + 1]:
                x1 += 1
            y1 = yy
            while y1 + 1 < h and m[y1 + 1, xx : x1 + 1].all():
                y1 += 1
            m[yy : y1 + 1, xx : x1 + 1] = False
            rects.append((xx, yy, x1 + 1, y1 + 1))
            xx = x1 + 1
    return rects


def _rect_feature_msgs(rects: list[tuple[int, int, int, int]],
                       lng0: float, lat0: float, lng1: float, lat1: float,
                       gs: int, extent: int) -> list[bytes]:
    """Vectorized MVT feature messages for R axis-aligned cell rects of one
    tile — byte-identical to LayerBuilder.add_feature over the equivalent
    geographic rings (same geo->pixel quantization via round_half_away, same
    CCW command stream: MoveTo, 3x LineTo, ClosePath), but every command int
    and varint is produced with numpy over the whole rect batch at once.

    Replaces the engine's last iterrows/per-feature-scalar encode path
    (round-2 review item)."""
    from ..kernels.mvt import round_half_away, varint_array_u32

    r = np.asarray(rects, dtype=np.float64)  # (R, 4): cx0, cy0, cx1, cy1
    n = len(r)
    scale_x = (lng1 - lng0) / gs
    scale_y = (lat1 - lat0) / gs
    # cell coords (y down) -> geographic edges (y up), then the SAME
    # expression sequence geo_to_tile_px uses (rounding parity is exact:
    # identical IEEE ops in identical order)
    gx0 = lng0 + r[:, 0] * scale_x
    gx1 = lng0 + r[:, 2] * scale_x
    gy1 = lat1 - r[:, 1] * scale_y   # top edge (cy0)
    gy0 = lat1 - r[:, 3] * scale_y   # bottom edge (cy1)
    ex = extent
    px0 = round_half_away((gx0 - lng0) / (lng1 - lng0) * ex).astype(np.int64)
    px1 = round_half_away((gx1 - lng0) / (lng1 - lng0) * ex).astype(np.int64)
    pyb = round_half_away((1.0 - (gy0 - lat0) / (lat1 - lat0)) * ex).astype(np.int64)
    pyt = round_half_away((1.0 - (gy1 - lat0) / (lat1 - lat0)) * ex).astype(np.int64)

    zz = M.zigzag_encode
    cmds = np.empty((n, 11), dtype=np.uint64)
    cmds[:, 0] = M.command_encode(M.CMD_MOVE_TO, 1)
    cmds[:, 1] = zz(px0)
    cmds[:, 2] = zz(pyb)
    cmds[:, 3] = M.command_encode(M.CMD_LINE_TO, 3)
    cmds[:, 4] = zz(px1 - px0)
    cmds[:, 5] = 0
    cmds[:, 6] = 0
    cmds[:, 7] = zz(pyt - pyb)
    cmds[:, 8] = zz(px0 - px1)
    cmds[:, 9] = 0
    cmds[:, 10] = M.command_encode(M.CMD_CLOSE_PATH, 1)

    from ..kernels.mvt_fast import _varint_nb

    flat = cmds.reshape(-1)
    payload = varint_array_u32(flat)  # all geometry varints, row-major
    nb = _varint_nb(flat)
    row_len = nb.reshape(n, 11).sum(axis=1)
    offs = np.concatenate(([0], np.cumsum(row_len)))

    ids = np.arange(n, dtype=np.uint64)
    id_vb = varint_array_u32(ids)
    id_offs = np.concatenate(([0], np.cumsum(_varint_nb(ids))))

    geom_len_vb = varint_array_u32(row_len.astype(np.uint64))
    gl_offs = np.concatenate(([0], np.cumsum(_varint_nb(row_len.astype(np.uint64)))))

    pv = memoryview(payload)
    iv = memoryview(id_vb)
    gv = memoryview(geom_len_vb)
    type_geom = b"\x18\x03\x22"  # type(3)=POLYGON, geometry(4) len-delim tag
    return [
        b"\x08" + bytes(iv[id_offs[i]:id_offs[i + 1]]) + type_geom
        + bytes(gv[gl_offs[i]:gl_offs[i + 1]]) + bytes(pv[offs[i]:offs[i + 1]])
        for i in range(n)
    ]


def vectorize_density(grids: DataFrame, threshold: int = 1,
                      layer_name: str = "density", extent: int = 4096) -> DataFrame:
    """Density grids -> polygonized MVT tiles (cells >= threshold).

    Input cardinality is tiles; per tile, rect extraction walks the grid
    once and the MVT assembly is fully vectorized over the rect batch
    (``_rect_feature_msgs`` + ``mvt_fast.wrap_layer``)."""
    from ..kernels import mvt_fast

    def vectorize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        head, tail = mvt_fast.layer_head_tail(layer_name, extent)
        for pdf in batches:
            rows = {k: [] for k in ("tile_id", "z", "x", "y", "n_polygons", "mvt")}
            for rec in pdf.itertuples(index=False):
                gs = int(rec.grid_size)
                grid = np.array(rec.grid, dtype=np.int64).reshape(gs, gs)
                rects = _connected_rects(grid >= threshold)
                lng0, lat0, lng1, lat1 = (
                    float(v[0])
                    for v in T.tile_bounds(np.array([rec.x]), np.array([rec.y]),
                                           int(rec.z))
                )
                msgs = _rect_feature_msgs(rects, lng0, lat0, lng1, lat1,
                                          gs, extent) if rects else []
                rows["tile_id"].append(int(rec.tile_id))
                rows["z"].append(int(rec.z))
                rows["x"].append(int(rec.x))
                rows["y"].append(int(rec.y))
                rows["n_polygons"].append(len(rects))
                rows["mvt"].append(mvt_fast.wrap_layer(head, msgs, tail))
            yield pd.DataFrame(rows)

    return grids.mapInPandas(vectorize, schema=VECTOR_SCHEMA)

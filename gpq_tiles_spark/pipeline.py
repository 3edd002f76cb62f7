"""The tiling dataflow: features -> tile records -> MVT tiles -> PMTiles.

Spark-first formulation of the reference's 3-phase engine
(/root/reference/crates/core/src/pipeline.rs:738-1305):

    features (feature_id, wkb, bbox)
      | _premerge_records:  mapInPandas — per zoom: tiles_for_bbox ->
      |   buffered-bbox prefilter -> clip -> validate -> drop rules, then
      |   each record's framed MVT feature message in the same pass
      |   (pre-simplify ONCE at max_zoom, pipeline.rs:860-863)
      v
    records (tile_id, feature_id, msg)
      | exchange on tile_id + sortWithinPartitions(tile_id, feature_id)
      |   == reference phase 2 external merge sort (external_sort.rs:99-189);
      |   Spark's sort-based shuffle IS that operator, distributed
      v
    tiles (tile_id, z, x, y, n_features, mvt, content_hash)
      | mapInPandas over consecutive tile_id runs: concatenate the messages
      |   and wrap the layer (no second shuffle: each tile_id lives in
      |   exactly one partition)
      v
    shards: in the same mapInPandas, each reduce task compresses its
      tiles into shard_{pid}.bin with its entry rows beside it; the driver
      streams the entry files into the archive (_finalize_entry_files) —
      the one archive writer of convert and convert_sharded

Scale notes (10^12 docs):
* exactly ONE wide shuffle (tile_id) of the small message rows; everything
  else is narrow. With ``salted=True``, a tile with more than
  ``hot_tile_threshold`` feature centers is split into ``salt_buckets``
  feature_id ranges: an exchange on (tile_id, salt) concatenates each
  bucket's messages, and the tile_id exchange after it joins a tile's
  bucket bodies in salt order, which is feature_id order.
* the fully-inside fast path (clip.rs:196-203) is fully vectorized: features
  whose bbox sits inside the buffered tile reuse one WKB + one drop-hash per
  feature across every tile they land in; only boundary-crossing pairs take
  the per-pair clip kernel.
"""

from __future__ import annotations

import os
import threading
from contextlib import contextmanager, nullcontext
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.accumulators import AccumulatorParam
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from dataclasses import dataclass, field as dc_field
from typing import Callable

from .config import TilerConfig
from .kernels import clip as CK
from .kernels import drop as DK
from .kernels import geom as G
from .kernels import gridclip as GC
from .kernels import hilbert as H
from .kernels import mvt as M
from .kernels import mvt_fast
from .kernels import simplify as SK
from .kernels import tile_math as T
from .kernels import validate as VK
from .kernels import hashes as HK
from .kernels.hashes import content_hash64, siphash13_coords
from .operators.properties import filter_field_metadata
from .partitioning import spread_small_input

# fan-out rows (``fanout_records``): (z, x, y) are derivable from tile_id
# (the cumulative Hilbert id is self-describing), so no record carries them
RECORDS_SCHEMA = StructType(
    [
        StructField("tile_id", LongType(), False),
        StructField("feature_id", LongType(), False),
        StructField("wkb", BinaryType(), False),
    ]
)

TILES_SCHEMA = StructType(
    [
        StructField("tile_id", LongType(), False),
        StructField("z", IntegerType(), False),
        StructField("x", LongType(), False),
        StructField("y", LongType(), False),
        StructField("n_features", LongType(), False),
        StructField("mvt", BinaryType(), False),
        StructField("content_hash", LongType(), False),
    ]
)


# ---------------------------------------------------------------------------
# Progress events + accumulator metrics (pipeline.rs:41-77 analog)
# ---------------------------------------------------------------------------

@dataclass
class ProgressEvent:
    """Phase lifecycle event delivered to the ``convert(progress=...)``
    callback: kind is 'start' | 'progress' | 'complete'."""
    phase: str
    kind: str
    info: dict = dc_field(default_factory=dict)


WORLD_BOUNDS = (-180.0, -85.0511287798066, 180.0, 85.0511287798066)

# (lng_min, lat_min, lng_max, lat_max) before any feature is seen
_NO_BOUNDS = (np.inf, np.inf, -np.inf, -np.inf)


class _BoundsParam(AccumulatorParam):
    """Element-wise min/max of (lng_min, lat_min, lng_max, lat_max)
    tuples. Min and max are idempotent, so a retried or speculative task
    adding its batches twice leaves the value unchanged."""

    def zero(self, value):
        return _NO_BOUNDS

    def addInPlace(self, value1, value2):
        return (min(value1[0], value2[0]), min(value1[1], value2[1]),
                max(value1[2], value2[2]), max(value1[3], value2[3]))


def _batch_bounds(gx0, gy0, gx1, gy1) -> tuple[float, float, float, float]:
    """One batch's bbox extremes. NaN (a null bbox arrives as NaN) is
    skipped, as Spark's ``min``/``max`` skip null."""
    return (float(np.fmin.reduce(gx0, initial=np.inf)),
            float(np.fmin.reduce(gy0, initial=np.inf)),
            float(np.fmax.reduce(gx1, initial=-np.inf)),
            float(np.fmax.reduce(gy1, initial=-np.inf)))


@dataclass
class PipelineMetrics:
    """Accumulator-backed per-stage row counters, filled by the executors
    while the job runs (A6; the reference's MemoryTracker/progress analog,
    memory.rs:78-195). Read on the driver any time — including DURING the
    tile stream — for live rows-in/out.

    ``bounds`` collects the input's feature bbox extremes as the fan-out
    reads each batch, so a sink learns the archive bounds from its main
    job instead of a scan of its own (``feature_bounds``)."""
    features_in: object = None
    records_out: object = None
    tiles_out: object = None
    # per-tile byte-budget thinning (config.max_tile_bytes): how many tiles
    # were capped and how many records the cap dropped
    tiles_capped: object = None
    records_capped: object = None
    bounds: object = None

    @classmethod
    def create(cls, spark) -> "PipelineMetrics":
        sc = spark.sparkContext
        return cls(sc.accumulator(0), sc.accumulator(0), sc.accumulator(0),
                   sc.accumulator(0), sc.accumulator(0),
                   sc.accumulator(_NO_BOUNDS, _BoundsParam()))

    def feature_bounds(self) -> tuple[float, float, float, float]:
        """The fan-out's (lng_min, lat_min, lng_max, lat_max) over every
        feature it read, or ``WORLD_BOUNDS`` when no feature had a bbox.
        Complete once the job that ran the fan-out has finished."""
        b = self.bounds.value
        return WORLD_BOUNDS if b[0] == np.inf else b

    def as_dict(self) -> dict[str, int]:
        return {
            "features_in": int(self.features_in.value),
            "records_out": int(self.records_out.value),
            "tiles_out": int(self.tiles_out.value),
            "tiles_capped": int(self.tiles_capped.value),
            "records_capped": int(self.records_capped.value),
        }


def _count_tiles(metrics: PipelineMetrics | None, n_tiles: int,
                 cap_stats: list) -> None:
    """Reduce-side accumulator update for one encoded chunk: tiles out,
    plus the tiles and records the byte budget capped (``cap_stats``)."""
    if metrics is None:
        return
    metrics.tiles_out.add(n_tiles)
    if cap_stats[0]:
        metrics.tiles_capped.add(cap_stats[0])
        metrics.records_capped.add(cap_stats[1])


# ---------------------------------------------------------------------------
# Phase 1: fan-out
# ---------------------------------------------------------------------------

def _prep_from_simplified(simplified):
    """Cache construction from an already max-zoom-simplified geometry:
    validate, re-encode, drop-rule precomputations.

    Returns (cache, hash_requests); each request is a (cache_key,
    part_index_or_None, word_array) triple that ``_prep_batch`` fills in
    one lockstep SipHash pass across the batch's features.
    """
    validated = VK.filter_valid_geometry(simplified)
    cache = {"geom": simplified, "valid": validated}
    reqs: list[tuple[str, int | None, np.ndarray]] = []
    if validated is None:
        return cache, reqs  # boundary clips could still produce valid parts?
        # no: clip only removes area; invalid pre-clip stays invalid.
    t = validated[0]
    cache["wkb"] = G.to_wkb(validated)
    cache["gtype"] = t
    if t == G.POLYGON:
        cache["area_deg"] = G.polygon_unsigned_area(validated[1])
        reqs.append(("hash", None, HK.coords_words(validated[1])))
    elif t == G.MULTIPOLYGON:
        cache["part_areas"] = np.array(
            [abs(G.ring_signed_area2(r[0]) / 2.0)
             - sum(abs(G.ring_signed_area2(h) / 2.0) for h in r[1:])
             for r in validated[1]]
        )
        cache["part_areas"] = np.abs(cache["part_areas"])
        cache["part_hashes"] = np.zeros(len(validated[1]), dtype=np.uint64)
        for pi, r in enumerate(validated[1]):
            reqs.append(("part_hashes", pi, HK.coords_words(r)))
    elif t == G.MULTILINESTRING:
        cache["part_bboxes"] = np.array(
            [[p[:, 0].min(), p[:, 1].min(), p[:, 0].max(), p[:, 1].max()]
             for p in validated[1]]
        )
    return cache, reqs


def _prep_batch(wkbs, rows: np.ndarray, caches: list, max_zoom: int,
                extent: int, simplification: str) -> None:
    """Prep MANY features: scalar decode/validate per feature, ONE segmented
    RDP call over every ring of every feature (simplify_many), then ONE
    lockstep SipHash pass across every geometry-hash message."""
    todo = [int(r) for r in rows if caches[int(r)] is None]
    if not todo:
        return
    geoms = [G.from_wkb(wkbs[r]) for r in todo]
    simplified = SK.simplify_many(geoms, max_zoom, extent, simplification)
    reqs: list[tuple[int, str, int | None, np.ndarray]] = []
    for r, simp in zip(todo, simplified):
        cache, rq = _prep_from_simplified(simp)
        caches[r] = cache
        for key, pi, w in rq:
            reqs.append((r, key, pi, w))
    if reqs:
        hs = HK.siphash13_words_many([w for _, _, _, w in reqs])
        for (r, key, pi, _), h in zip(reqs, hs):
            if pi is None:
                caches[r][key] = int(h)
            else:
                caches[r][key][pi] = h


def _finish_clip(clipped, z: int, max_zoom: int, extent: int,
                 lng0: float, lat0: float, lng1: float, lat1: float,
                 fid: int) -> bytes | None:
    """validate -> drop -> wkb tail shared by all clip paths."""
    validated = VK.filter_valid_geometry(clipped)
    if validated is None:
        return None
    if DK.should_drop_geometry(validated, z, max_zoom, extent,
                               lng0, lat0, lng1, lat1, fid):
        return None
    return G.to_wkb(validated)


def _finish_poly_batch(clips: list, lng0s, lat0s, lng1s, lat1s,
                       z: int, max_zoom: int, extent: int,
                       fid: int) -> list:
    """validate -> drop -> wkb for a BATCH of polygon clips (many
    (feature, tile) pairs — ring ownership is carried per clip, so one
    call can serve every feature at a zoom) with segmented numpy math —
    the batched twin of ``_finish_clip`` for POLYGON/MULTIPOLYGON clip
    outputs. ``fid`` is accepted for signature parity but unused: the
    diffuse-drop hash is coords-only (feature_drop.rs:129-293).

    Validity (validate.rs:195-275 semantics): every ring >= 4 points, part
    unsigned area >= 1e-10, multi downgraded to single when one part
    survives. Drop (feature_drop.rs:129-293): per-part transform-then-
    shoelace px^2 area — the same elementwise formula as
    ``polygon_area_tile_px``, summed per ring with one bincount — with the
    SipHash diffuse rule evaluated scalar only for the rare sub-threshold
    parts. Returns list[bytes|None] aligned with ``clips``.
    """
    n_tiles = len(clips)
    out: list = [None] * n_tiles

    ring_arrays: list[np.ndarray] = []
    ring_part: list[int] = []
    part_tile: list[int] = []
    part_rings: list[list[np.ndarray]] = []
    for i, gcl in enumerate(clips):
        if gcl is None:
            continue
        parts = [gcl[1]] if gcl[0] == G.POLYGON else gcl[1]
        for rings in parts:
            pi = len(part_tile)
            part_tile.append(i)
            part_rings.append(rings)
            for ring in rings:
                ring_arrays.append(ring)
                ring_part.append(pi)
    n_parts = len(part_tile)
    if n_parts == 0:
        return out

    sizes = np.array([len(r) for r in ring_arrays], dtype=np.int64)
    pts = np.concatenate([r.reshape(-1, 2) for r in ring_arrays], axis=0)
    m = len(pts)
    offs = np.zeros(len(sizes) + 1, dtype=np.int64)
    np.cumsum(sizes, out=offs[1:])
    ring_of_v = np.repeat(np.arange(len(sizes), dtype=np.int64), sizes)
    nxt = np.arange(1, m + 1, dtype=np.int64)
    ne = sizes > 0
    nxt[offs[1:][ne] - 1] = offs[:-1][ne]
    part_of_ring = np.asarray(ring_part, dtype=np.int64)
    tile_of_part = np.asarray(part_tile, dtype=np.int64)
    part_of_v = part_of_ring[ring_of_v]
    tile_of_v = tile_of_part[part_of_v]

    # ---- validate: ring length >= 4 for ALL rings of a part; degree area
    ring_ok = sizes >= 4
    part_nrings = np.bincount(part_of_ring, minlength=n_parts)
    part_rings_ok = (
        np.bincount(part_of_ring, weights=ring_ok, minlength=n_parts)
        == part_nrings
    )
    x = pts[:, 0]
    y = pts[:, 1]
    cross_deg = x * y[nxt] - x[nxt] * y
    ring_a2_deg = np.bincount(ring_of_v, weights=cross_deg, minlength=len(sizes))
    part_area_deg = np.abs(
        np.bincount(part_of_ring, weights=ring_a2_deg / 2.0, minlength=n_parts)
    )
    part_valid = part_rings_ok & (part_area_deg >= VK.MIN_POLYGON_AREA)

    # ---- drop: px^2 area with the per-tile window transform
    lng0v = np.asarray(lng0s, dtype=np.float64)[tile_of_v]
    lat0v = np.asarray(lat0s, dtype=np.float64)[tile_of_v]
    wv = np.asarray(lng1s, dtype=np.float64)[tile_of_v] - lng0v
    hv = np.asarray(lat1s, dtype=np.float64)[tile_of_v] - lat0v
    tx = (x - lng0v) / wv * extent
    ty = (1.0 - (y - lat0v) / hv) * extent
    cross_px = tx * ty[nxt] - tx[nxt] * ty
    ring_a2_px = np.bincount(ring_of_v, weights=cross_px, minlength=len(sizes))
    part_area_px = np.abs(
        np.bincount(part_of_ring, weights=ring_a2_px / 2.0, minlength=n_parts)
    )
    drop_part = np.zeros(n_parts, dtype=bool)
    drop_part[part_area_px <= 0.0] = True
    marginal = np.flatnonzero(
        part_valid & (part_area_px > 0.0) & (part_area_px < DK.TINY_POLYGON_THRESHOLD)
    )
    for pi in marginal:
        h = siphash13_coords(part_rings[pi])
        drop_part[pi] = (h / float(2**64 - 1)) >= (
            part_area_px[pi] / DK.TINY_POLYGON_THRESHOLD
        )

    # ---- per-tile assembly: tile survives iff ANY valid part survives;
    # a surviving tile keeps ALL its valid parts (drop is per-GEOMETRY:
    # multipolygon drops iff all parts drop, pipeline.rs:104-131).
    # parts were appended tile-ordered, so slice by searchsorted bounds.
    tidx = np.arange(n_tiles, dtype=np.int64)
    p_start = np.searchsorted(tile_of_part, tidx)
    p_end = np.searchsorted(tile_of_part, tidx, side="right")
    for i in range(n_tiles):
        s, e = p_start[i], p_end[i]
        if s == e:
            continue
        pidx = s + np.flatnonzero(part_valid[s:e])
        if len(pidx) == 0:
            continue
        if drop_part[pidx].all():
            continue
        if len(pidx) == 1:
            out[i] = G.to_wkb((G.POLYGON, part_rings[int(pidx[0])]))
        else:
            out[i] = G.to_wkb((G.MULTIPOLYGON, [part_rings[int(p)] for p in pidx]))
    return out


def _grid_boundary_wkbs(strips_per_col: list, gtype: int,
                        col_starts: np.ndarray, col_ends: np.ndarray,
                        t0: np.ndarray, t1: np.ndarray,
                        a0: np.ndarray, a1: np.ndarray,
                        buf_arr: np.ndarray,
                        extent: int,
                        max_batch_pts: int = 4_000_000) -> list:
    """Chunking wrapper: bounds the (tile x ring) replication buffer of
    ``_grid_boundary_wkbs_chunk`` so a monster feature at deep zoom (100k+
    boundary tiles x long strips) cannot blow executor memory — columns are
    processed in groups whose replicated vertex count stays under
    ``max_batch_pts``."""
    n_cols = len(col_starts)
    if n_cols == 0:
        return []
    strip_cost = np.array(
        [sum(len(r) for part in strips for r in part) for strips in strips_per_col],
        dtype=np.int64,
    )
    repl = strip_cost * (col_ends - col_starts)
    if int(repl.sum()) <= max_batch_pts:
        return _grid_boundary_wkbs_chunk(
            strips_per_col, gtype, col_starts, col_ends, t0, t1, a0, a1,
            buf_arr, extent)
    out: list = [None] * int(col_ends[-1] - col_starts[0])
    base0 = int(col_starts[0])
    i = 0
    while i < n_cols:
        j = i + 1
        acc = int(repl[i])
        while j < n_cols and acc + int(repl[j]) <= max_batch_pts:
            acc += int(repl[j])
            j += 1
        ws = _grid_boundary_wkbs_chunk(
            strips_per_col[i:j], gtype, col_starts[i:j], col_ends[i:j],
            t0, t1, a0, a1, buf_arr, extent)
        off = int(col_starts[i]) - base0
        for k, w in enumerate(ws):
            if w is not None:
                out[off + k] = w
        i = j
    return out


def _grid_boundary_wkbs_chunk(strips_per_col: list, gtype: int,
                              col_starts: np.ndarray, col_ends: np.ndarray,
                              t0: np.ndarray, t1: np.ndarray,
                              a0: np.ndarray, a1: np.ndarray,
                              buf_arr: np.ndarray,
                              extent: int) -> list:
    """Fused boundary-tile finisher for the grid regime: B/T clip + re-close
    + validate + tiny-polygon drop + WKB for EVERY boundary tile of a
    (feature, zoom, x-range) in ONE set of segmented numpy passes.

    Semantics per tile are identical to polygon_strip_tile_clip ->
    filter_valid_geometry -> should_drop_geometry -> to_wkb; fusing them
    avoids the per-column / per-tile numpy-call overhead that dominated the
    profile (the clip output's ring structure is reused directly for the
    validate/drop reductions instead of round-tripping through Geom tuples).
    Returns list[bytes|None] aligned with the (column-major) tile order.
    """
    from .kernels.validate import MIN_POLYGON_AREA

    # local tile indexing relative to the first column's first tile, so the
    # chunking wrapper can offset results
    base = int(col_starts[0]) if len(col_starts) else 0
    n_tiles_total = (int(col_ends[-1]) - base) if len(col_ends) else 0
    out: list = [None] * n_tiles_total

    # ---- base ring structure per column
    base_rings: list[np.ndarray] = []
    base_ext: list[bool] = []
    col_ring_span: list[tuple[int, int, int, int]] = []  # (rb_s, rb_e, vb_s, vb_e)
    vtot = 0
    for strips in strips_per_col:
        rb_s = len(base_rings)
        vb_s = vtot
        for part in strips:
            for ri, ring in enumerate(part):
                base_rings.append(ring)
                base_ext.append(ri == 0)
                vtot += len(ring)
        col_ring_span.append((rb_s, len(base_rings), vb_s, vtot))
    if not base_rings:
        return out
    base_pts = np.concatenate([r.reshape(-1, 2) for r in base_rings], axis=0)
    base_sizes = np.array([len(r) for r in base_rings], dtype=np.int64)
    base_ext_a = np.array(base_ext, dtype=bool)

    # ---- replicate each column's rings once per tile of that column
    gather_chunks = []
    size_chunks = []
    ext_chunks = []
    tile_chunks = []
    for ci, (cs, ce) in enumerate(zip(col_starts, col_ends)):
        rb_s, rb_e, vb_s, vb_e = col_ring_span[ci]
        ct = int(ce - cs)
        if ct == 0 or rb_e == rb_s:
            continue
        gather_chunks.append(np.tile(np.arange(vb_s, vb_e, dtype=np.int64), ct))
        size_chunks.append(np.tile(base_sizes[rb_s:rb_e], ct))
        ext_chunks.append(np.tile(base_ext_a[rb_s:rb_e], ct))
        tile_chunks.append(
            np.repeat(np.arange(cs - base, ce - base, dtype=np.int64), rb_e - rb_s))
    pts = base_pts[np.concatenate(gather_chunks)]
    sizes = np.concatenate(size_chunks)
    is_ext = np.concatenate(ext_chunks)
    tile_of_ring = np.concatenate(tile_chunks)
    n_rings = len(sizes)
    offs = np.zeros(n_rings + 1, dtype=np.int64)
    np.cumsum(sizes, out=offs[1:])

    # ---- segmented B/T clip + close, bands per tile (buffered)
    b_lo = (a0 - buf_arr)[tile_of_ring + base]
    b_hi = (a1 + buf_arr)[tile_of_ring + base]
    p1, o1 = CK.clip_edge_segmented(pts, offs, 1, b_lo, True)
    p2, o2 = CK.clip_edge_segmented(p1, o1, 1, b_hi, False)
    p3, o3 = CK.close_rings_segmented(p2, o2)
    n3 = np.diff(o3)

    # ---- clip keep rules + part structure
    ring_kept = n3 >= 3                       # polygon_strip_tile_clip filter
    part_of_ring = np.cumsum(is_ext) - 1      # exterior starts a new part
    n_parts = int(part_of_ring[-1]) + 1
    part_ext_kept = np.zeros(n_parts, dtype=bool)
    part_ext_kept[part_of_ring[is_ext]] = ring_kept[is_ext]
    # ring is in the clip OUTPUT iff kept AND its part's exterior was kept
    ring_in_out = ring_kept & part_ext_kept[part_of_ring]

    # ---- validate: every output ring needs >= 4 pts (closed), and the
    # part's unsigned degree-area >= MIN_POLYGON_AREA (validate.rs:195-275)
    small_out_ring = ring_in_out & (n3 < 4)
    part_has_small = np.zeros(n_parts, dtype=bool)
    part_has_small[part_of_ring[small_out_ring]] = True

    m3 = len(p3)
    ring_of_v = np.repeat(np.arange(n_rings, dtype=np.int64), n3)
    nxt = np.arange(1, m3 + 1, dtype=np.int64)
    ne3 = n3 > 0
    nxt[o3[1:][ne3] - 1] = o3[:-1][ne3]
    vx = p3[:, 0]
    vy = p3[:, 1]
    cross_deg = vx * vy[nxt] - vx[nxt] * vy
    w_mask = ring_in_out[ring_of_v]
    ring_a2_deg = np.bincount(
        ring_of_v, weights=np.where(w_mask, cross_deg, 0.0), minlength=n_rings)
    part_area_deg = np.abs(np.bincount(
        part_of_ring, weights=ring_a2_deg / 2.0, minlength=n_parts))
    part_valid = (
        part_ext_kept & ~part_has_small & (part_area_deg >= MIN_POLYGON_AREA)
    )

    # ---- tiny-polygon drop (feature_drop.rs:129-293): px^2 area via the
    # same per-vertex transform, SipHash only for the rare marginal parts
    tile_of_v = tile_of_ring[ring_of_v] + base
    lng0v = t0[tile_of_v]
    wv = t1[tile_of_v] - lng0v
    lat0v = a0[tile_of_v]
    hv = a1[tile_of_v] - lat0v
    tx = (vx - lng0v) / wv * extent
    ty = (1.0 - (vy - lat0v) / hv) * extent
    cross_px = tx * ty[nxt] - tx[nxt] * ty
    ring_a2_px = np.bincount(
        ring_of_v, weights=np.where(w_mask, cross_px, 0.0), minlength=n_rings)
    part_area_px = np.abs(np.bincount(
        part_of_ring, weights=ring_a2_px / 2.0, minlength=n_parts))
    drop_part = part_area_px <= 0.0
    marginal = np.flatnonzero(
        part_valid & (part_area_px > 0.0)
        & (part_area_px < DK.TINY_POLYGON_THRESHOLD))
    if len(marginal):
        from .kernels.hashes import siphash13_coords as _sip

        ring_rows = {}
        for pi in marginal:
            ring_rows[pi] = []
        rp = part_of_ring
        for k in np.flatnonzero(np.isin(rp, marginal) & ring_in_out):
            ring_rows[int(rp[k])].append(p3[o3[k]:o3[k + 1]])
        for pi in marginal:
            h = _sip(ring_rows[int(pi)])
            drop_part[pi] = (h / float(2**64 - 1)) >= (
                part_area_px[pi] / DK.TINY_POLYGON_THRESHOLD)

    # ---- per-tile assembly: valid parts; survive iff not all dropped;
    # downgrade to POLYGON when exactly one valid part
    live_parts = np.flatnonzero(part_valid)
    if len(live_parts) == 0:
        return out
    part_tile = np.zeros(n_parts, dtype=np.int64)
    part_tile[part_of_ring] = tile_of_ring  # any ring of the part
    # rings are part-contiguous: first/last ring index per part
    first_ring = np.full(n_parts, -1, dtype=np.int64)
    for_arr = np.arange(n_rings, dtype=np.int64)
    first_ring[part_of_ring[::-1]] = for_arr[::-1]
    last_ring = np.zeros(n_parts, dtype=np.int64)
    last_ring[part_of_ring] = for_arr

    # group live parts per tile (parts are tile-ordered)
    lp_tiles = part_tile[live_parts]
    boundaries = np.flatnonzero(
        np.concatenate(([True], lp_tiles[1:] != lp_tiles[:-1])))
    ends = np.append(boundaries[1:], len(live_parts))
    for s, e in zip(boundaries, ends):
        ti = int(lp_tiles[s])
        parts_here = live_parts[s:e]
        if drop_part[parts_here].all():
            continue
        polys = []
        for pi in parts_here:
            rr = []
            for k in range(int(first_ring[pi]), int(last_ring[pi]) + 1):
                if ring_in_out[k]:
                    rr.append(p3[o3[k]:o3[k + 1]])
            polys.append(rr)
        if gtype == G.POLYGON or len(polys) == 1:
            out[ti] = G.to_wkb((G.POLYGON, polys[0]))
        else:
            out[ti] = G.to_wkb((G.MULTIPOLYGON, polys))
    return out


def _clip_pair(cache: dict, z: int, max_zoom: int, extent: int,
               lng0: float, lat0: float, lng1: float, lat1: float,
               buffer_px: float, fid: int) -> bytes | None:
    """Per-(feature, tile) boundary path: clip -> validate -> drop -> wkb.

    Exactly the reference's sequential inner loop (pipeline.rs:983-1050)."""
    buf_deg = (lng1 - lng0) * buffer_px / extent
    clipped = CK.clip_geometry(cache["geom"], lng0, lat0, lng1, lat1, buf_deg)
    if clipped is None:
        return None
    return _finish_clip(clipped, z, max_zoom, extent, lng0, lat0, lng1, lat1, fid)


# the feature columns the fan-out reads
FANOUT_COLS = ("feature_id", "wkb", "geom_type", "lng_min", "lat_min",
               "lng_max", "lat_max")

# The map side's working-set budget (WKB bytes plus 24 B per row): the
# fan-out reads each input batch in row slices of at most this size,
# pending fan-out records drain into a frame once they reach it, and the
# message encoder takes any larger frame in row slices of at most this
# size. The encode's numpy temporaries run ~5x its input, so the budget
# sets most of a task's peak; it is a target, not a cap: the fan-out
# drains only between grid ranges and zooms, so one grid feature's range
# or one zoom of a slice can exceed it (the encoder still slices that
# frame). 4 MiB from the sweep in BENCH.md.
FANOUT_BUDGET_BYTES = 4 << 20


def make_fanout(config: TilerConfig, metrics: PipelineMetrics | None = None):
    """Build the mapInPandas fan-out function (closure over config).

    Three per-(feature, zoom) regimes:
    * points: fully vectorized (thinning hash only);
    * small features (candidate tiles <= GRID_THRESHOLD): vectorized tile
      explode + bbox prefilter + fully-inside fast path, per-pair clip only
      for boundary crossings;
    * large features: grid classification (kernels/gridclip.py) — interior
      tiles emit the canonical buffered rect without clipping, exterior
      tiles emit nothing, only the O(perimeter) boundary tiles clip. This is
      the reference's geometry-centric ADR-001 economics taken one level
      further (its ≥1000-tile nested-parallel case, pipeline.rs:871-875).

    Output frames are (tile_id, feature_id, wkb) in no particular order.
    Each input batch is walked in row slices of at most
    ``FANOUT_BUDGET_BYTES`` (``_budget_row_slices``), so the per-feature
    caches and per-zoom clip arrays cover one slice, not a whole batch.
    Pending records drain into a frame once they pass the budget, checked
    after each grid feature's range and after each zoom, so a frame
    exceeds the budget by at most one such emission.
    """
    min_zoom, max_zoom = config.min_zoom, config.max_zoom
    extent, buffer_px = config.extent, config.buffer_pixels
    simplification = config.simplification
    acc_in = metrics.features_in if metrics else None
    acc_out = metrics.records_out if metrics else None
    acc_bounds = metrics.bounds if metrics else None

    def fanout(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in _budget_row_slices(batches):
            n = len(pdf)
            if acc_in is not None:
                acc_in.add(n)
            fid = pdf["feature_id"].to_numpy(dtype=np.int64)
            gx0 = pdf["lng_min"].to_numpy(dtype=np.float64)
            gy0 = pdf["lat_min"].to_numpy(dtype=np.float64)
            gx1 = pdf["lng_max"].to_numpy(dtype=np.float64)
            gy1 = pdf["lat_max"].to_numpy(dtype=np.float64)
            gtype = pdf["geom_type"].to_numpy(dtype=np.int64)
            wkbs = pdf["wkb"].to_numpy()
            if acc_bounds is not None:
                acc_bounds.add(_batch_bounds(gx0, gy0, gx1, gy1))

            caches: list[dict | None] = [None] * n  # _prep_batch fills non-points
            is_point = gtype == G.POINT
            grid_capable = np.isin(
                gtype, (G.LINESTRING, G.POLYGON, G.MULTILINESTRING, G.MULTIPOLYGON)
            )

            out_tid: list[np.ndarray] = []
            out_fid: list[np.ndarray] = []
            out_wkb: list[list] = []
            pend_bytes = 0

            def emit(z: int, xs_e, ys_e, fids_e, wkbs_e) -> None:
                nonlocal pend_bytes
                if len(xs_e) == 0:
                    return
                xs_a = np.asarray(xs_e, dtype=np.int64)
                ys_a = np.asarray(ys_e, dtype=np.int64)
                out_tid.append(H.tile_id(z, xs_a, ys_a).astype(np.int64))
                out_fid.append(np.asarray(fids_e, dtype=np.int64))
                wl = list(wkbs_e)
                out_wkb.append(wl)
                pend_bytes += sum(len(w) for w in wl) + 24 * len(wl)

            def drain() -> pd.DataFrame:
                nonlocal pend_bytes
                tid_all = np.concatenate(out_tid)
                if acc_out is not None:
                    acc_out.add(len(tid_all))
                frame = pd.DataFrame({
                    "tile_id": tid_all,
                    "feature_id": np.concatenate(out_fid),
                    "wkb": [w for chunk in out_wkb for w in chunk],
                })
                out_tid.clear()
                out_fid.clear()
                out_wkb.clear()
                pend_bytes = 0
                return frame

            # batch prep: every non-point feature appears at min_zoom, so
            # prepping upfront does no extra work — and lets the geometry
            # hashes run as ONE lockstep SipHash pass over the whole batch
            _prep_batch(wkbs, np.nonzero(~is_point)[0], caches,
                        max_zoom, extent, simplification)

            for z in range(min_zoom, max_zoom + 1):
                x0a, x1a, x0b, x1b, y0, y1 = T.tile_ranges_for_bbox(gx0, gy0, gx1, gy1, z)
                span_a = np.maximum(x1a - x0a + 1, 0)
                span_b = np.maximum(x1b - x0b + 1, 0)
                counts = (span_a + span_b) * np.maximum(y1 - y0 + 1, 0)
                use_grid = grid_capable & (counts > GC.GRID_THRESHOLD)

                # ---------- grid regime (large features) ----------
                for r in np.nonzero(use_grid)[0]:
                    c = caches[r]
                    ranges_x = [(int(x0a[r]), int(x1a[r]))]
                    if x0b[r] <= x1b[r]:
                        ranges_x.append((int(x0b[r]), int(x1b[r])))
                    gyy0, gyy1 = int(y0[r]), int(y1[r])
                    poly_like = c["geom"][0] in (G.POLYGON, G.MULTIPOLYGON)
                    for rx0, rx1 in ranges_x:
                        if poly_like:
                            boundary, interior = GC.classify_polygon_grid(
                                c["geom"], z, rx0, rx1, gyy0, gyy1, buffer_px, extent
                            )
                        else:
                            boundary = GC.mark_boundary(
                                GC.edge_bboxes(c["geom"]), z, rx0, rx1, gyy0, gyy1,
                                buffer_px, extent,
                            )
                            interior = None
                        by, bx = np.nonzero(boundary)
                        k_x, k_y, k_w = [], [], []
                        if len(bx) and poly_like:
                            # column-strip clipping: L,R once per column,
                            # B,T per tile — byte-identical to full SH
                            order = np.lexsort((by, bx))
                            bx, by = bx[order], by[order]
                            t0, a0, t1, a1 = T.tile_bounds(
                                (rx0 + bx).astype(np.float64),
                                (gyy0 + by).astype(np.float64), z)
                            buf_arr = (t1 - t0) * buffer_px / extent
                            col_starts = np.flatnonzero(
                                np.concatenate(([True], bx[1:] != bx[:-1])))
                            col_ends = np.append(col_starts[1:], len(bx))
                            gt = c["geom"][0]
                            # segmented L/R pass: ALL columns at once
                            strips_per_col = CK.polygon_columns_strips_batch(
                                c["geom"],
                                t0[col_starts] - buf_arr[col_starts],
                                t1[col_starts] + buf_arr[col_starts])
                            # fused B/T clip + validate + drop + wkb for
                            # EVERY boundary tile of this (feature, zoom,
                            # range) in one set of segmented passes
                            ws = _grid_boundary_wkbs(
                                strips_per_col, gt, col_starts, col_ends,
                                t0, t1, a0, a1, buf_arr, extent)
                            for j, w in enumerate(ws):
                                if w is not None:
                                    k_x.append(rx0 + bx[j])
                                    k_y.append(gyy0 + by[j])
                                    k_w.append(w)
                        elif len(bx):
                            t0, a0, t1, a1 = T.tile_bounds(
                                (rx0 + bx).astype(np.float64),
                                (gyy0 + by).astype(np.float64), z)
                            bufs = (t1 - t0) * buffer_px / extent
                            # batched Liang-Barsky over all boundary tiles
                            clips = CK.lines_tiles_clip_batch(
                                c["geom"], t0 - bufs, a0 - bufs,
                                t1 + bufs, a1 + bufs)
                            for j, clipped in enumerate(clips):
                                if clipped is None:
                                    continue
                                w = _finish_clip(clipped, z, max_zoom, extent,
                                                 float(t0[j]), float(a0[j]),
                                                 float(t1[j]), float(a1[j]),
                                                 int(fid[r]))
                                if w is not None:
                                    k_x.append(rx0 + bx[j])
                                    k_y.append(gyy0 + by[j])
                                    k_w.append(w)
                        if interior is not None and interior.any():
                            iy, ix = np.nonzero(interior)
                            # canonical interior rect: marked with an EMPTY
                            # wkb — the encoder reconstructs the buffered
                            # tile rect locally (same bytes), so the shuffle
                            # never carries the 93-byte rect per record
                            k_x.extend((rx0 + ix).tolist())
                            k_y.extend((gyy0 + iy).tolist())
                            k_w.extend([b""] * len(ix))
                        emit(z, k_x, k_y, [fid[r]] * len(k_x), k_w)
                        if pend_bytes >= FANOUT_BUDGET_BYTES:
                            yield drain()

                # ---------- small regime: vectorized explode ----------
                small = np.nonzero(~use_grid)[0]
                if len(small) == 0:
                    continue
                ridx, xs, ys = T.explode_tile_ranges(
                    np.concatenate([x0a[small], x0b[small]]),
                    np.concatenate([x1a[small], x1b[small]]),
                    np.concatenate([y0[small], y0[small]]),
                    np.concatenate([y1[small], y1[small]]),
                )
                if len(ridx) == 0:
                    continue
                ridx = small[ridx % len(small)]

                t_lng0, t_lat0, t_lng1, t_lat1 = T.tile_bounds(xs, ys, z)
                buf = (t_lng1 - t_lng0) * buffer_px / extent
                b_lng0, b_lat0 = t_lng0 - buf, t_lat0 - buf
                b_lng1, b_lat1 = t_lng1 + buf, t_lat1 + buf

                # bbox-vs-buffered-tile prefilter (pipeline.rs:894-906)
                inter = (
                    (gx1[ridx] >= b_lng0)
                    & (gx0[ridx] <= b_lng1)
                    & (gy1[ridx] >= b_lat0)
                    & (gy0[ridx] <= b_lat1)
                )
                if not inter.any():
                    continue
                ridx, xs, ys = ridx[inter], xs[inter], ys[inter]
                t_lng0, t_lat0 = t_lng0[inter], t_lat0[inter]
                t_lng1, t_lat1 = t_lng1[inter], t_lat1[inter]
                b_lng0, b_lat0 = b_lng0[inter], b_lat0[inter]
                b_lng1, b_lat1 = b_lng1[inter], b_lat1[inter]

                # vectorized point path
                pmask = is_point[ridx]
                if pmask.any():
                    pr = ridx[pmask]
                    keep = ~DK.should_drop_points(fid[pr].astype(np.uint64), z, max_zoom)
                    if keep.any():
                        sel = np.nonzero(pmask)[0][keep]
                        kr = ridx[sel]
                        emit(z, xs[sel], ys[sel], fid[kr], [wkbs[r] for r in kr])

                # non-point small path
                gmask = ~pmask
                if not gmask.any():
                    continue
                gsel = np.nonzero(gmask)[0]
                fully_inside = (
                    (gx0[ridx[gsel]] >= b_lng0[gsel])
                    & (gx1[ridx[gsel]] <= b_lng1[gsel])
                    & (gy0[ridx[gsel]] >= b_lat0[gsel])
                    & (gy1[ridx[gsel]] <= b_lat1[gsel])
                )

                keep_pos: list[int] = []
                keep_wkb: list[bytes] = []
                poly_batch: dict[int, list[int]] = {}
                line_batch: dict[int, list[int]] = {}
                for pos, fin in zip(gsel, fully_inside):
                    r = int(ridx[pos])
                    c = caches[r]
                    tb = (
                        float(t_lng0[pos]), float(t_lat0[pos]),
                        float(t_lng1[pos]), float(t_lat1[pos]),
                    )
                    if fin:
                        if c["valid"] is None:
                            continue
                        if _drop_fully_inside(c, z, max_zoom, extent, tb, int(fid[r])):
                            continue
                        keep_pos.append(pos)
                        keep_wkb.append(c["wkb"])
                    elif c["geom"][0] in (G.POLYGON, G.MULTIPOLYGON):
                        # boundary polygon pairs batch per feature below
                        poly_batch.setdefault(r, []).append(int(pos))
                    elif c["geom"][0] in (G.LINESTRING, G.MULTILINESTRING):
                        line_batch.setdefault(r, []).append(int(pos))
                    else:
                        w = _clip_pair(c, z, max_zoom, extent, *tb, buffer_px,
                                       int(fid[r]))
                        if w is not None:
                            keep_pos.append(pos)
                            keep_wkb.append(w)

                # batched boundary clips: ONE set of 4-pass segmented SH
                # edge passes per zoom across ALL features' boundary tiles
                # (clip.polygons_tiles_clip_multi — the kernel is agnostic
                # to ring ownership); byte-identical to the per-pair
                # clip_geometry loop. The finish step (validate/drop/wkb)
                # is batched across the zoom too (_finish_poly_batch —
                # the drop hash is coords-only, so no per-feature fid is
                # needed).
                if poly_batch:
                    mg_feats = list(poly_batch.keys())
                    mg_geoms = [caches[r]["geom"] for r in mg_feats]
                    mg_tiles = np.concatenate([
                        np.asarray(poss, dtype=np.int64)
                        for poss in poly_batch.values()])
                    mg_fidx = np.repeat(
                        np.arange(len(mg_feats), dtype=np.int64),
                        [len(poss) for poss in poly_batch.values()])
                    mg_bufs = (t_lng1[mg_tiles] - t_lng0[mg_tiles]) \
                        * buffer_px / extent
                    mg_clips = CK.polygons_tiles_clip_multi(
                        mg_geoms, mg_fidx,
                        t_lng0[mg_tiles] - mg_bufs,
                        t_lat0[mg_tiles] - mg_bufs,
                        t_lng1[mg_tiles] + mg_bufs,
                        t_lat1[mg_tiles] + mg_bufs)
                    # finish (validate/drop/wkb) in ONE segmented call for
                    # every feature's boundary tiles at this zoom — the
                    # math is per (part, tile) and the diffuse-drop hash is
                    # coords-only, so results and emission order are
                    # identical to the old per-feature loop
                    ws = _finish_poly_batch(
                        mg_clips, t_lng0[mg_tiles], t_lat0[mg_tiles],
                        t_lng1[mg_tiles], t_lat1[mg_tiles],
                        z, max_zoom, extent, 0)
                    for pos, w in zip(mg_tiles, ws):
                        if w is not None:
                            keep_pos.append(int(pos))
                            keep_wkb.append(w)

                for r, poss in line_batch.items():
                    c = caches[r]
                    parr = np.asarray(poss, dtype=np.int64)
                    bufs = (t_lng1[parr] - t_lng0[parr]) * buffer_px / extent
                    clips = CK.lines_tiles_clip_batch(
                        c["geom"],
                        t_lng0[parr] - bufs, t_lat0[parr] - bufs,
                        t_lng1[parr] + bufs, t_lat1[parr] + bufs)
                    for pos, clipped in zip(poss, clips):
                        if clipped is None:
                            continue
                        w = _finish_clip(
                            clipped, z, max_zoom, extent,
                            float(t_lng0[pos]), float(t_lat0[pos]),
                            float(t_lng1[pos]), float(t_lat1[pos]), int(fid[r]))
                        if w is not None:
                            keep_pos.append(pos)
                            keep_wkb.append(w)

                if keep_pos:
                    ki = np.array(keep_pos, dtype=np.int64)
                    emit(z, xs[ki], ys[ki], fid[ridx[ki]], keep_wkb)

                # drain at the working-set budget: a vertex-dense batch
                # fanned out over 15 zooms would otherwise hold every zoom's
                # records, then their message encode, at once in each task.
                # Frame boundaries do not reach the archive: the reduce side
                # sorts each shuffle partition on (tile_id, feature_id).
                if pend_bytes >= FANOUT_BUDGET_BYTES:
                    yield drain()

            if out_tid:
                yield drain()

    return fanout


def _drop_fully_inside(c: dict, z: int, base_zoom: int, extent: int,
                       tb: tuple, feature_index: int) -> bool:
    """Drop dispatch for the fully-inside fast path using per-feature caches.

    Area scales exactly by (extent/w)*(extent/h) under the affine geo->tile
    transform, so the degree-space area and one SipHash per feature suffice.
    """
    lng0, lat0, lng1, lat1 = tb
    t = c["gtype"]
    if t in (G.POINT, G.MULTIPOINT):
        return bool(DK.should_drop_points(
            np.array([feature_index], dtype=np.uint64), z, base_zoom)[0])
    sx = extent / (lng1 - lng0)
    sy = extent / (lat1 - lat0)
    if t == G.POLYGON:
        area_px = c["area_deg"] * sx * sy
        if area_px <= 0.0:
            return True
        if area_px >= DK.TINY_POLYGON_THRESHOLD:
            return False
        return (c["hash"] / float(2**64 - 1)) >= (area_px / DK.TINY_POLYGON_THRESHOLD)
    if t == G.MULTIPOLYGON:
        areas_px = c["part_areas"] * sx * sy
        norm = c["part_hashes"].astype(np.float64) / float(2**64 - 1)
        drops = (areas_px <= 0.0) | (
            (areas_px < DK.TINY_POLYGON_THRESHOLD)
            & (norm >= areas_px / DK.TINY_POLYGON_THRESHOLD)
        )
        return bool(drops.all())
    if t == G.LINESTRING:
        return DK.line_collapses_to_pixel(c["valid"][1], lng0, lat0, lng1, lat1, extent)
    if t == G.MULTILINESTRING:
        bb = c["part_bboxes"]  # (k, 4): xmin ymin xmax ymax
        px0 = np.floor((bb[:, 0] - lng0) / (lng1 - lng0) * extent)
        px1 = np.floor((bb[:, 2] - lng0) / (lng1 - lng0) * extent)
        py0 = np.floor((1.0 - (bb[:, 3] - lat0) / (lat1 - lat0)) * extent)
        py1 = np.floor((1.0 - (bb[:, 1] - lat0) / (lat1 - lat0)) * extent)
        return bool(((px0 == px1) & (py0 == py1)).all())
    return False


# ---------------------------------------------------------------------------
# Phase 2+3: shuffle + encode
# ---------------------------------------------------------------------------

MSG_RECORDS_SCHEMA = StructType(
    [
        StructField("tile_id", LongType(), False),
        StructField("feature_id", LongType(), False),
        StructField("msg", BinaryType(), False),
    ]
)


def make_msg_encoder(config: TilerConfig):
    """Per-record message encode over (tile_id, feature_id, wkb) frames ->
    (tile_id, feature_id, msg) frames. Message bytes depend only on the
    record's feature id, geometry and tile (the MVT cursor resets per
    feature), so encoding before the shuffle gives the bytes the reference
    encodes per tile after its sort. The ``msg`` column is the Arrow
    binary array ``mvt_fast.encode_record_msgs`` builds over its one
    message buffer.

    A frame larger than ``FANOUT_BUDGET_BYTES`` (WKB bytes plus 24 B per
    row, as the fan-out counts) is encoded in consecutive row slices of at
    most that size, one output frame per slice; a single row larger than
    the budget is a slice of its own."""
    extent, buffer_px = config.extent, config.buffer_pixels

    def encode_msgs(frames: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for frame in frames:
            tid = frame["tile_id"].to_numpy(dtype=np.int64)
            fid = frame["feature_id"].to_numpy(dtype=np.int64)
            wkbs = frame["wkb"].to_numpy()
            for a, b in _budget_slices(wkbs, FANOUT_BUDGET_BYTES):
                yield pd.DataFrame({
                    "tile_id": tid[a:b],
                    "feature_id": fid[a:b],
                    "msg": mvt_fast.encode_record_msgs(
                        tid[a:b], fid[a:b], wkbs[a:b], extent, buffer_px),
                })

    return encode_msgs


def _budget_row_slices(batches: Iterator[pd.DataFrame]
                       ) -> Iterator[pd.DataFrame]:
    """Each non-empty fan-out input batch in consecutive row slices of at
    most ``FANOUT_BUDGET_BYTES`` (``_budget_slices``)."""
    for pdf in batches:
        if len(pdf):
            for a, b in _budget_slices(pdf["wkb"].to_numpy(),
                                       FANOUT_BUDGET_BYTES):
                yield pdf.iloc[a:b]


def _budget_slices(wkbs: np.ndarray, budget: int) -> list[tuple[int, int]]:
    """Consecutive [a, b) row ranges of ``wkbs`` that each hold at most
    ``budget`` bytes (WKB length plus 24 B per row) or a single row."""
    n = len(wkbs)
    ends = np.cumsum(np.fromiter(map(len, wkbs), dtype=np.int64, count=n) + 24)
    cuts = [0]
    while cuts[-1] < n:
        a = cuts[-1]
        base = int(ends[a - 1]) if a else 0
        cuts.append(max(a + 1, int(np.searchsorted(ends, base + budget,
                                                   side="right"))))
    return list(zip(cuts[:-1], cuts[1:]))


def make_fanout_encoded(config: TilerConfig,
                        metrics: PipelineMetrics | None = None):
    """Fused fan-out + per-record message encode (the map side of every
    non-salted layout): the wide shuffle carries zigzag-varint messages
    (~5-8x smaller than the f64 WKB payload on vertex-dense input) and the
    reduce side only concatenates."""
    fan = make_fanout(config, metrics)
    encode_msgs = make_msg_encoder(config)

    def fanout_encoded(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        return encode_msgs(fan(batches))

    return fanout_encoded


def _run_carry(chunk_fn, run_cols: tuple[str, ...] = ("tile_id",)):
    """Shared run carry for reduce-side encoders: input batches are sorted
    on ``run_cols`` (tile_id by default) within the partition; complete
    runs go to ``chunk_fn`` as they close, and the trailing (possibly
    incomplete) run carries across Arrow batches as a LIST of frames — a
    mega-tile run spanning hundreds of small batches must not pay one
    quadratically-growing pd.concat per batch."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        pend: list[pd.DataFrame] = []
        pend_last = None  # run key of the pending rows (runs are contiguous)
        for pdf in batches:
            if len(pdf) == 0:
                continue
            keys = [pdf[c].to_numpy() for c in run_cols]
            if pend and tuple(k[0] for k in keys) != pend_last:
                yield chunk_fn(pd.concat(pend, ignore_index=True)
                               if len(pend) > 1 else pend[0])
                pend = []
            new_run = np.zeros(len(pdf), dtype=bool)
            for k in keys:
                new_run[1:] |= k[1:] != k[:-1]
            run_starts = np.flatnonzero(new_run)
            cut = int(run_starts[-1]) if len(run_starts) else 0
            body = pdf.iloc[:cut]
            if len(body):
                if pend:
                    pend.append(body)
                    yield chunk_fn(pd.concat(pend, ignore_index=True))
                    pend = []
                else:
                    yield chunk_fn(body)
            pend.append(pdf.iloc[cut:])
            pend_last = tuple(k[-1] for k in keys)
        if pend:
            yield chunk_fn(pd.concat(pend, ignore_index=True)
                           if len(pend) > 1 else pend[0])

    return run


def _wrap_encoder(config: TilerConfig, metrics: PipelineMetrics | None,
                  wrap_args: Callable[[pd.DataFrame], dict]):
    """Reduce-side encoder over tile_id runs: ``mvt_fast.wrap_sorted_msgs``
    on the items ``wrap_args`` reads off each chunk, with the byte budget
    and the tile counters."""

    def wrap_chunk(pdf: pd.DataFrame) -> pd.DataFrame:
        cap_stats = [0, 0]
        cols = mvt_fast.wrap_sorted_msgs(
            pdf["tile_id"].to_numpy(dtype=np.int64),
            layer_name=config.layer_name,
            extent=config.extent,
            max_tile_bytes=config.max_tile_bytes,
            cap_stats=cap_stats,
            **wrap_args(pdf),
        )
        _count_tiles(metrics, len(cols["tile_id"]), cap_stats)
        return pd.DataFrame(cols)

    return _run_carry(wrap_chunk)


def make_wrap_encoder(config: TilerConfig,
                      metrics: PipelineMetrics | None = None):
    """Premerge reduce side: concatenate each tile's (feature_id-sorted)
    framed messages and wrap the layer. Input batches are sorted by
    (tile_id, feature_id) within the partition and each tile_id lives in
    one partition, so grouping consecutive runs (``_run_carry``) is the
    reference's phase-3 streaming group-by (pipeline.rs:1179-1282) with no
    extra shuffle; the per-record geometry work already happened map-side."""
    return _wrap_encoder(config, metrics, lambda pdf: {
        "msgs": pdf["msg"].to_numpy(),
        "fids": pdf["feature_id"].to_numpy(dtype=np.int64),
    })


def _tile_exchange(df: DataFrame, parts: int | None, *cols: str) -> DataFrame:
    """Co-locate every tile on ``cols`` with a hash exchange. No consumer
    needs globally tile-ordered partitions (the archive writer restores
    tile order from the shards' entry rows), so no range-sampling job
    re-runs the fan-out."""
    return df.repartition(parts, *cols) if parts else df.repartition(*cols)


def _encode(stage: tuple[DataFrame, Callable]) -> DataFrame:
    """Run a reduce stage's encoder over its sorted, shuffled input."""
    sorted_in, encoder = stage
    return sorted_in.mapInPandas(encoder, schema=TILES_SCHEMA)


def _premerge_records(features: DataFrame, config: TilerConfig,
                      metrics: PipelineMetrics | None = None) -> DataFrame:
    """Premerge map side: fan-out + per-record message encode over the
    fan-out columns alone (props join back after it), spread over every
    task slot when the input arrives under-partitioned."""
    return spread_small_input(features.select(*FANOUT_COLS)).mapInPandas(
        make_fanout_encoded(config, metrics), schema=MSG_RECORDS_SCHEMA)


def _premerge_stage(msgs: DataFrame, config: TilerConfig,
                    num_partitions: int | None = None,
                    metrics: PipelineMetrics | None = None):
    """Premerge reduce stage over ``_premerge_records`` output:
    (tile-sorted framed messages, wrap encoder)."""
    parts = num_partitions or config.shuffle_partitions
    shuffled = _tile_exchange(msgs, parts, "tile_id")
    return (shuffled.sortWithinPartitions("tile_id", "feature_id"),
            make_wrap_encoder(config, metrics))


def encode_tiles_premerge(features: DataFrame, config: TilerConfig,
                          num_partitions: int | None = None,
                          metrics: PipelineMetrics | None = None) -> DataFrame:
    """features -> per-tile MVT rows on the premerge layout: map-side
    fan-out + per-record message encode, ONE hash shuffle of the small
    framed messages on tile_id, reduce-side wrap.
    The single shared constructor for every premerge plan in the repo —
    bench, contract queries, and the archive writer all build on
    ``_premerge_stage``."""
    return _encode(_premerge_stage(_premerge_records(features, config, metrics),
                                   config, num_partitions, metrics))


BUCKETS_SCHEMA = StructType(
    [
        StructField("tile_id", LongType(), False),
        StructField("salt", IntegerType(), False),
        StructField("n_records", LongType(), False),
        StructField("fids", BinaryType(), False),  # packed little-endian int64
        StructField("lens", BinaryType(), False),  # packed little-endian int64
        StructField("body", BinaryType(), False),
    ]
)


def make_bucket_encoder():
    """Salted phase A: per (tile_id, salt) bucket of feature_id-sorted
    framed messages, one row holding the bucket's record count, packed
    feature ids and framed lengths, and its concatenated messages
    (``mvt_fast.concat_runs``; cross-batch carry on (tile_id, salt))."""

    def emit(pdf: pd.DataFrame) -> pd.DataFrame:
        tid = pdf["tile_id"].to_numpy(dtype=np.int64)
        salt = pdf["salt"].to_numpy(dtype=np.int32)
        starts = np.flatnonzero(np.concatenate(
            ([True], (tid[1:] != tid[:-1]) | (salt[1:] != salt[:-1]))))
        return pd.DataFrame({
            "tile_id": tid[starts],
            "salt": salt[starts],
            **mvt_fast.concat_runs(
                starts, pdf["feature_id"].to_numpy(dtype=np.int64),
                pdf["msg"].tolist()),
        })

    return _run_carry(emit, ("tile_id", "salt"))


def _packed_int64s(col: pd.Series) -> np.ndarray:
    return np.frombuffer(b"".join(col.tolist()), dtype="<i8")


def make_bucket_merge_encoder(config: TilerConfig,
                              metrics: PipelineMetrics | None = None):
    """Salted phase B: a tile's bucket rows arrive in salt order, which is
    feature_id order, so its body is their bodies joined — the premerge
    tile bytes. The packed ids and lengths are read only under
    ``max_tile_bytes``."""
    budget = config.max_tile_bytes is not None
    return _wrap_encoder(config, metrics, lambda pdf: {
        "msgs": pdf["body"].tolist(),
        "n_records": pdf["n_records"].to_numpy(dtype=np.int64),
        "fids": _packed_int64s(pdf["fids"]) if budget else None,
        "lens": _packed_int64s(pdf["lens"]) if budget else None,
    })


def _hot_tile_ranges(features: DataFrame, config: TilerConfig,
                     threshold: int | None = None) -> list[tuple[int, int, int]]:
    """Estimate hot tiles WITHOUT materializing the fan-out: count feature
    bbox-centers per tile at every zoom (pure Catalyst — the dominant class
    in a hot tile is fully-inside features, whose center tile IS their
    tile), then keep tiles above threshold, each with the min and max
    feature_id of the features centered in it.

    Returns (tile_id, lo, hi) triples (few by construction: only tiles with
    more than `threshold` co-located features)."""
    from .functions.spatial_sql import tile_x_sql, tile_y_sql

    if threshold is None:
        threshold = config.hot_tile_threshold
    cx = "((lng_min + lng_max) / 2.0)"
    cy = "((lat_min + lat_max) / 2.0)"
    # ONE scan: per-row array of (z, x, y) structs exploded, instead of a
    # per-zoom union that re-reads (and re-extracts) the features once per
    # zoom level
    structs = []
    for z in range(config.min_zoom, config.max_zoom + 1):
        n_max = (1 << z) - 1
        xs = f"greatest(least({tile_x_sql(cx, z)}, {n_max}), 0)"
        ys = f"greatest(least({tile_y_sql(cy, z)}, {n_max}), 0)"
        structs.append(f"struct({z} AS z, {xs} AS x, {ys} AS y)")
    exploded = features.selectExpr(
        "feature_id", f"explode(array({', '.join(structs)})) AS c"
    ).select("feature_id", "c.z", "c.x", "c.y")
    hot = (
        exploded.groupBy("z", "x", "y")
        .agg(F.count("*").alias("count"), F.min("feature_id").alias("lo"),
             F.max("feature_id").alias("hi"))
        .where(F.col("count") > threshold)
        .collect()
    )
    if not hot:
        return []
    tids = H.tile_id_mixed(np.array([r["z"] for r in hot]),
                           np.array([r["x"] for r in hot]),
                           np.array([r["y"] for r in hot]))
    return [(int(t), int(r["lo"]), int(r["hi"])) for t, r in zip(tids, hot)]


def detect_hot_tiles(features: DataFrame, config: TilerConfig,
                     threshold: int | None = None) -> list[int]:
    """Tile ids with more than ``threshold`` (default
    ``config.hot_tile_threshold``) feature bbox-centers, from one Catalyst
    job over the features (``_hot_tile_ranges``)."""
    return [t for t, _, _ in _hot_tile_ranges(features, config, threshold)]


def _salt_records(msgs: DataFrame, config: TilerConfig,
                  ranges: list[tuple[int, int, int]]) -> DataFrame:
    """Premerge records + a ``salt`` column: 0 on cold tiles; on a hot tile
    (tile_id, lo, hi) the feature_id's bucket among ``salt_buckets`` equal
    slices of [lo, hi], clamped to the first/last bucket. The rule is
    non-decreasing in feature_id whatever lo/hi are, so a tile's buckets
    in salt order hold its records in feature_id order (equal ids share a
    bucket); the ranges only steer the balance."""
    import pyarrow as pa

    k = config.salt_buckets
    # built from Arrow, the ranges are a LocalRelation the JVM broadcasts
    # as it is; a frame from a Python list is an RDD of pickled rows,
    # ~0.2 s slower to broadcast under local[4] on 4 CPUs
    cols = list(zip(*ranges)) or [(), (), ()]
    hot = msgs.sparkSession.createDataFrame(pa.table({
        c: pa.array(v, pa.int64()) for c, v in zip(("tile_id", "lo", "hi"), cols)}))
    fid, lo, hi = (F.col(c).cast("double") for c in ("feature_id", "lo", "hi"))
    bucket = F.floor((fid - lo) * k / (hi - lo + 1))
    salt = (F.when(lo.isNull(), 0)
            .otherwise(F.greatest(F.lit(0), F.least(F.lit(k - 1), bucket))))
    return msgs.join(F.broadcast(hot), "tile_id", "left").select(
        "tile_id", "feature_id", "msg", salt.cast("int").alias("salt"))


def _bucket_rows(msgs: DataFrame, config: TilerConfig,
                 ranges: list[tuple[int, int, int]],
                 num_partitions: int | None = None) -> DataFrame:
    """Salted phase A over ``_premerge_records`` output: hash exchange on
    (tile_id, salt), then one row per (tile, bucket) concatenating the
    bucket's feature_id-sorted messages."""
    parts = num_partitions or config.shuffle_partitions
    return (
        _tile_exchange(_salt_records(msgs, config, ranges), parts,
                       "tile_id", "salt")
        .sortWithinPartitions("tile_id", "salt", "feature_id")
        .mapInPandas(make_bucket_encoder(), schema=BUCKETS_SCHEMA)
    )


def _bucket_merge_stage(buckets: DataFrame, config: TilerConfig,
                        num_partitions: int | None = None,
                        metrics: PipelineMetrics | None = None):
    """Salted phase B over ``_bucket_rows``: (tile-sorted bucket rows,
    merge encoder) after a hash exchange on tile_id."""
    parts = num_partitions or config.shuffle_partitions
    merged_in = _tile_exchange(buckets, parts, "tile_id")
    return (merged_in.sortWithinPartitions("tile_id", "salt"),
            make_bucket_merge_encoder(config, metrics))


def _salted_stage(msgs: DataFrame, config: TilerConfig,
                  ranges: list[tuple[int, int, int]],
                  num_partitions: int | None = None,
                  metrics: PipelineMetrics | None = None):
    """Salted reduce stage over ``_premerge_records`` output: phase A
    (``_bucket_rows``) feeding phase B (``_bucket_merge_stage``)."""
    return _bucket_merge_stage(
        _bucket_rows(msgs, config, ranges, num_partitions), config,
        num_partitions, metrics)


def encode_tiles_salted(features: DataFrame, config: TilerConfig,
                        num_partitions: int | None = None,
                        metrics: PipelineMetrics | None = None) -> DataFrame:
    """Skew-safe two-phase encode [north-star: explicit salted repartitioning
    on hot tiles]. ``_hot_tile_ranges`` finds the hot tiles; the premerge
    message records of each are split across ``salt_buckets`` feature_id
    ranges for phase A, so no single task concatenates a dense urban tile
    alone; phase B joins the bucket bodies in salt order — output bytes
    identical to the premerge layout. Cold tiles (every tile, when none is
    hot) carry salt 0, one bucket each."""
    return _encode(_salted_stage(
        _premerge_records(features, config, metrics), config,
        _hot_tile_ranges(features, config), num_partitions, metrics))


def fanout_records(features: DataFrame, config: TilerConfig,
                   metrics: PipelineMetrics | None = None) -> DataFrame:
    """features -> (tile_id, feature_id, wkb) records: the fan-out before
    message encode, as the raster operator, ``bench.py`` and the
    driver-side reference encode take it (no tiling sink shuffles WKB)."""
    return features.select(*FANOUT_COLS).mapInPandas(
        make_fanout(config, metrics), schema=RECORDS_SCHEMA
    )


PROPS_FIELD_SCHEMA = ArrayType(
    StructType(
        [
            StructField("key", StringType(), False),
            StructField("val", BinaryType(), False),
        ]
    )
)

# Spark simpleString dtype -> stable MVT value kind. Driving the conversion
# from the SCHEMA (not the pandas cell dtype) keeps encoding deterministic:
# a nullable bigint column arrives as float64 in any Arrow batch containing
# a null, and without this a value would encode as int in one batch and
# double in another (different Value bytes for the same logical value).
def _mvt_kind(spark_type: str) -> str:
    if spark_type == "boolean":
        return "bool"
    if spark_type in ("tinyint", "smallint", "int", "bigint"):
        return "int"
    if spark_type in ("float", "double") or spark_type.startswith("decimal"):
        return "float"
    return "str"


def prop_kinds(df: DataFrame, cols: list[str]) -> dict[str, str]:
    by_name = {f.name: f.dataType.simpleString() for f in df.schema.fields}
    return {c: _mvt_kind(by_name.get(c, "string")) for c in cols}


def pack_prop_row(values_by_col, kinds: dict[str, str]) -> list[dict]:
    """One feature's (col -> raw value) dict -> props entries with
    pre-encoded MVT Value bytes. NULL/NaN omitted (MVT has no null kind);
    numeric kinds coerced per the SCHEMA so batch-dependent pandas dtype
    promotion (and decimal.Decimal) cannot change the wire bytes."""
    from .kernels.mvt import encode_value

    row = []
    for c, kind in kinds.items():
        v = values_by_col.get(c)
        # scalar-safe null check: pd.isna catches None/NaN AND pandas NaT /
        # pd.NA (which would otherwise fall through the 'str' kind and
        # encode the literal strings 'NaT'/'<NA>'; ADVICE r4). List-likes
        # return an array from pd.isna — treat those as non-null values.
        na = pd.isna(v)
        if isinstance(na, (bool, np.bool_)) and na:
            continue
        if kind == "int":
            v = int(v)
        elif kind == "float":
            v = float(v)
        elif kind == "bool":
            v = bool(v)
        else:
            v = str(v)
        row.append({"key": c, "val": encode_value(v)})
    return row


def encode_props_column(df: DataFrame, cols: list[str],
                        out_col: str = "props") -> DataFrame:
    """Pack the named columns into a ``props`` array of (key, Value-bytes)
    structs — values pre-encoded as MVT ``Tile.Value`` messages
    (kernels.mvt.encode_value) so downstream tile encoding only interns
    bytes. NULLs (None/NaN/NaT/pd.NA) are omitted per feature (MVT has no
    null value kind).

    Columnar packing (round 5): each column is pd.factorize'd and only
    its DISTINCT values are kind-coerced and Value-encoded, then the
    encoded entries are gathered per row — the per-row scalar .iloc loop
    the round-4 review flagged is gone; work is O(distinct x cols +
    rows)."""
    kinds = prop_kinds(df, cols)
    schema = StructType(
        [f for f in df.schema.fields] + [StructField(out_col, PROPS_FIELD_SCHEMA)]
    )

    def pack(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield _pack_props_batch(pdf, kinds, out_col)

    return df.mapInPandas(pack, schema=schema)


def _encode_unique_prop(v, kind: str):
    from .kernels.mvt import encode_value

    na = pd.isna(v)
    if isinstance(na, (bool, np.bool_)) and na:
        return None
    if kind == "int":
        v = int(v)
    elif kind == "float":
        v = float(v)
    elif kind == "bool":
        v = bool(v)
    else:
        v = str(v)
    return encode_value(v)


def _pack_props_batch(pdf: pd.DataFrame, kinds: dict[str, str],
                      out_col: str) -> pd.DataFrame:
    """One Arrow batch of encode_props_column's packing (module-level so
    the dtype edge cases are unit-testable without a Spark round-trip)."""
    per_col = []
    for c, kind in kinds.items():
        col = pdf[c]
        if col.dtype.kind == "f":
            # factorize the BIT PATTERN, not the float value:
            # -0.0 == 0.0 would otherwise collapse to whichever
            # appeared first and change the wire bytes. NaN rows
            # still drop (the NaN unique encodes to None below).
            # na_value=np.nan makes pandas NULLABLE float dtypes
            # (Float64 extension, kind 'f' but object-backed
            # to_numpy) degrade to the same NaN-dropping path
            # instead of raising on pd.NA (ADVICE r5).
            vals = col.to_numpy(dtype=np.float64, na_value=np.nan)
            codes, uniq_bits = pd.factorize(vals.view(np.int64))
            uniq = np.asarray(uniq_bits, dtype=np.int64).view(
                np.float64)
        else:
            try:
                codes, uniq = pd.factorize(col, use_na_sentinel=True)
            except TypeError:
                # unhashable elements (list/array values): per-row
                # encode — the pre-round-5 semantics for these
                per_col.append([
                    (None if b is None else {"key": c, "val": b})
                    for b in (_encode_unique_prop(v, kind) for v in col)
                ])
                continue
        enc = [
            (None if b is None else {"key": c, "val": b})
            for b in (_encode_unique_prop(v, kind) for v in uniq)
        ]
        per_col.append([enc[k] if k >= 0 else None for k in codes])
    rows = [
        [e for e in entries if e is not None]
        for entries in zip(*per_col)
    ] if per_col else [[] for _ in range(len(pdf))]
    pdf = pdf.copy()
    pdf[out_col] = rows
    return pdf


_FIELD_TYPE_BY_KIND = {"bool": "Boolean", "int": "Number",
                       "float": "Number", "str": "String"}


def props_field_metadata(df: DataFrame, cols: list[str]) -> dict[str, str]:
    """Spark dtype -> MVT field-type map for the archive metadata JSON
    (String/Number/Boolean — same classes as the S5 GeoParquet Arrow-side
    field_metadata, batch_processor.rs:424-467); derived from the same
    _mvt_kind map that drives value encoding, so metadata and wire kinds
    can never disagree."""
    return {c: _FIELD_TYPE_BY_KIND[k] for c, k in prop_kinds(df, cols).items()}


def _apply_property_filter(config: TilerConfig):
    """-y/-x/-X semantics over a props entry list (property_filter.rs:19-72
    applied to TAGS here, not just field metadata). Returns None when no
    filter is configured — the encoders skip the per-feature filter pass
    entirely (the common case pays zero)."""
    if config.exclude_all_properties:
        return lambda items: []
    inc = set(config.include_properties) if config.include_properties is not None else None
    exc = set(config.exclude_properties or ())
    if inc is None and not exc:
        return None
    def f(items):
        return [
            it for it in items
            if (inc is None or it["key"] in inc) and it["key"] not in exc
        ]
    return f


def _splice_tags(m: bytes, fid: int, tag_bytes: bytes) -> bytes:
    """Splice a packed tags field (2) into a framed feature message right
    after the id field (1), so bytes equal encode_feature's field order.
    The id varint length comes from the UNSIGNED 64-bit value the kernel
    wrote (a negative fid encodes as 10 bytes; int.bit_length() on the
    signed value would mis-place the splice and corrupt the message)."""
    from .kernels.mvt import _varint

    j = 1  # skip frame byte 0x12
    while m[j] & 0x80:
        j += 1
    j += 1  # frame length varint consumed; body starts here
    body = m[j:]
    u = int(fid) & 0xFFFF_FFFF_FFFF_FFFF
    idlen = 1 + max((u.bit_length() + 6) // 7, 1)
    new_body = body[:idlen] + tag_bytes + body[idlen:]
    return b"\x12" + _varint(len(new_body)) + new_body


# below this many entries a plain dict-interning loop beats two
# pd.factorize calls (each carries ~10s of µs of fixed overhead — ruinous
# when a z8+ batch holds tens of thousands of 2-entry tiles); both paths
# produce identical first-appearance dictionary order
_FACTORIZE_MIN_ENTRIES = 512


def _intern_tile_tags(items_per_feat, prop_filter):
    """Per-TILE key/value interning in first-appearance order. Small tiles
    take a dict loop; large tiles (the 100-TB-lens case: one dense tile
    spanning a whole batch) take ONE pd.factorize pass over the flat
    entry arrays instead of per-entry dict lookups (VERDICT r4). Returns
    (per-feature packed tag field bytes, keys, vals).

    Round 6 (VERDICT r5 item 3): the per-feature ``_packed_u32`` loops are
    gone — all tag indices interleave into ONE int64 array, varint-encode
    in one vectorized ``_fill_varints`` pass, and each feature's packed
    tags field slices out of the shared buffer (byte-identical: LEB128 is
    LEB128). Flattening runs as list comprehensions over the entry lists;
    per-feature bounds come from one cumsum over the (post-filter)
    lengths."""
    n = len(items_per_feat)
    if prop_filter is not None:
        items_per_feat = [
            None if items is None else prop_filter(list(items))
            for items in items_per_feat
        ]
    lens = np.fromiter(
        (0 if items is None else len(items) for items in items_per_feat),
        dtype=np.int64, count=n)
    total = int(lens.sum())
    if total == 0:
        return [b""] * n, [], []
    keys_flat = [it["key"]
                 for items in items_per_feat if items is not None
                 for it in items]
    vals_flat = [bytes(it["val"])
                 for items in items_per_feat if items is not None
                 for it in items]
    if total >= _FACTORIZE_MIN_ENTRIES:
        kcodes, kuniq = pd.factorize(np.asarray(keys_flat, dtype=object))
        vcodes, vuniq = pd.factorize(np.asarray(vals_flat, dtype=object))
        keys, vals = list(kuniq), [bytes(v) for v in vuniq]
        kcodes = kcodes.astype(np.int64, copy=False)
        vcodes = vcodes.astype(np.int64, copy=False)
    else:
        key_idx: dict[str, int] = {}
        val_idx: dict[bytes, int] = {}
        kcodes = np.fromiter(
            (key_idx.setdefault(k, len(key_idx)) for k in keys_flat),
            dtype=np.int64, count=total)
        vcodes = np.fromiter(
            (val_idx.setdefault(v, len(val_idx)) for v in vals_flat),
            dtype=np.int64, count=total)
        keys, vals = list(key_idx), list(val_idx)
    # one interleaved (k, v, k, v, ...) code array for the whole tile ->
    # one varint fill; per-feature payloads are contiguous slices
    inter = np.empty(2 * total, dtype=np.int64)
    inter[0::2] = kcodes
    inter[1::2] = vcodes
    return _packed_tag_fields(inter, lens), keys, vals


def _packed_tag_fields(inter: np.ndarray, lens: np.ndarray) -> list[bytes]:
    """Per-feature packed tags fields from ONE interleaved (k, v, k, v,
    ...) code array, ``lens[i]`` entries for feature i: all varints fill
    one shared buffer in one pass and each feature's field slices out of
    it (field 2: key byte 0x12, length, payload — the bytes
    ``_packed_u32(2, ...)`` emits entry by entry); b"" without tags."""
    from .kernels.mvt import _varint
    from .kernels.mvt_fast import _fill_varints, _varint_nb

    nb = _varint_nb(inter)
    byte_pos = np.concatenate(([0], np.cumsum(nb)))
    buf = np.zeros(int(byte_pos[-1]), dtype=np.uint8)
    _fill_varints(buf, byte_pos[:-1], inter, nb)
    payload = buf.tobytes()
    ends = np.cumsum(lens)  # entry index bounds per feature
    feat_b0 = byte_pos[2 * (ends - lens)]
    feat_b1 = byte_pos[2 * ends]
    return [b"" if s == e else b"\x12" + _varint(e - s) + payload[s:e]
            for s, e in zip(feat_b0.tolist(), feat_b1.tolist())]


def _encode_props_tile(tile_id: int, fids, msgs, items_per_feat,
                       prop_filter, head: bytes, tail: bytes,
                       max_tile_bytes: int | None,
                       cap_stats: list | None = None) -> tuple[bytes, int]:
    """ONE tile's MVT bytes with real per-feature tags — the exact
    per-tile path behind ``_encode_props_tiles_chunk`` (it takes every
    tile over the byte budget). Dead records (empty msg) cost 0 bytes and
    still count.

    ``max_tile_bytes`` charges the layer key/value DICTIONARY bytes
    against the budget (ADVICE r4): the keep-mask competes over the
    budget minus the full dictionary cost, then the tile is rebuilt from
    the survivors — pruning dictionary entries no surviving feature
    references and remapping tag indices — so the capped tile's total
    layer bytes stay within budget (the sole exception is the never-
    empties-a-tile guarantee: one feature plus its dictionary is always
    kept). Returns (mvt bytes, n_features)."""
    from .kernels.mvt import _len_delim, _varint

    # dead records never contribute to the dictionary (they encode no
    # tags), so their props must not be interned — otherwise every tile
    # holding a thinned record gains unreferenced key/value entries
    if any(not m for m in msgs):
        items_per_feat = [
            it if m else None for m, it in zip(msgs, items_per_feat)
        ]
    tag_bytes, keys, vals = _intern_tile_tags(items_per_feat, prop_filter)
    parts: list[bytes] = []
    for m, fidv, tb in zip(msgs, fids, tag_bytes):
        if not m:
            parts.append(b"")
        elif tb:
            parts.append(_splice_tags(m, int(fidv), tb))
        else:
            parts.append(m)
    n_feat = len(parts)
    if max_tile_bytes is not None:
        dict_bytes = (
            sum(len(_len_delim(3, k.encode("utf-8"))) for k in keys)
            + sum(len(_len_delim(4, v)) for v in vals)
        )
        flens = np.fromiter((len(p) for p in parts), dtype=np.int64,
                            count=n_feat)
        if int(flens.sum()) + dict_bytes > max_tile_bytes:
            from .kernels.drop import tile_budget_keep_mask

            fid_arr = np.asarray(fids, dtype=np.int64)
            eff = max(max_tile_bytes - dict_bytes, 0)
            while True:
                mask = tile_budget_keep_mask(fid_arr, flens, int(tile_id),
                                             eff)
                keep = np.flatnonzero(mask)
                mvt, n_kept = _encode_props_tile(
                    tile_id,
                    [fids[i] for i in keep],
                    [msgs[i] for i in keep],
                    [items_per_feat[i] for i in keep],
                    prop_filter, head, tail, None)
                # Post-rebuild re-check (ADVICE r5): dictionary pruning
                # usually SHRINKS the rebuilt tile, but a surviving
                # feature's remapped tag index can cross a varint size
                # boundary and push the layer back over budget when little
                # was pruned. Charge exactly what the keep-mask charged
                # (feature + dictionary bytes, i.e. layer minus head/tail)
                # and retry with the overshoot removed from the budget —
                # eff strictly decreases, so this terminates; the
                # never-empties-a-tile guarantee still wins at one feature.
                j = 1
                while mvt[j] & 0x80:
                    j += 1
                charged = len(mvt) - (j + 1) - len(head) - len(tail)
                # the one-feature guarantee counts LIVE records only —
                # n_kept includes zero-cost dead records, so a tile of
                # one oversized live feature plus dead records would spin
                # at eff=0 forever if judged by n_kept
                live_kept = sum(1 for i in keep if msgs[i])
                if charged <= max_tile_bytes or live_kept <= 1 or eff == 0:
                    break
                # Shrink by the overshoot, but ALSO drop below the kept
                # set's cumulative pre-remap bytes (the mask's cumsum at its
                # last kept record): a few-byte overshoot alone may not
                # cross a cumsum boundary, re-running the same mask through
                # an identical O(tile) rebuild many times. Capping at
                # kept_bytes - 1 evicts >=1 live record per pass, so the
                # loop converges in at most live_kept rebuilds (one or two
                # in practice).
                kept_bytes = int(flens[keep].sum())
                eff = max(min(eff - (charged - max_tile_bytes),
                              kept_bytes - 1), 0)
            if cap_stats is not None:
                cap_stats[0] += 1
                cap_stats[1] += int(n_feat - n_kept)
            return mvt, n_kept
    layer = (head + b"".join(parts)
             + b"".join(_len_delim(3, k.encode("utf-8")) for k in keys)
             + b"".join(_len_delim(4, v) for v in vals)
             + tail)
    return b"\x1a" + _varint(len(layer)) + layer, n_feat


def _encode_props_tiles_chunk(tid, fid, msgs, props_list, starts, ends,
                              prop_filter, head: bytes, tail: bytes,
                              max_tile_bytes: int | None,
                              cap_stats: list | None = None
                              ) -> tuple[list, list]:
    """Every tile of one (tile_id-sorted) chunk encoded with REAL tags in
    vectorized passes — the round-7 replacement for calling
    ``_encode_props_tile`` once per tile, whose per-tile fixed cost
    (np.fromiter + factorize + cumsum over 2-entry tiles) dominated the
    premerge-props reduce stage at high zooms (tens of thousands of tiny
    tiles per chunk). Byte-identical by construction and by test:

    * per-tile interning in first-appearance order comes from ONE
      pd.factorize over (tile, global-code) pairs — entries are
      tile-contiguous, so each tile's combined codes form a contiguous
      block and ``code - block_base`` IS the tile-local dictionary index;
    * all tag varints fill one shared buffer in one _fill_varints pass;
    * dictionary entry bytes are encoded once per DISTINCT key/value in
      the chunk and reused across tiles (the same bytes `_len_delim`
      produced per tile before);
    * only tiles that exceed ``max_tile_bytes`` fall back to the exact
      per-tile ``_encode_props_tile`` budget loop.

    Returns (mvt bytes per tile, n_features per tile), aligned with
    ``starts``."""
    from .kernels.mvt import _len_delim, _varint

    n = len(fid)
    n_tiles = len(starts)
    items_pf = props_list
    # dead records never contribute to the dictionary (mirrors
    # _encode_props_tile's masking)
    if any(not m for m in msgs):
        items_pf = [it if m else None for m, it in zip(msgs, items_pf)]
    if prop_filter is not None:
        items_pf = [None if it is None else prop_filter(list(it))
                    for it in items_pf]
    lens = np.fromiter((0 if it is None else len(it) for it in items_pf),
                       dtype=np.int64, count=n)
    total = int(lens.sum())

    counts_t = ends - starts
    if total == 0:
        tag_bytes: list = [b""] * n
        keys_per_tile: list = [[] for _ in range(n_tiles)]
        vals_per_tile: list = [[] for _ in range(n_tiles)]
        kd_lens = vd_lens = None
    else:
        # props cells arrive as numpy object arrays from Arrow — explicit
        # None/len checks, a bare truthiness test raises on ndarrays
        keys_flat = [e["key"] for it in items_pf
                     if it is not None and len(it) for e in it]
        vals_flat = [bytes(e["val"]) for it in items_pf
                     if it is not None and len(it) for e in it]
        kcodes_g, kuniq_g = pd.factorize(np.asarray(keys_flat, dtype=object))
        vcodes_g, vuniq_g = pd.factorize(np.asarray(vals_flat, dtype=object))
        K, V = len(kuniq_g), len(vuniq_g)
        tile_of_feat = np.repeat(np.arange(n_tiles, dtype=np.int64), counts_t)
        tile_of_entry = np.repeat(tile_of_feat, lens)
        ckc, cku = pd.factorize(tile_of_entry * K + kcodes_g.astype(np.int64))
        cvc, cvu = pd.factorize(tile_of_entry * V + vcodes_g.astype(np.int64))
        ent_counts_t = np.zeros(n_tiles, dtype=np.int64)
        np.add.at(ent_counts_t, tile_of_feat, lens)
        ent_start_t = np.concatenate(([0], np.cumsum(ent_counts_t)[:-1]))
        has = ent_counts_t > 0
        base_t = np.zeros(n_tiles, dtype=np.int64)
        base_t[has] = ckc[ent_start_t[has]]
        vbase_t = np.zeros(n_tiles, dtype=np.int64)
        vbase_t[has] = cvc[ent_start_t[has]]
        inter = np.empty(2 * total, dtype=np.int64)
        inter[0::2] = ckc - base_t[tile_of_entry]
        inter[1::2] = cvc - vbase_t[tile_of_entry]
        tag_bytes = _packed_tag_fields(inter, lens)
        # per-tile dictionaries: unique combined codes are tile-contiguous
        # in first-appearance (code) order
        ku_tile = cku // K
        ku_g = cku % K
        vu_tile = cvu // V
        vu_g = cvu % V
        kspan = np.concatenate(
            ([0], np.cumsum(np.bincount(ku_tile, minlength=n_tiles))))
        vspan = np.concatenate(
            ([0], np.cumsum(np.bincount(vu_tile, minlength=n_tiles))))
        kd_g = [_len_delim(3, k.encode("utf-8")) for k in kuniq_g]
        vd_g = [_len_delim(4, v) for v in vuniq_g]
        kd_glens = np.fromiter((len(b) for b in kd_g), dtype=np.int64,
                               count=K)
        vd_glens = np.fromiter((len(b) for b in vd_g), dtype=np.int64,
                               count=V)
        keys_per_tile = [
            [kd_g[g] for g in ku_g[kspan[t]:kspan[t + 1]].tolist()]
            for t in range(n_tiles)
        ]
        vals_per_tile = [
            [vd_g[g] for g in vu_g[vspan[t]:vspan[t + 1]].tolist()]
            for t in range(n_tiles)
        ]
        kd_lens = np.add.reduceat(
            np.concatenate((kd_glens[ku_g], [0])),
            kspan[:-1]) * (kspan[1:] > kspan[:-1])
        vd_lens = np.add.reduceat(
            np.concatenate((vd_glens[vu_g], [0])),
            vspan[:-1]) * (vspan[1:] > vspan[:-1])

    parts = [
        b"" if not m else (_splice_tags(m, int(fv), tb) if tb else m)
        for m, fv, tb in zip(msgs, fid, tag_bytes)
    ]
    flens = np.fromiter((len(p) for p in parts), dtype=np.int64, count=n)
    tile_bytes = np.add.reduceat(
        np.concatenate((flens, [0])), starts) * (counts_t > 0)
    if kd_lens is not None:
        tile_bytes = tile_bytes + kd_lens + vd_lens
    over = (np.zeros(n_tiles, dtype=bool) if max_tile_bytes is None
            else tile_bytes > max_tile_bytes)

    mvts: list = []
    n_feats: list = []
    for t in range(n_tiles):
        s, e = int(starts[t]), int(ends[t])
        if over[t]:
            mvt, n_kept = _encode_props_tile(
                int(tid[s]), fid[s:e], msgs[s:e], props_list[s:e],
                prop_filter, head, tail, max_tile_bytes, cap_stats)
            mvts.append(mvt)
            n_feats.append(n_kept)
            continue
        layer = (head + b"".join(parts[s:e])
                 + b"".join(keys_per_tile[t]) + b"".join(vals_per_tile[t])
                 + tail)
        mvts.append(b"\x1a" + _varint(len(layer)) + layer)
        n_feats.append(e - s)
    return mvts, n_feats


def _props_tiles_frame(tid: np.ndarray, fid: np.ndarray, msgs, props_list,
                       prop_filter, config: TilerConfig,
                       metrics: PipelineMetrics | None) -> pd.DataFrame:
    """One chunk of (tile_id, feature_id)-sorted geometry messages and
    props entries -> a TILES_SCHEMA frame (tile z/x/y, tag-interned MVT
    bytes, content hash)."""
    starts = np.flatnonzero(np.concatenate(([True], tid[1:] != tid[:-1])))
    ends = np.append(starts[1:], len(tid))
    head, tail = mvt_fast.layer_head_tail(config.layer_name, config.extent)
    cap_stats = [0, 0]
    mvts, n_feats = _encode_props_tiles_chunk(
        tid, fid, msgs, props_list, starts, ends, prop_filter,
        head, tail, config.max_tile_bytes, cap_stats)
    _count_tiles(metrics, len(starts), cap_stats)
    g_z, g_x, g_y = H.tile_id_to_zxy_vec(tid[starts])
    return pd.DataFrame({
        "tile_id": tid[starts],
        "z": g_z.astype(np.int32),
        "x": g_x,
        "y": g_y,
        "n_features": np.asarray(n_feats, dtype=np.int64),
        "mvt": mvts,
        "content_hash": [content_hash64(m) & 0x7FFF_FFFF_FFFF_FFFF
                         for m in mvts],
    })


def make_wrap_props_encoder(config: TilerConfig,
                            metrics: PipelineMetrics | None = None):
    """Premerge reduce side WITH properties [extension beyond the
    reference — its writer emits empty properties, pipeline.rs:949]: per
    tile, vectorized key/value interning (pd.factorize, first-appearance
    order) into layer-level dictionaries, the -y/-x/-X filter, and the tag
    byte-splice after the id field of each map-encoded geometry message."""
    prop_filter = _apply_property_filter(config)

    def wrap_chunk(pdf: pd.DataFrame) -> pd.DataFrame:
        return _props_tiles_frame(
            pdf["tile_id"].to_numpy(dtype=np.int64),
            pdf["feature_id"].to_numpy(dtype=np.int64),
            pdf["msg"].tolist(), pdf["props"].tolist(), prop_filter, config,
            metrics)

    return _run_carry(wrap_chunk)


def _premerge_props_stage(msgs: DataFrame, props: DataFrame,
                          config: TilerConfig,
                          num_partitions: int | None = None,
                          metrics: PipelineMetrics | None = None):
    """Premerge+props reduce stage over message records: (tile-sorted
    framed messages joined to their props entries, interning wrap
    encoder).

    The property table joins onto the message records on feature_id —
    expressed declaratively so Catalyst broadcast-joins small property
    tables and shuffle-joins big ones. One props row per feature_id:
    duplicate ids (hash-collided or duplicated source ids) must not
    MULTIPLY records through the join. The winner is the ORDERING-MINIMUM
    props value (not dropDuplicates, whose survivor is partition-order
    dependent and would break run-to-run byte determinism; ADVICE r4) —
    arrays of structs of (string, binary) are orderable in Spark, so min()
    is a stable, partitioning-independent choice. The -y/-x/-X filter runs
    after it, in the encoder."""
    parts = num_partitions or config.shuffle_partitions
    joined = msgs.join(
        props.select("feature_id", "props")
        .groupBy("feature_id").agg(F.min("props").alias("props")),
        "feature_id", "left",
    )
    shuffled = _tile_exchange(joined, parts, "tile_id")
    return (shuffled.sortWithinPartitions("tile_id", "feature_id"),
            make_wrap_props_encoder(config, metrics))


def encode_tiles_premerge_props(features: DataFrame, config: TilerConfig,
                                num_partitions: int | None = None,
                                metrics: PipelineMetrics | None = None
                                ) -> DataFrame:
    """features (with a ``props`` column) -> per-tile MVT rows with tags:
    the premerge map side, the props join on feature_id, ONE shuffle of
    the framed messages + props entries on tile_id, reduce-side vectorized
    interning + splice."""
    return _encode(_premerge_props_stage(
        _premerge_records(features, config, metrics), features, config,
        num_partitions, metrics))


def encode_tiles_with_props(records: DataFrame, props: DataFrame,
                            config: TilerConfig,
                            num_partitions: int | None = None,
                            metrics: PipelineMetrics | None = None,
                            by_range: bool = False) -> DataFrame:
    """Fan-out records (tile_id, feature_id, wkb) + (feature_id, props) ->
    per-tile MVT rows WITH tags: message-encode the records, then the
    premerge+props stage (props join, tile hash shuffle, interning wrap).
    ``by_range`` stays for callers that pass ``by_range=False``; a range
    exchange is no longer built, so ``True`` raises."""
    if by_range:
        raise ValueError("encode_tiles_with_props: by_range=True is not "
                         "supported; the tile exchange is a hash exchange")
    msgs = records.mapInPandas(make_msg_encoder(config),
                               schema=MSG_RECORDS_SCHEMA)
    return _encode(_premerge_props_stage(msgs, props, config, num_partitions,
                                         metrics))


def encode_single_tile(features: list[tuple[int, bytes]], z: int, x: int, y: int,
                       config: TilerConfig | None = None) -> bytes | None:
    """Reference ``generate_single_tile`` analog (pipeline.rs:1753):
    clip + validate + drop + MVT-encode the given (feature_id, wkb) pairs
    into ONE tile's bytes — driver-side, no Spark. Useful for debugging a
    tile, backfilling a tile server, or diffing against the distributed
    pipeline's output for the same (z, x, y). Returns None when nothing
    survives. Features are encoded in feature_id order (the pipeline's
    in-partition sort order), so bytes match the distributed encode."""
    config = (config or TilerConfig()).validate()
    lng0, lat0, lng1, lat1 = (
        float(v[0]) for v in T.tile_bounds(np.array([x]), np.array([y]), z)
    )
    buf_deg = (lng1 - lng0) * config.buffer_pixels / config.extent
    msgs: list[bytes] = []
    for fid, wkb in sorted(features, key=lambda t: t[0]):
        g = G.from_wkb(wkb)
        simplified = SK.simplify_for_zoom(g, config.max_zoom, config.extent,
                                          config.simplification)
        clipped = CK.clip_geometry(simplified, lng0, lat0, lng1, lat1, buf_deg)
        if clipped is None:
            continue
        w = _finish_clip(clipped, z, config.max_zoom, config.extent,
                         lng0, lat0, lng1, lat1, int(fid))
        if w is None:
            continue
        cmds, gtype = M.encode_geometry(G.from_wkb(w), lng0, lat0, lng1, lat1,
                                        config.extent)
        if not cmds and gtype == M.GEOM_UNKNOWN:
            continue
        msgs.append(M.encode_feature(int(fid), [], gtype, cmds))
    if not msgs:
        return None
    head, tail = mvt_fast.layer_head_tail(config.layer_name, config.extent)
    return mvt_fast.wrap_layer(head, msgs, tail)


SHARD_ENTRIES_SCHEMA = StructType(
    [
        StructField("tile_id", LongType(), False),
        StructField("z", IntegerType(), False),
        StructField("content_hash", LongType(), False),
        StructField("raw_len", LongType(), False),
        StructField("local_off", LongType(), False),
        StructField("blob_len", LongType(), False),
        StructField("n_features", LongType(), False),
        StructField("pid", IntegerType(), False),
    ]
)


def _planned_codec_backend(codec: int) -> str | None:
    """The driver's codec fingerprint for the shard writer's executor-side
    assertion — or None when the DRIVER can't compress this codec at all
    (legal: the driver only gzips root/meta, tile bytes are compressed on
    executors; an executor that also lacks the codec fails in compress()
    with its own clear error)."""
    from .kernels import pmtiles as P

    fp = P.codec_backend(codec)
    return None if fp.endswith(":unavailable") else fp


def _expected_codec_backend(features: DataFrame, codec: int) -> str | None:
    """Backend fingerprint the shard writers must all match. Normally the
    driver's own (``_planned_codec_backend``); when the driver lacks the
    codec entirely (legal — tiles compress on executors),
    probe ONE executor for its fingerprint so the cross-executor agreement
    assertion stays armed instead of silently disabling (ADVICE r6). If no
    executor has the codec either, the writer's compress() fails with its
    own clear error."""
    fp = _planned_codec_backend(codec)
    if fp is not None:
        return fp

    def probe(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from .kernels.pmtiles import codec_backend

        for pdf in batches:
            yield pd.DataFrame({"fp": [codec_backend(codec)]})

    try:
        rows = (features.sparkSession.range(1)
                .mapInPandas(probe, schema="fp string").collect())
    except Exception:  # pragma: no cover - probe is best-effort
        return None
    got = rows[0]["fp"] if rows else None
    return None if (got is None or got.endswith(":unavailable")) else got


def _shard_path(shard_dir: str, pid: int) -> str:
    return os.path.join(shard_dir, f"shard_{pid:05d}.bin")


def _entries_path(shard_dir: str, pid: int) -> str:
    return os.path.join(shard_dir, f"entries_{pid:05d}.parquet")


def _entries_arrow_schema():
    from pyspark.sql.pandas.types import to_arrow_schema

    return to_arrow_schema(SHARD_ENTRIES_SCHEMA)


# one row per reduce task that wrote a shard: its partition id, entry
# rows and summed feature count
SHARD_SUMMARY_SCHEMA = StructType(
    [
        StructField("pid", IntegerType(), False),
        StructField("entries", LongType(), False),
        StructField("features", LongType(), False),
    ]
)


def _make_shard_writer(shard_dir: str, codec: int,
                       expected_backend: str | None = None):
    """Per-partition shard writer: compresses tile blobs ON THE EXECUTORS
    and appends them to shard_{pid}.bin with in-shard dedup; streams the
    partition's 40-byte entry rows (``SHARD_ENTRIES_SCHEMA``) to
    entries_{pid}.parquet beside it (``pq.ParquetWriter``, one row group
    per batch) and returns one ``SHARD_SUMMARY_SCHEMA`` row, so neither
    tile bytes nor entry rows travel back through Spark unless the driver
    cannot read the executors' files (``_stream_shards``).

    The writer consumes TILES_SCHEMA frames straight from a reduce-side
    encoder in the same Python worker (``_shard_summaries`` runs
    ``writer(encoder(batches))`` in one mapInPandas), so tile bytes never
    make a second JVM round trip. ``pid`` is the task's
    ``TaskContext.partitionId()`` (0 outside a Spark task). A partition
    with no tiles writes no file and returns no row.

    Retry/speculation safety: each task attempt writes both files under
    attempt-unique temp names and atomically renames them to their final
    names when its iterator completes, before the summary row is
    returned. Partition contents are deterministic (tile_id shuffle +
    in-partition sort upstream), so any attempt produces byte-identical
    shard bytes and entry rows and last-rename-wins is safe; a failed
    attempt's temp files are removed, never renamed."""

    def write(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import pyarrow as pa
        import pyarrow.parquet as pq
        from pyspark import TaskContext

        from .kernels.pmtiles import codec_backend, compress

        if expected_backend is not None:
            actual = codec_backend(codec)
            if actual != expected_backend:
                raise RuntimeError(
                    "compression backend mismatch: driver planned "
                    f"{expected_backend!r} but this executor has {actual!r}; "
                    "shard bytes would not be byte-identical across the "
                    "cluster — align the image (same zstd/zlib library and "
                    "version on every node) and rerun"
                )
        tc = TaskContext.get()
        pid = tc.partitionId() if tc is not None else 0
        attempt = tc.taskAttemptId() if tc is not None else 0
        finals = (_shard_path(shard_dir, pid), _entries_path(shard_dir, pid))
        tmps = [f"{p}.attempt{attempt}.tmp" for p in finals]
        schema = _entries_arrow_schema()
        f = ent = None
        committed = False
        local_off = n_entries = n_features = 0
        by_hash: dict[tuple[int, int], tuple[int, int]] = {}
        try:
            for pdf in batches:
                if len(pdf) == 0:
                    continue
                if f is None:
                    f = open(tmps[0], "wb")
                    ent = pq.ParquetWriter(tmps[1], schema)
                hashes = pdf["content_hash"].tolist()
                raw_lens, offs, blob_lens = [], [], []
                for h, raw in zip(hashes, pdf["mvt"].tolist()):
                    key = (h, len(raw))
                    hit = by_hash.get(key)
                    if hit is None:
                        blob = compress(bytes(raw), codec)
                        hit = (local_off, len(blob))
                        by_hash[key] = hit
                        f.write(blob)
                        local_off += len(blob)
                    raw_lens.append(key[1])
                    offs.append(hit[0])
                    blob_lens.append(hit[1])
                nfeat = pdf["n_features"].to_numpy(dtype=np.int64)
                ent.write_table(pa.table({
                    "tile_id": pdf["tile_id"].to_numpy(dtype=np.int64),
                    "z": pdf["z"].to_numpy(dtype=np.int32),
                    "content_hash": np.asarray(hashes, dtype=np.int64),
                    "raw_len": np.asarray(raw_lens, dtype=np.int64),
                    "local_off": np.asarray(offs, dtype=np.int64),
                    "blob_len": np.asarray(blob_lens, dtype=np.int64),
                    "n_features": nfeat,
                    "pid": np.full(len(pdf), pid, dtype=np.int32),
                }, schema=schema))
                n_entries += len(pdf)
                n_features += int(nfeat.sum())
            committed = True
        finally:
            for h in (f, ent):
                if h is not None:
                    h.close()
            if f is not None:
                for tmp, final in zip(tmps, finals):
                    if committed:
                        os.replace(tmp, final)  # atomic commit
                    else:
                        try:
                            os.remove(tmp)
                        except OSError:
                            pass
        if f is not None:
            yield pd.DataFrame({"pid": [pid], "entries": [n_entries],
                                "features": [n_features]})

    return write


def _write_sharded_archive(output_path: str, shard_dir: str, copy_plan,
                           directory: tuple, config: TilerConfig,
                           codec: int, bounds: tuple, **counts):
    """Write a sharded archive through the shared finalize
    (``pmtiles.write_archive``). ``directory`` is (root bytes uncompressed,
    leaf section, coalesced entry count); the data section is copied from
    the shard files, one (pid, local_off, blob_len) of ``copy_plan`` per
    winner blob in data order."""
    from collections import OrderedDict

    from .kernels import pmtiles as P

    def copy_blobs(out_f) -> None:
        # true LRU of at most 64 open shard files: blobs stream in tile
        # order but live in hash-partitioned shards, so pids interleave —
        # plain dict.popitem() would evict the handle just opened (LIFO)
        # and churn open/close per blob beyond the cap
        handles: OrderedDict[int, object] = OrderedDict()
        try:
            for pid, local_off, blob_len in copy_plan:
                sf = handles.get(pid)
                if sf is None:
                    if len(handles) >= 64:
                        handles.popitem(last=False)[1].close()
                    sf = handles[pid] = open(_shard_path(shard_dir, pid),
                                             "rb")
                else:
                    handles.move_to_end(pid)
                sf.seek(local_off)
                out_f.write(sf.read(blob_len))
        finally:
            for sf in handles.values():
                sf.close()

    # the -y/-x/-X filter applies to the field metadata as to the tags
    # (pipeline.rs:483-490)
    fields = filter_field_metadata(
        config.layer_fields or {}, config.include_properties,
        config.exclude_properties, config.exclude_all_properties)
    return P.write_archive(
        output_path, *directory, copy_blobs, tile_compression=codec,
        layer_name=config.layer_name, min_zoom=config.min_zoom,
        max_zoom=config.max_zoom, fields=fields, bounds=bounds, **counts)


# rows per pyarrow read of an entry file: the finalize's merge holds at
# most one such batch per file
ENTRY_READ_ROWS = 1 << 16


def _entry_batches(path: str, columns: list[str]):
    """The entry file at ``path`` as numpy arrays of ``columns``, one
    pyarrow read batch at a time, in file (= tile_id) order."""
    import pyarrow.parquet as pq

    with pq.ParquetFile(path) as pf:
        for b in pf.iter_batches(batch_size=ENTRY_READ_ROWS, columns=columns):
            if b.num_rows:
                yield [b.column(c).to_numpy() for c in columns]


def _plan_blobs(paths: list[str], pids: list[int]):
    """Pass 1 over the entry files, then the blob plan.

    Pass 1 keeps each shard's first write of every blob. The shard writer
    appends each new (content_hash, raw_len) at the end of its shard and a
    blob is never empty, so a row whose ``local_off`` is above every
    earlier ``local_off`` in its file is that first write. It also sums
    ``n_features`` per zoom (tile_id order is zoom order, so ``z`` only
    grows within a file) and checks that every file is in tile_id order.

    The winner of each (content_hash, raw_len) is its first occurrence in
    tile order, the single writer's dedup rule; that occurrence is always
    some shard's first write. Winners in tile order are the data order,
    and a blob's final offset is the sum of the winners' lengths before
    it.

    Returns ``(tables, plan, data_len, n_tiles, features_per_zoom)``:
    ``tables[i]`` maps file ``i``'s first-write ``local_off`` (ascending)
    to the final ``(off, len)`` of its blob, and ``plan`` is the winners'
    ``(pid, local_off, blob_len)`` arrays in data order."""
    cols = ["tile_id", "content_hash", "raw_len", "local_off", "blob_len"]
    kept: list[list[np.ndarray]] = [[] for _ in cols]
    file_starts = [0]
    zsum = np.zeros(32, dtype=np.int64)
    zseen = np.zeros(32, dtype=bool)
    n_tiles = 0
    for path in paths:
        top = last_tid = -1
        for batch in _entry_batches(path, [*cols, "z", "n_features"]):
            tid, loff, z, nfeat = batch[0], batch[3], batch[5], batch[6]
            if tid[0] <= last_tid or (tid[1:] <= tid[:-1]).any():
                raise RuntimeError(
                    f"entry rows out of tile_id order in {path}")
            last_tid = int(tid[-1])
            seen_max = np.maximum.accumulate(np.concatenate(([top], loff)))
            first = loff > seen_max[:-1]
            top = int(seen_max[-1])
            for out, col in zip(kept, batch):
                out.append(col[first])
            starts = np.flatnonzero(np.diff(z, prepend=-1))
            np.add.at(zsum, z[starts], np.add.reduceat(nfeat, starts))
            zseen[z[starts]] = True
            n_tiles += len(tid)
        file_starts.append(sum(len(a) for a in kept[0]))
    features_per_zoom = {int(z): int(zsum[z]) for z in np.flatnonzero(zseen)}
    cat = []
    for out in kept:  # one column at a time, freeing its pieces
        cat.append(np.concatenate([np.empty(0, np.int64), *out]))
        out.clear()
    tid, h, raw_len, loff, blen = cat
    del cat

    order = np.lexsort((tid, raw_len, h))
    first = np.zeros(len(order), dtype=bool)
    first[:1] = True
    for key in (h, raw_len):
        ks = key[order]
        first[1:] |= ks[1:] != ks[:-1]
    del h, raw_len, key, ks
    win = order[first]  # each blob's winning row, in key order
    data = np.argsort(tid[win])  # blobs in winner-tile (= data) order
    del tid
    win_len = blen[win]
    del blen
    sizes = win_len[data]
    blob_off = np.empty(len(win), dtype=np.int64)
    blob_off[data] = np.cumsum(sizes) - sizes
    wrow = win[data]
    del win, data
    fidx = np.searchsorted(np.asarray(file_starts), wrow, side="right") - 1
    plan = (np.asarray(pids, dtype=np.int64)[fidx], loff[wrow], sizes)
    del fidx, wrow
    blob = np.cumsum(first) - 1  # each key-ordered row's blob
    del first
    off = np.empty(len(order), dtype=np.int64)
    off[order] = blob_off[blob]
    del blob_off
    length = np.empty(len(order), dtype=np.int64)
    length[order] = win_len[blob]
    del order, blob, win_len
    tables = [(loff[a:b], off[a:b], length[a:b])
              for a, b in zip(file_starts, file_starts[1:])]
    return tables, plan, int(sizes.sum()), n_tiles, features_per_zoom


def _merged_entries(paths: list[str], tables: list):
    """Windowed k-way merge of the entry files in tile_id order, each row
    mapped to its blob's final ``(off, len)`` through its file's table.
    A window ends at the smallest last tile_id among the buffered batches,
    so every row up to it is buffered. Yields each window run-coalesced,
    as ``(tid, off, len, run)`` arrays; a run can continue across
    windows."""
    from .kernels.pmtiles import coalesce_runs_arrays

    readers = [_entry_batches(p, ["tile_id", "local_off"]) for p in paths]
    bufs: dict[int, tuple] = {}

    def refill(i: int) -> None:
        batch = next(readers[i], None)
        if batch is None:
            bufs.pop(i, None)
            return
        tid, loff = batch
        t_loff, t_off, t_len = tables[i]
        j = np.searchsorted(t_loff, loff)
        bufs[i] = (tid, t_off[j], t_len[j])

    for i in range(len(paths)):
        refill(i)
    while bufs:
        bound = min(b[0][-1] for b in bufs.values())
        parts = []
        for i, (tid, off, length) in list(bufs.items()):
            cut = int(np.searchsorted(tid, bound, side="right"))
            parts.append((tid[:cut], off[:cut], length[:cut]))
            if cut == len(tid):
                refill(i)
            else:
                bufs[i] = (tid[cut:], off[cut:], length[cut:])
        tid, off, length = (np.concatenate([p[c] for p in parts])
                            for c in range(3))
        order = np.argsort(tid, kind="stable")
        yield coalesce_runs_arrays(tid[order], off[order], length[order])


def _coalesced_count(windows) -> int:
    """The exact coalesced entry count of ``_merged_entries``' windows:
    their lengths, minus one per window whose first entry continues the
    previous window's last run (``DirectoryBuilder``'s merge rule)."""
    n = 0
    cont = None  # (tile_id, off, len) that would continue the last run
    for tid, off, length, run in windows:
        n += len(tid) - (cont == (int(tid[0]), int(off[0]), int(length[0])))
        cont = (int(tid[-1] + run[-1]), int(off[-1]), int(length[-1]))
    return n


def _copy_rows(pid, local_off, blob_len, step: int = 1 << 16):
    """The copy plan's arrays as (pid, local_off, blob_len) int tuples,
    converted ``step`` rows at a time."""
    for s in range(0, len(pid), step):
        yield from zip(pid[s:s + step].tolist(),
                       local_off[s:s + step].tolist(),
                       blob_len[s:s + step].tolist())


def _finalize_entry_files(shard_dir: str, pids: list[int], output_path: str,
                          bounds: tuple, config: TilerConfig,
                          codec: int) -> dict:
    """The sharded archive's finalize, on the driver, streamed from the
    entry files of shards ``pids`` in ``shard_dir``. No Spark job runs.

    Pass 1 plans the blobs (``_plan_blobs``: cross-shard dedup, data
    order, final offsets, copy plan). Then a windowed k-way merge of the
    files in tile_id order (``_merged_entries``) runs twice: the first
    time only counts the coalesced entries, because ``DirectoryBuilder``
    needs the exact count up front to fix the root/leaf split; the second
    feeds the builder window by window. The data section is then copied
    from the shard files. Byte-identical to the reference's single
    writer (and ``PMTilesAssembler``): same winner rule, same data order,
    same directory bytes.

    Driver memory is O(shard-unique blobs), never O(entries): the plan
    holds each shard's first writes (the sum over shards of each shard's
    unique blobs), the merge holds one read batch (``ENTRY_READ_ROWS``)
    per file, and the builder one leaf plus one root pointer per leaf.
    Measured with ``scripts/measure_finalize.py`` (8 entry files): peak
    growth is about 87 B per shard-unique blob while the plan is built
    (827 MiB at 10^7 all-unique entries), of which 24 B per shard-unique
    blob (the tables) and 24 B per winner (the copy plan) stay through
    the merges; 10^7 entries over 64 blobs grow it by 90 MiB. The
    entry-frame finalize this replaced held every entry: 3.2 GiB and
    2.2 GiB at those two points. The reference's single writer keeps
    24 B per entry."""
    import tempfile

    from .kernels import pmtiles as P

    pids = sorted(pids)
    paths = [_entries_path(shard_dir, pid) for pid in pids]
    tables, plan, data_len, n_tiles, features_per_zoom = _plan_blobs(paths,
                                                                     pids)
    n_coalesced = _coalesced_count(_merged_entries(paths, tables))
    with tempfile.TemporaryFile() as leaf_tmp:
        builder = P.DirectoryBuilder(n_coalesced, P.COMPRESSION_GZIP,
                                     spill=leaf_tmp,
                                     leaf_max_entries=config.leaf_max_entries)
        for window in _merged_entries(paths, tables):
            builder.add(*window)
        root_raw, _, n_coalesced = builder.finish()
        hdr = _write_sharded_archive(
            output_path, shard_dir, _copy_rows(*plan),
            (root_raw, leaf_tmp, n_coalesced), config, codec, bounds,
            addressed=n_tiles, n_blobs=len(plan[0]), data_len=data_len,
            features_per_zoom=features_per_zoom)
    return _sink_stats(hdr, n_tiles, sum(features_per_zoom.values()), bounds)


def _sink_stats(hdr, tiles: int, features: int, bounds: tuple) -> dict:
    return {
        "tiles": tiles,
        "features": features,
        "min_zoom": hdr.min_zoom,
        "max_zoom": hdr.max_zoom,
        "unique_blobs": hdr.tile_contents_count,
        "bounds": bounds,
    }


def _driver_reads_executor_files(spark) -> bool:
    """Whether the driver can read files the executors write into a driver
    temp dir: true under a local master."""
    return spark.conf.get("spark.master", "").startswith("local")


# one row per chunk of a shard's committed files, shipped to the driver:
# the shard's summary, which file (0 = shard_{pid}.bin, 1 =
# entries_{pid}.parquet) and up to SHIP_CHUNK_BYTES of its bytes
SHIP_SCHEMA = StructType(SHARD_SUMMARY_SCHEMA.fields + [
    StructField("file", IntegerType(), False),
    StructField("data", BinaryType(), False),
])
SHIP_CHUNK_BYTES = 1 << 20


def _ship(shard_dir: str, summaries: Iterator[pd.DataFrame]
          ) -> Iterator[pd.DataFrame]:
    """The two committed files of every shard in ``summaries`` (the shard
    writer's output), as ``SHIP_SCHEMA`` rows in file order."""
    for summary in summaries:
        pid = int(summary["pid"].iloc[0])
        for k, path in enumerate((_shard_path(shard_dir, pid),
                                  _entries_path(shard_dir, pid))):
            with open(path, "rb") as f:
                while chunk := f.read(SHIP_CHUNK_BYTES):
                    yield summary.assign(file=k, data=[chunk])


def _stream_shards(encoder, codec: int, expected_backend: str | None):
    """The reduce for a driver that cannot read the executors' files:
    ``ship(writer(encoder(batches)))`` in a task-local temp dir under the
    executor's Spark local dir, removed on every exit path."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import shutil
        import tempfile

        local = tempfile.mkdtemp(prefix="gpq_shard_", dir=(
            os.environ.get("SPARK_LOCAL_DIRS") or "").split(",")[0] or None)
        try:
            write = _make_shard_writer(local, codec, expected_backend)
            yield from _ship(local, write(encoder(batches)))
        finally:
            shutil.rmtree(local, ignore_errors=True)

    return run


def _shard_summaries(sorted_in: DataFrame, encoder, shard_dir: str,
                     codec: int, expected_backend: str | None,
                     stream: bool) -> DataFrame:
    """The fused reduce: the layout's encoder feeds ``_make_shard_writer``
    in one mapInPandas, so tiles go from the encoder to the compressor and
    the shard file without a second JVM round trip. One
    ``SHARD_SUMMARY_SCHEMA`` row per shard written to ``shard_dir``, or
    with ``stream`` the shards' files as ``SHIP_SCHEMA`` rows."""
    if stream:
        return sorted_in.mapInPandas(
            _stream_shards(encoder, codec, expected_backend),
            schema=SHIP_SCHEMA)
    writer = _make_shard_writer(shard_dir, codec, expected_backend)

    def encode_and_write(batches):
        return writer(encoder(batches))

    return sorted_in.mapInPandas(encode_and_write, schema=SHARD_SUMMARY_SCHEMA)


def _receive_shards(rows, shard_dir: str) -> list[tuple[int, int, int]]:
    """Write shipped ``SHIP_SCHEMA`` rows (each shard's chunks in file
    order) into ``shard_dir``; returns each shard's (pid, entries,
    features)."""
    shards: dict[int, tuple[int, int, int]] = {}
    out = cur = None
    try:
        for r in rows:
            if (r.pid, r.file) != cur:
                if out is not None:
                    out.close()
                cur = (r.pid, r.file)
                out = open((_shard_path, _entries_path)[r.file](shard_dir,
                                                                r.pid), "wb")
                shards[r.pid] = (r.pid, r.entries, r.features)
            out.write(r.data)
    finally:
        if out is not None:
            out.close()
    return list(shards.values())


@contextmanager
def _progress_poller(metrics: PipelineMetrics, emit: Callable,
                     poll_sec: float):
    """A driver thread that emits 'fanout' progress whenever
    ``features_in`` advances and 'tiles' progress whenever ``tiles_out``
    advances, every ``poll_sec``, while the block runs; it is stopped and
    joined on every exit path."""
    stop = threading.Event()

    def poll() -> None:
        last = {}
        while not stop.wait(poll_sec):
            cur = metrics.as_dict()
            if cur["features_in"] != last.get("features_in"):
                emit("fanout", "progress", **cur)
            if cur["tiles_out"] != last.get("tiles_out"):
                emit("tiles", "progress", tiles=cur["tiles_out"], **cur)
            last = cur

    thread = threading.Thread(target=poll, name="gpq-progress-poller",
                              daemon=True)
    thread.start()
    try:
        yield
    finally:
        stop.set()
        thread.join()


def _finalize_shards(summaries: DataFrame, output_path: str, shard_dir: str,
                     bounds: tuple | None, metrics: PipelineMetrics,
                     config: TilerConfig, codec: int, stream: bool = False,
                     progress: Callable[[ProgressEvent], None] | None = None,
                     progress_poll_sec: float = 1.0) -> dict:
    """The archive writer's one Spark action and its finalize.

    Collecting ``summaries`` runs the fan-out, the shuffle and every shard
    writer; with ``stream``, the shipped rows reach the driver one
    partition at a time (``toLocalIterator``), so it holds one partition's
    compressed shard, not the archive. The bounds then come from ``metrics``
    unless the caller gave them, and ``_finalize_entry_files`` writes the
    archive on the driver from the entry files of exactly the collected
    pids, with no further Spark job. Files a previous run left in a
    reused ``shard_dir`` under other pids are never read.

    ``progress`` receives the phase events in order: 'bounds', 'fanout'
    and 'tiles' start before the action; the poller emits 'fanout' and
    'tiles' progress during it; 'fanout', 'tiles' and 'bounds' complete
    after it; 'archive' brackets the finalize."""

    def emit(phase: str, kind: str, **info) -> None:
        if progress is not None:
            progress(ProgressEvent(phase, kind, info))

    # the bounds fill in as the fan-out reads the features in the action
    emit("bounds", "start")
    emit("fanout", "start")
    emit("tiles", "start")
    with (_progress_poller(metrics, emit, progress_poll_sec)
          if progress is not None else nullcontext()):
        shards = (_receive_shards(summaries.toLocalIterator(), shard_dir)
                  if stream else
                  [(r.pid, r.entries, r.features) for r in summaries.collect()])
    emit("fanout", "complete", **metrics.as_dict())
    emit("tiles", "complete", tiles=sum(s[1] for s in shards),
         **metrics.as_dict())
    if bounds is None:
        bounds = metrics.feature_bounds()
    emit("bounds", "complete", bounds=bounds)
    emit("archive", "start")
    stats = _finalize_entry_files(shard_dir, [s[0] for s in shards],
                                  output_path, bounds, config, codec)
    emit("archive", "complete", path=output_path,
         unique_blobs=stats["unique_blobs"])
    return stats


def _check_props_input(features: DataFrame, config: TilerConfig,
                       salted: bool) -> None:
    """Reject ``config.write_properties`` where no encoder serves it: with
    ``salted``, or on features without a ``props`` column."""
    if not config.write_properties:
        return
    if salted:
        raise ValueError(
            "write_properties=True uses the tag-interning encoder and "
            "cannot combine with salted=True"
        )
    if "props" not in features.columns:
        raise ValueError(
            "write_properties=True requires a 'props' column "
            "(array<struct<key string, val binary>>) — build it with "
            "encode_props_column(df, cols)"
        )


def _tile_stage(features: DataFrame, config: TilerConfig, salted: bool,
                metrics: PipelineMetrics | None = None):
    """The one layout dispatcher -> (tile-sorted reduce input, reduce-side
    encoder).

    Rejects the option combinations no encoder serves and picks the
    layout: premerge, premerge+props with ``config.write_properties``, or
    the salted two-phase encode when ``salted`` and ``_hot_tile_ranges``
    finds a hot tile (without one, salting would only re-wrap every tile,
    so premerge runs); every layout starts from the same
    ``_premerge_records`` and ends in a hash exchange on tile_id, so the
    fan-out runs exactly once, as the shuffle's map stage. Archive bytes
    are identical on every layout. The archive bounds are not settled
    here: the fan-out fills ``metrics.bounds`` as it reads the features."""
    _check_props_input(features, config, salted)
    hot = _hot_tile_ranges(features, config) if salted else []
    records = _premerge_records(features, config, metrics)
    if hot:
        return _salted_stage(records, config, hot, metrics=metrics)
    if config.write_properties:
        return _premerge_props_stage(records, features, config,
                                     metrics=metrics)
    return _premerge_stage(records, config, metrics=metrics)


def _convert(features: DataFrame, output_path: str, config: TilerConfig,
             bounds: tuple | None, salted: bool, shard_dir: str | None,
             progress: Callable[[ProgressEvent], None] | None = None,
             progress_poll_sec: float = 1.0) -> dict:
    """The one archive writer behind ``convert`` and ``convert_sharded``.
    Without a ``shard_dir`` the shards go to a driver temp dir, removed on
    every exit path: the executors write there when the driver can read
    their files, else they ship the files through the driver."""
    import shutil
    import tempfile

    from .kernels import pmtiles as P

    metrics = PipelineMetrics.create(features.sparkSession)
    sorted_in, encoder = _tile_stage(features, config, salted, metrics)
    codec = P.CODEC_BY_NAME[config.tile_compression]
    expected_backend = _expected_codec_backend(features, codec)
    own_dir = shard_dir is None
    stream = own_dir and not _driver_reads_executor_files(
        features.sparkSession)
    shard_dir = shard_dir or tempfile.mkdtemp(prefix="gpq_shards_")
    try:
        summaries = _shard_summaries(sorted_in, encoder, shard_dir, codec,
                                     expected_backend, stream)
        stats = _finalize_shards(summaries, output_path, shard_dir, bounds,
                                 metrics, config, codec, stream, progress,
                                 progress_poll_sec)
    finally:
        if own_dir:
            shutil.rmtree(shard_dir, ignore_errors=True)
    return {**stats, "metrics": metrics.as_dict()}


def convert_sharded(features: DataFrame, output_path: str,
                    config: TilerConfig | None = None,
                    bounds: tuple[float, float, float, float] | None = None,
                    shard_dir: str | None = None,
                    salted: bool = False) -> dict:
    """``convert``'s archive writer with the shard and entry files in
    ``shard_dir``: the same bytes. Only the collected pids' files are
    read, so files another run left in a reused ``shard_dir`` do not
    matter; an explicit ``shard_dir`` is not removed afterwards.

    ``shard_dir`` must be storage visible to BOTH executors and the driver
    (NFS/fuse mount on a real cluster). Without it the shards go to a
    driver-local temp dir, which is only valid under a local master, and
    that is enforced: a non-local master without an explicit shard_dir
    raises rather than producing an archive that silently misses every
    remote executor's shards (``convert`` ships them through the driver).
    """
    config = (config or TilerConfig()).validate()
    if shard_dir is None and not _driver_reads_executor_files(
            features.sparkSession):
        master = features.sparkSession.conf.get("spark.master", "")
        raise ValueError(
            "convert_sharded: shard_dir defaults to a driver-local tempdir, "
            f"which executors cannot reach under master={master!r}. Pass "
            "shard_dir= on shared storage (visible to executors and driver)."
        )
    return _convert(features, output_path, config, bounds, salted, shard_dir)


def convert(features: DataFrame, output_path: str, config: TilerConfig | None = None,
             bounds: tuple[float, float, float, float] | None = None,
             salted: bool = False,
             progress: Callable[[ProgressEvent], None] | None = None,
             progress_poll_sec: float = 1.0) -> dict:
    """End-to-end: features DataFrame -> single .pmtiles at output_path.

    The map side fans each feature out to its tiles and encodes each
    record's feature message; ONE hash exchange on tile_id co-locates
    every tile; each reduce task wraps its tiles (premerge, premerge+props
    or, with ``salted`` and a hot tile, the salted merge: the same bytes),
    compresses them into a shard file with in-shard dedup and writes its
    entry rows beside it (``_make_shard_writer``); the driver streams the
    entry files into the archive with the reference single writer's dedup
    rule, data order and directory (``_finalize_entry_files``). The
    conversion is one Spark action. The shards go to a driver temp dir
    under a local master; elsewhere each task ships its shard's files to
    the driver, one partition at a time, so no shared storage is needed.

    Cross-shard duplicate blobs are compressed and written into every
    shard that holds them (in-shard dedup only); only the first
    occurrence's range is copied into the archive, so total compression
    work equals the reference's single writer without a global pre-pass.

    Returns summary stats, including ``metrics``: accumulator-backed
    per-stage row counts. The header bounds are ``bounds`` when given,
    else the feature bbox extremes the fan-out accumulates as it runs
    (``metrics.bounds``; NaN skipped like null, ``WORLD_BOUNDS`` for an
    input with no bbox), so no separate scan runs. ``progress`` receives
    ordered ProgressEvents (``_finalize_shards``, pipeline.rs:41-77
    analog); a driver thread emits 'fanout' and 'tiles' progress every
    ``progress_poll_sec`` in which the accumulators moved.
    """
    return _convert(features, output_path, (config or TilerConfig()).validate(),
                    bounds, salted, None, progress, progress_poll_sec)

"""Geometry clipping to (buffered) tile bounds — numpy kernels.

Semantics mirror /root/reference/crates/core/src/clip.rs:
* buffered bounds = bounds +- buffer degrees (clip.rs:47-58)
* point: inclusive containment (clip.rs:103-113)
* linestring: rect intersection; 1 surviving part -> LineString else
  MultiLineString (clip.rs:119-151)
* polygon: bbox fast paths; Sutherland-Hodgman per ring against the four
  axis edges, re-close, drop rings < 3 pts (clip.rs:189-324)
* multipolygon: per-part, None if all empty (clip.rs:327-356)

Coordinates stay f64 throughout; intersection parameter t computed exactly as
the reference does, edge order Left, Right, Bottom, Top.
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
    bbox,
)


def buffer_pixels_to_degrees(buffer_pixels: float, lng_min: float, lng_max: float, extent: int) -> float:
    """bounds.width * buffer_px / extent — width-based, so the same degree
    value applies on both axes (clip.rs:88-92)."""
    return (lng_max - lng_min) * buffer_pixels / extent


def _clip_edge(pts: np.ndarray, axis: int, bound: float, keep_ge: bool) -> np.ndarray:
    """Sutherland-Hodgman against one axis-aligned edge, vectorized.

    For each vertex pair (current, next): emit current if inside; emit the
    intersection when the edge crosses. Output order matches the reference's
    scalar loop (clip.rs:290-323).
    """
    n = len(pts)
    if n == 0:
        return pts
    cur = pts
    nxt = np.empty_like(pts)
    nxt[:-1] = pts[1:]
    nxt[-1] = pts[0]
    if keep_ge:
        inside = pts[:, axis] >= bound
    else:
        inside = pts[:, axis] <= bound
    inside_cur = inside
    inside_nxt = np.empty_like(inside)
    inside_nxt[:-1] = inside[1:]
    inside_nxt[-1] = inside[0]

    crossing = inside_cur != inside_nxt
    # intersection only where the edge actually crosses (denominator != 0)
    inter = np.empty_like(pts)
    ci = np.flatnonzero(crossing)
    if len(ci):
        c0 = cur[ci]
        c1 = nxt[ci]
        t = (bound - c0[:, axis]) / (c1[:, axis] - c0[:, axis])
        pt = c0 + t[:, None] * (c1 - c0)
        pt[:, axis] = bound
        inter[ci] = pt

    # Each input vertex i contributes: [cur_i if inside_cur] + [inter_i if crossing]
    emit_cur = inside_cur
    emit_int = crossing
    counts = emit_cur.astype(np.int64) + emit_int.astype(np.int64)
    total = int(counts.sum())
    if total == 0:
        return np.empty((0, 2), dtype=np.float64)
    out = np.empty((total, 2), dtype=np.float64)
    pos = np.concatenate(([0], np.cumsum(counts)[:-1]))
    out[pos[emit_cur]] = cur[emit_cur]
    int_pos = pos + emit_cur.astype(np.int64)
    out[int_pos[emit_int]] = inter[emit_int]
    return out


def sutherland_hodgman(ring: np.ndarray, lng_min: float, lat_min: float,
                       lng_max: float, lat_max: float) -> np.ndarray:
    """Clip a ring against the rect; re-close if needed (clip.rs:227-290).

    The reference clips the raw coordinate list including its closing
    duplicate point, treating it as a cyclic vertex list.
    """
    out = np.asarray(ring, dtype=np.float64)
    out = _clip_edge(out, 0, lng_min, True)
    out = _clip_edge(out, 0, lng_max, False)
    out = _clip_edge(out, 1, lat_min, True)
    out = _clip_edge(out, 1, lat_max, False)
    if len(out) and not np.array_equal(out[0], out[-1]):
        out = np.vstack([out, out[:1]])
    return out


def _clip_segments(lines: list[np.ndarray], lng_min: float, lat_min: float,
                   lng_max: float, lat_max: float) -> list[np.ndarray]:
    """Clip linestrings to a rect (Cohen–Sutherland style per segment, merged
    into maximal runs). The reference delegates to geo BooleanOps clip
    (clip.rs:140-151); for an axis-aligned rect the result is the same set of
    in-rect sub-paths, with vertices on the boundary at crossings."""
    out: list[np.ndarray] = []
    for ls in lines:
        a = np.asarray(ls, dtype=np.float64)
        if len(a) < 2:
            continue
        p0 = a[:-1]
        p1 = a[1:]
        d = p1 - p0
        # Liang-Barsky per segment, vectorized over all segments of the line.
        # Edge params: p_e < 0 entering (t0 = max), p_e > 0 leaving (t1 = min),
        # p_e == 0 with q_e < 0 -> fully outside that edge.
        t0 = np.zeros(len(p0))
        t1 = np.ones(len(p0))
        for p_e, q_e in (
            (-d[:, 0], p0[:, 0] - lng_min),
            (d[:, 0], lng_max - p0[:, 0]),
            (-d[:, 1], p0[:, 1] - lat_min),
            (d[:, 1], lat_max - p0[:, 1]),
        ):
            with np.errstate(divide="ignore", invalid="ignore"):
                r = np.where(p_e != 0, q_e / np.where(p_e == 0, 1.0, p_e), 0.0)
            t0 = np.where(p_e < 0, np.maximum(t0, r), t0)
            t1 = np.where(p_e > 0, np.minimum(t1, r), t1)
            reject = (p_e == 0) & (q_e < 0)
            t0 = np.where(reject, 1.0, t0)
            t1 = np.where(reject, 0.0, t1)
        visible = t0 < t1  # strictly: zero-length touches add no path
        if not visible.any():
            continue
        starts = p0 + t0[:, None] * d
        ends = p0 + t1[:, None] * d
        # stitch consecutive visible segments whose shared vertex is untouched
        run_pts: list[np.ndarray] = []
        prev_end_idx = -2
        for i in np.nonzero(visible)[0]:
            s_pt, e_pt = starts[i], ends[i]
            contiguous = (
                i == prev_end_idx + 1
                and run_pts
                and np.allclose(run_pts[-1], s_pt, rtol=0, atol=0)
            )
            if contiguous:
                run_pts.append(e_pt)
            else:
                if len(run_pts) >= 2:
                    out.append(np.array(run_pts))
                run_pts = [s_pt, e_pt]
            prev_end_idx = i
        if len(run_pts) >= 2:
            arr = np.array(run_pts)
            # drop zero-length degenerate results
            if not np.array_equal(arr.min(axis=0), arr.max(axis=0)) or len(arr) > 2:
                out.append(arr)
            elif not np.array_equal(arr[0], arr[1]):
                out.append(arr)
    return out


def clip_geometry(g: Geom, lng_min: float, lat_min: float, lng_max: float,
                  lat_max: float, buffer_deg: float) -> Geom | None:
    """Clip to buffered bounds; None when nothing survives (clip.rs:47-75)."""
    bx0 = lng_min - buffer_deg
    by0 = lat_min - buffer_deg
    bx1 = lng_max + buffer_deg
    by1 = lat_max + buffer_deg
    t, d = g

    gx0, gy0, gx1, gy1 = bbox(g)
    if gx1 < bx0 or gx0 > bx1 or gy1 < by0 or gy0 > by1:
        return None

    if t == POINT:
        x, y = float(d[0]), float(d[1])
        if bx0 <= x <= bx1 and by0 <= y <= by1:
            return g
        return None

    if t == MULTIPOINT:
        a = np.asarray(d)
        m = (a[:, 0] >= bx0) & (a[:, 0] <= bx1) & (a[:, 1] >= by0) & (a[:, 1] <= by1)
        if not m.any():
            return None
        return (MULTIPOINT, a[m])

    if t in (LINESTRING, MULTILINESTRING):
        lines = [d] if t == LINESTRING else d
        clipped = _clip_segments(lines, bx0, by0, bx1, by1)
        if not clipped:
            return None
        if len(clipped) == 1:
            return (LINESTRING, clipped[0])
        return (MULTILINESTRING, clipped)

    if t == POLYGON:
        return _clip_polygon(d, bx0, by0, bx1, by1, (gx0, gy0, gx1, gy1))

    if t == MULTIPOLYGON:
        if gx0 >= bx0 and gx1 <= bx1 and gy0 >= by0 and gy1 <= by1:
            return g  # fully inside fast path (clip.rs:334-341)
        parts = []
        for rings in d:
            sub = _clip_polygon(rings, bx0, by0, bx1, by1, None)
            if sub is not None:
                parts.append(sub[1])
        if not parts:
            return None
        return (MULTIPOLYGON, parts)

    if t == 7:  # GEOMETRYCOLLECTION (geom.GEOMETRYCOLLECTION)
        survivors = []
        for part in d:
            sub = clip_geometry(part, lng_min, lat_min, lng_max, lat_max, buffer_deg)
            if sub is not None:
                survivors.append(sub)
        if not survivors:
            return None
        if len(survivors) == 1:
            return survivors[0]
        return (7, survivors)

    return None


def polygon_column_strips(g: Geom, bx0: float, bx1: float) -> list | None:
    """Clip a POLYGON/MULTIPOLYGON's rings against the Left/Right edges only.

    Sutherland-Hodgman edge passes compose sequentially, so applying
    Bottom/Top to these strips per tile yields byte-identical output to the
    full 4-edge ``sutherland_hodgman`` — this turns O(tiles * ring_len) into
    O(columns * ring_len + tiles * strip_len) for large polygons.

    Returns per-part lists of L,R-clipped rings (ring 0 = exterior), or None
    when nothing of the geometry enters the column.
    """
    t, d = g
    parts = [d] if t == POLYGON else d
    out_parts = []
    for rings in parts:
        strips = []
        for ring in rings:
            s = _clip_edge(np.asarray(ring, dtype=np.float64), 0, bx0, True)
            s = _clip_edge(s, 0, bx1, False)
            strips.append(s)
        out_parts.append(strips)
    return out_parts


def polygon_strip_tile_clip(strip_parts: list, gtype: int,
                            by0: float, by1: float) -> Geom | None:
    """Finish a column strip for one tile (Bottom/Top edges + close), with
    the exact ring/part filtering of ``clip_geometry`` (clip.rs:189-356)."""
    out_polys = []
    for strips in strip_parts:
        if not strips:
            continue
        ext = _clip_edge(strips[0], 1, by0, True)
        ext = _clip_edge(ext, 1, by1, False)
        if len(ext) and not np.array_equal(ext[0], ext[-1]):
            ext = np.vstack([ext, ext[:1]])
        if len(ext) < 3:
            continue
        rings_out = [ext]
        for hole in strips[1:]:
            h = _clip_edge(hole, 1, by0, True)
            h = _clip_edge(h, 1, by1, False)
            if len(h) and not np.array_equal(h[0], h[-1]):
                h = np.vstack([h, h[:1]])
            if len(h) >= 3:
                rings_out.append(h)
        out_polys.append(rings_out)
    if not out_polys:
        return None
    if gtype == POLYGON:
        return (POLYGON, out_polys[0])
    return (MULTIPOLYGON, out_polys)


def clip_edge_segmented(pts: np.ndarray, offs: np.ndarray, axis: int,
                        bounds: np.ndarray, keep_ge: bool
                        ) -> tuple[np.ndarray, np.ndarray]:
    """Sutherland-Hodgman one-edge pass over MANY rings at once.

    pts: (M, 2) concatenated ring vertices; offs: (R+1,) ring offsets;
    bounds: (R,) per-ring clip bound. Per-ring output is byte-identical to
    ``_clip_edge(ring, axis, bounds[r], keep_ge)`` — this is the same
    emission rule (current-if-inside + intersection-if-crossing) computed
    globally, which turns a column of per-tile clips into ~10 numpy passes.
    """
    m = len(pts)
    r = len(offs) - 1
    if m == 0:
        return pts.reshape(0, 2), offs.copy()
    pts = np.ascontiguousarray(pts, dtype=np.float64)
    sizes = np.diff(offs)
    # per-point clip bound: direct repeat (no ring_id index array + gather)
    b = np.repeat(np.asarray(bounds, dtype=np.float64), sizes)
    vals = pts[:, axis]
    inside = vals >= b if keep_ge else vals <= b
    # successor's inside flag = plain shift + per-ring wrap fixups; cheaper
    # than materializing a full nxt_idx array and gathering through it
    inside_nxt = np.empty(m, dtype=bool)
    inside_nxt[:-1] = inside[1:]
    nonempty = sizes > 0
    ends = offs[1:][nonempty] - 1
    inside_nxt[ends] = inside[offs[:-1][nonempty]]
    crossing = inside != inside_nxt
    # ONE exclusive cumsum of the per-point emission counts (0..2) yields
    # both each point's output slot (pos) and every ring's output offset
    # (cc[offs]) — replaces the old ring_id bincount (float64 weights!) +
    # two separate cumsums
    counts = inside.astype(np.uint8)
    counts += crossing
    cc = np.empty(m + 1, dtype=np.int64)
    cc[0] = 0
    np.cumsum(counts, dtype=np.int64, out=cc[1:])
    total = int(cc[-1])
    out_offs = cc[offs]
    pos = cc[:-1]
    # view (x, y) rows as complex128 scalars: the hot gather/scatter of kept
    # vertices becomes 1-D element indexing (~2x faster than 2-D row fancy
    # indexing); bit layout is identical so output bytes are unchanged
    cpts = pts.view(np.complex128).ravel()
    out = np.empty(total, dtype=np.complex128)
    if inside.any():
        out[pos[inside]] = cpts[inside]
    ci = np.flatnonzero(crossing)
    if len(ci):
        # successor index only where a crossing actually happens: ci + 1,
        # except ring-end points wrap to their own ring start; ring lookup
        # via binary search over offs (O(|ci| log r), no O(m) ring_id)
        ring_ci = np.searchsorted(offs, ci, side="right") - 1
        nxt_ci = ci + 1
        is_end = ci == offs[ring_ci + 1] - 1
        nxt_ci[is_end] = offs[ring_ci[is_end]]
        c0 = pts[ci]
        c1 = pts[nxt_ci]
        t = (b[ci] - c0[:, axis]) / (c1[:, axis] - c0[:, axis])
        ip = c0 + t[:, None] * (c1 - c0)
        ip[:, axis] = b[ci]
        out[pos[ci] + inside[ci]] = ip.view(np.complex128).ravel()
    return out.view(np.float64).reshape(-1, 2), out_offs


def close_rings_segmented(pts: np.ndarray, offs: np.ndarray
                          ) -> tuple[np.ndarray, np.ndarray]:
    """Append the first vertex to every non-empty ring whose last vertex
    differs (the re-close step of ``sutherland_hodgman``), segmented."""
    r = len(offs) - 1
    sizes = np.diff(offs)
    if len(pts) == 0:
        return pts, offs
    nonempty = np.flatnonzero(sizes > 0)
    first = pts[offs[:-1][nonempty]]
    last = pts[offs[1:][nonempty] - 1]
    need = ~np.all(first == last, axis=1)
    add = np.zeros(r, dtype=np.int64)
    add[nonempty[need]] = 1
    if not add.any():
        return pts, offs
    new_sizes = sizes + add
    new_offs = np.zeros(r + 1, dtype=np.int64)
    np.cumsum(new_sizes, out=new_offs[1:])
    out = np.empty((int(new_offs[-1]), 2), dtype=np.float64)
    shift = np.zeros(r, dtype=np.int64)
    np.cumsum(add[:-1], out=shift[1:])
    out[np.arange(len(pts), dtype=np.int64) + np.repeat(shift, sizes)] = pts
    closing = np.flatnonzero(add == 1)
    out[new_offs[closing + 1] - 1] = pts[offs[closing]]
    return out, new_offs


def polygon_columns_strips_batch(g: Geom, bx0s: np.ndarray, bx1s: np.ndarray,
                                 max_batch_pts: int = 4_000_000) -> list:
    """``polygon_column_strips`` for MANY columns in one segmented pass.

    Returns one strip_parts list per column (byte-identical rings). The L
    and R edge passes run once over the geometry's rings replicated per
    column instead of 2 numpy calls per (column, ring)."""
    t, d = g
    parts = [d] if t == POLYGON else d
    ring_in_part = []
    rings = []
    for p in parts:
        for ri, ring in enumerate(p):
            rings.append(np.asarray(ring, dtype=np.float64))
            ring_in_part.append(ri)
    n_rings = len(rings)
    n_cols = len(bx0s)
    if n_rings == 0:
        return [[] for _ in range(n_cols)]
    base = np.concatenate([r.reshape(-1, 2) for r in rings], axis=0)
    base_sizes = np.array([len(r) for r in rings], dtype=np.int64)
    base_len = int(base_sizes.sum())
    chunk = max(1, max_batch_pts // max(base_len, 1))
    out: list = []
    for c0 in range(0, n_cols, chunk):
        c1 = min(c0 + chunk, n_cols)
        cn = c1 - c0
        pts = np.tile(base, (cn, 1))
        sizes_all = np.tile(base_sizes, cn)
        offs = np.zeros(cn * n_rings + 1, dtype=np.int64)
        np.cumsum(sizes_all, out=offs[1:])
        b_lo = np.repeat(np.asarray(bx0s[c0:c1], dtype=np.float64), n_rings)
        b_hi = np.repeat(np.asarray(bx1s[c0:c1], dtype=np.float64), n_rings)
        p1, o1 = clip_edge_segmented(pts, offs, 0, b_lo, True)
        p2, o2 = clip_edge_segmented(p1, o1, 0, b_hi, False)
        for c in range(cn):
            col_parts: list = []
            cur: list | None = None
            for k in range(n_rings):
                gi = c * n_rings + k
                if ring_in_part[k] == 0:
                    cur = []
                    col_parts.append(cur)
                cur.append(p2[o2[gi]:o2[gi + 1]])
            out.append(col_parts)
    return out


def polygon_column_tiles_clip(strip_parts: list, gtype: int,
                              by0: np.ndarray, by1: np.ndarray,
                              max_batch_pts: int = 4_000_000) -> list:
    """Finish a column strip for ALL tiles of the column in one segmented
    pass — per-tile results byte-identical to ``polygon_strip_tile_clip``.

    Replicates the strip's rings once per tile (tile-major), runs the
    Bottom and Top edge passes + re-close as three segmented kernels, then
    assembles per-tile geometries from ring slices. This removes the
    per-(tile, ring) numpy-call overhead that dominated the grid regime's
    boundary clipping (2.3M small _clip_edge calls in the round-1 profile).
    Tiles are processed in chunks so the replicated buffer stays bounded.
    """
    t_total = len(by0)
    rings = []
    ring_in_part = []
    for strips in strip_parts:
        for ri, ring in enumerate(strips):
            rings.append(np.asarray(ring, dtype=np.float64))
            ring_in_part.append(ri)
    n_rings = len(rings)
    if n_rings == 0:
        return [None] * t_total
    base = np.concatenate([r.reshape(-1, 2) for r in rings], axis=0) \
        if any(len(r) for r in rings) else np.empty((0, 2))
    base_sizes = np.array([len(r) for r in rings], dtype=np.int64)
    base_len = int(base_sizes.sum())

    chunk = max(1, max_batch_pts // max(base_len, 1))
    results: list = []
    for c0 in range(0, t_total, chunk):
        c1 = min(c0 + chunk, t_total)
        t_n = c1 - c0
        pts = np.tile(base, (t_n, 1))
        sizes_all = np.tile(base_sizes, t_n)
        offs = np.zeros(t_n * n_rings + 1, dtype=np.int64)
        np.cumsum(sizes_all, out=offs[1:])
        b_lo = np.repeat(np.asarray(by0[c0:c1], dtype=np.float64), n_rings)
        b_hi = np.repeat(np.asarray(by1[c0:c1], dtype=np.float64), n_rings)
        p1, o1 = clip_edge_segmented(pts, offs, 1, b_lo, True)
        p2, o2 = clip_edge_segmented(p1, o1, 1, b_hi, False)
        p3, o3 = close_rings_segmented(p2, o2)
        sizes3 = np.diff(o3)
        for t in range(t_n):
            out_polys = []
            cur_rings: list | None = None
            ok_ext = False
            for k in range(n_rings):
                gidx = t * n_rings + k
                n = sizes3[gidx]
                if ring_in_part[k] == 0:  # new part begins
                    if ok_ext and cur_rings:
                        out_polys.append(cur_rings)
                    ok_ext = n >= 3
                    cur_rings = [p3[o3[gidx]:o3[gidx + 1]]] if ok_ext else None
                elif ok_ext and n >= 3:
                    cur_rings.append(p3[o3[gidx]:o3[gidx + 1]])
            if ok_ext and cur_rings:
                out_polys.append(cur_rings)
            if not out_polys:
                results.append(None)
            elif gtype == POLYGON:
                results.append((POLYGON, out_polys[0]))
            else:
                results.append((MULTIPOLYGON, out_polys))
    return results


def polygons_tiles_clip_multi(geoms: list, feat_of_tile: np.ndarray,
                              bx0s: np.ndarray, by0s: np.ndarray,
                              bx1s: np.ndarray, by1s: np.ndarray,
                              max_batch_pts: int = 4_000_000) -> list:
    """Clip MANY polygon/multipolygon geometries, each against ITS OWN set
    of (buffered) tile windows, in shared segmented edge passes — the
    small-feature regime's per-(feature, window) ``clip_geometry`` calls,
    batched (they dominate the fan-out cost on vertex-dense corpora: the
    segmented kernel is agnostic to ring ownership, so one L/R/B/T pass
    can serve every feature at a zoom). The rings are replicated per
    window; an outside part emits an empty exterior (-> dropped) and a
    fully-inside ring emits its vertices unchanged, which subsumes the
    per-part bbox fast paths of ``_clip_polygon``.

    ``geoms[k]`` is clipped against window ``j`` for every j with
    ``feat_of_tile[j] == k``. Returns per-window Geom|None, aligned with
    the windows, byte-identical to ``clip_geometry`` on each pair
    (``tests/test_pipeline_e2e.py::test_fanout_matches_scalar_oracle``
    checks it through the fan-out).
    """
    n_tiles = len(bx0s)
    results: list = [None] * n_tiles
    if n_tiles == 0:
        return results
    # per-geom ring structure
    g_rings: list[list[np.ndarray]] = []
    g_ring_in_part: list[list[int]] = []
    g_sizes: list[np.ndarray] = []
    g_base: list[np.ndarray] = []
    g_type: list[int] = []
    for g in geoms:
        t, d = g
        parts = [d] if t == POLYGON else d
        rings, rip = [], []
        for p in parts:
            for ri, ring in enumerate(p):
                rings.append(np.asarray(ring, dtype=np.float64))
                rip.append(ri)
        g_rings.append(rings)
        g_ring_in_part.append(rip)
        sz = np.array([len(r) for r in rings], dtype=np.int64)
        g_sizes.append(sz)
        g_base.append(
            np.concatenate([r.reshape(-1, 2) for r in rings], axis=0)
            if rings else np.empty((0, 2), dtype=np.float64))
        g_type.append(t)

    feat_of_tile = np.asarray(feat_of_tile, dtype=np.int64)
    pts_per_tile = np.array(
        [int(g_sizes[f].sum()) for f in feat_of_tile], dtype=np.int64)
    rings_per_tile = np.array(
        [len(g_sizes[f]) for f in feat_of_tile], dtype=np.int64)

    c0 = 0
    while c0 < n_tiles:
        c1 = c0 + 1
        tot = int(pts_per_tile[c0])
        while c1 < n_tiles and tot + int(pts_per_tile[c1]) <= max_batch_pts:
            tot += int(pts_per_tile[c1])
            c1 += 1
        sel = range(c0, c1)
        pts = np.concatenate([g_base[int(feat_of_tile[j])] for j in sel],
                             axis=0)
        sizes_all = np.concatenate([g_sizes[int(feat_of_tile[j])]
                                    for j in sel])
        offs = np.zeros(len(sizes_all) + 1, dtype=np.int64)
        np.cumsum(sizes_all, out=offs[1:])
        reps = rings_per_tile[c0:c1]

        def rep(arr):
            return np.repeat(np.asarray(arr[c0:c1], dtype=np.float64), reps)

        p_, o_ = clip_edge_segmented(pts, offs, 0, rep(bx0s), True)
        p_, o_ = clip_edge_segmented(p_, o_, 0, rep(bx1s), False)
        p_, o_ = clip_edge_segmented(p_, o_, 1, rep(by0s), True)
        p_, o_ = clip_edge_segmented(p_, o_, 1, rep(by1s), False)
        p_, o_ = close_rings_segmented(p_, o_)
        sizes_out = np.diff(o_)

        gi = 0
        for j in sel:
            f = int(feat_of_tile[j])
            rip = g_ring_in_part[f]
            out_polys = []
            cur: list | None = None
            ok_ext = False
            for k in range(len(rip)):
                n = sizes_out[gi + k]
                if rip[k] == 0:
                    if ok_ext and cur:
                        out_polys.append(cur)
                    ok_ext = n >= 3
                    cur = ([p_[o_[gi + k]:o_[gi + k + 1]]]
                           if ok_ext else None)
                elif ok_ext and n >= 3:
                    cur.append(p_[o_[gi + k]:o_[gi + k + 1]])
            if ok_ext and cur:
                out_polys.append(cur)
            if out_polys:
                if g_type[f] == POLYGON:
                    results[j] = (POLYGON, out_polys[0])
                else:
                    results[j] = (MULTIPOLYGON, out_polys)
            gi += len(rip)
        c0 = c1
    return results


def lines_tiles_clip_batch(g: Geom, bx0s: np.ndarray, by0s: np.ndarray,
                           bx1s: np.ndarray, by1s: np.ndarray) -> list:
    """Clip a LINESTRING/MULTILINESTRING against MANY (buffered) tile
    windows at once — per-tile results byte-identical to ``clip_geometry``'s
    line path (Liang-Barsky per segment + run stitching).

    Vectorized over (tile, segment) pairs; the stitch (merge consecutive
    visible segments sharing an untouched vertex) runs as flat array ops
    with run-ids instead of the per-segment Python loop.
    """
    t, d = g
    lines = [d] if t == LINESTRING else d
    n_tiles = len(bx0s)
    results: list = [None] * n_tiles
    bx0s = np.asarray(bx0s, dtype=np.float64)
    by0s = np.asarray(by0s, dtype=np.float64)
    bx1s = np.asarray(bx1s, dtype=np.float64)
    by1s = np.asarray(by1s, dtype=np.float64)

    # collect clipped parts per tile, preserving input part order
    tile_parts: list[list[np.ndarray]] = [[] for _ in range(n_tiles)]
    for ls in lines:
        a = np.asarray(ls, dtype=np.float64)
        if len(a) < 2:
            continue
        p0 = a[:-1]
        p1 = a[1:]
        dseg = p1 - p0
        s = len(p0)
        # Liang-Barsky over the (tile, segment) grid — identical parameter
        # updates to _clip_segments, broadcast over tiles
        t0 = np.zeros((n_tiles, s))
        t1 = np.ones((n_tiles, s))
        for p_e, q_e in (
            (-dseg[:, 0][None, :], p0[:, 0][None, :] - bx0s[:, None]),
            (dseg[:, 0][None, :], bx1s[:, None] - p0[:, 0][None, :]),
            (-dseg[:, 1][None, :], p0[:, 1][None, :] - by0s[:, None]),
            (dseg[:, 1][None, :], by1s[:, None] - p0[:, 1][None, :]),
        ):
            with np.errstate(divide="ignore", invalid="ignore"):
                r = np.where(p_e != 0, q_e / np.where(p_e == 0, 1.0, p_e), 0.0)
            t0 = np.where(p_e < 0, np.maximum(t0, r), t0)
            t1 = np.where(p_e > 0, np.minimum(t1, r), t1)
            reject = (p_e == 0) & (q_e < 0)
            t0 = np.where(reject, 1.0, t0)
            t1 = np.where(reject, 0.0, t1)
        visible = t0 < t1
        if not visible.any():
            continue
        vt, vs = np.nonzero(visible)  # tile-major, segment ascending
        t0v = t0[vt, vs][:, None]
        t1v = t1[vt, vs][:, None]
        starts_c = p0[vs] + t0v * dseg[vs]
        ends_c = p0[vs] + t1v * dseg[vs]
        # run breaks: different tile, non-consecutive segment, or the shared
        # vertex was clipped (exact coordinate comparison, like the scalar
        # np.allclose(rtol=0, atol=0))
        new_run = np.ones(len(vt), dtype=bool)
        if len(vt) > 1:
            same = (
                (vt[1:] == vt[:-1])
                & (vs[1:] == vs[:-1] + 1)
                & np.all(ends_c[:-1] == starts_c[1:], axis=1)
            )
            new_run[1:] = ~same
        run_id = np.cumsum(new_run) - 1
        n_runs = int(run_id[-1]) + 1
        run_len = np.bincount(run_id, minlength=n_runs)
        run_first = np.flatnonzero(new_run)
        run_tile = vt[run_first]
        # last run per tile (for the final-run degeneracy rule)
        is_last_run = np.ones(n_runs, dtype=bool)
        is_last_run[:-1] = run_tile[1:] != run_tile[:-1]
        # vertex layout per run: [start_of_first, end_0, end_1, ...]
        nvert = run_len + 1
        v_off = np.zeros(n_runs + 1, dtype=np.int64)
        np.cumsum(nvert, out=v_off[1:])
        coords = np.empty((int(v_off[-1]), 2), dtype=np.float64)
        coords[v_off[:-1]] = starts_c[run_first]
        run_start_pos = np.zeros(n_runs, dtype=np.int64)
        run_start_pos[1:] = np.cumsum(run_len)[:-1]
        local = np.arange(len(vt), dtype=np.int64) - run_start_pos[run_id]
        coords[v_off[:-1][run_id] + 1 + local] = ends_c
        # degeneracy: the LAST run of a (tile, part) with exactly 2 equal
        # vertices is dropped (matches _clip_segments' tail handling)
        drop_run = (
            is_last_run
            & (nvert == 2)
            & np.all(
                coords[v_off[:-1]] == coords[np.maximum(v_off[1:] - 1, 0)], axis=1
            )
        )
        for rj in range(n_runs):
            if drop_run[rj]:
                continue
            tile_parts[int(run_tile[rj])].append(coords[v_off[rj]:v_off[rj + 1]])

    for i in range(n_tiles):
        parts = tile_parts[i]
        if not parts:
            continue
        if len(parts) == 1:
            results[i] = (LINESTRING, parts[0])
        else:
            results[i] = (MULTILINESTRING, parts)
    return results


def _clip_polygon(rings: list[np.ndarray], bx0, by0, bx1, by1, pre_bbox) -> Geom | None:
    if pre_bbox is None:
        xs = np.concatenate([np.asarray(r)[:, 0] for r in rings])
        ys = np.concatenate([np.asarray(r)[:, 1] for r in rings])
        gx0, gy0, gx1, gy1 = xs.min(), ys.min(), xs.max(), ys.max()
    else:
        gx0, gy0, gx1, gy1 = pre_bbox
    if gx1 < bx0 or gx0 > bx1 or gy1 < by0 or gy0 > by1:
        return None
    # fully-inside fast path (clip.rs:196-203)
    if gx0 >= bx0 and gx1 <= bx1 and gy0 >= by0 and gy1 <= by1:
        return (POLYGON, rings)
    ext = sutherland_hodgman(rings[0], bx0, by0, bx1, by1)
    if len(ext) < 3:
        return None
    out_rings = [ext]
    for hole in rings[1:]:
        ch = sutherland_hodgman(hole, bx0, by0, bx1, by1)
        if len(ch) >= 3:
            out_rings.append(ch)
    return (POLYGON, out_rings)

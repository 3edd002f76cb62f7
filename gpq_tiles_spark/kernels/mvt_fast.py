"""Vectorized MVT tile encoding for tile_id-sorted record runs.

The encode stage is the per-tile hot loop of the whole engine (one iteration
per output tile; 100Ms of tiles at production scale), so it avoids pandas
groupby, per-tile kernel calls, and per-feature WKB re-parsing:

* run boundaries found with one numpy comparison;
* tile bounds computed vectorized for ALL runs at once (per-row zoom);
* point features (the dominant class in document corpora) are decoded in
  bulk with an unaligned structured dtype over the concatenated WKB buffer,
  quantized vectorized, and assembled as protobuf bytes with precomputed
  command ints;
* non-point features fall back to the exact kernel path
  (kernels.mvt.encode_geometry), preserving bit-parity with the reference.

Output bytes are identical to LayerBuilder's (tests assert equality).
"""

from __future__ import annotations

import numpy as np

from . import geom as G
from . import mvt as M
from . import hilbert as Hc
from . import tile_math as T
from .hashes import content_hash64

_POINT_DT = np.dtype(
    {"names": ["x", "y"], "formats": ["<f8", "<f8"], "offsets": [5, 13], "itemsize": 21}
)


def _varint(v: int) -> bytes:
    out = bytearray()
    v &= 0xFFFF_FFFF_FFFF_FFFF
    while v >= 0x80:
        out.append((v & 0x7F) | 0x80)
        v >>= 7
    out.append(v)
    return bytes(out)


def _point_feature_bytes(fid: int, zzx: int, zzy: int) -> bytes:
    """Feature{id, type=POINT, geometry=[9, zzx, zzy]} message bytes.
    Field layout identical to kernels.mvt.encode_feature with empty tags."""
    geom_payload = b"\x09" + _varint(zzx) + _varint(zzy)
    return (
        b"\x08" + _varint(fid)          # field 1: id
        + b"\x18\x01"                    # field 3: type = POINT
        + b"\x22" + _varint(len(geom_payload)) + geom_payload  # field 4 packed
    )


def layer_head_tail(layer_name: str, extent: int) -> tuple[bytes, bytes]:
    head = b"\x0a" + _varint(len(layer_name)) + layer_name.encode()
    tail = b"\x28" + _varint(extent) + b"\x78\x02"  # extent(5), version(15)=2
    return head, tail


def wrap_layer(head: bytes, feature_msgs: list[bytes], tail: bytes) -> bytes:
    parts = [head]
    for fmsg in feature_msgs:
        parts.append(b"\x12" + _varint(len(fmsg)) + fmsg)
    parts.append(tail)
    layer = b"".join(parts)
    return b"\x1a" + _varint(len(layer)) + layer


def encode_record_msgs(tid: np.ndarray, fid: np.ndarray, wkbs: np.ndarray,
                       extent: int, buffer_px: float = 8.0):
    """Per-RECORD framed feature messages (premerge map-side encode).

    Input records may be in ANY order (fan-out output frames, pre-shuffle).
    Each record is encoded against its own tile's bounds into the framed
    message ``[0x12][varint(len)][body]`` — byte-identical to the slice this
    record would occupy in ``encode_sorted_runs``'s per-tile body, because
    the MVT cursor resets per feature and message bytes depend only on
    (fid, geometry, tile bounds). Dead records (nothing encodable) return
    ``b""`` and still occupy a row, so downstream per-tile record counts
    match the single-phase encoder exactly.

    Returns an Arrow ``binary`` array of length n wrapped in
    ``pd.arrays.ArrowExtensionArray``: the assembled message buffer and
    its record offsets become the Arrow data and offsets buffers as they
    are, so a fan-out frame reaches the JVM without one Python ``bytes``
    object per record. Raises OverflowError when the buffer outgrows the
    int32 offsets of ``binary``.
    """
    n = len(tid)
    if n == 0:
        return _binary_array(np.zeros(1, dtype=np.int64),
                             np.empty(0, dtype=np.uint8))
    uniq_tid, gidx = np.unique(tid, return_inverse=True)
    g_z, g_x, g_y = Hc.tile_id_to_zxy_vec(uniq_tid)
    lng0, lat0, lng1, lat1 = T.tile_bounds_mixed(g_x, g_y, g_z)

    buf, rec_off = _assemble_feature_messages(
        fid, wkbs, gidx, lng0, lat0, lng1, lat1, extent, buffer_px)
    return _binary_array(rec_off, buf)


def _binary_array(offsets: np.ndarray, data: np.ndarray):
    """Arrow ``binary`` column over (n+1 offsets, uint8 data), zero-copy
    for the data buffer."""
    import pandas as pd
    import pyarrow as pa

    if int(offsets[-1]) > np.iinfo(np.int32).max:
        raise OverflowError(
            f"{int(offsets[-1])} message bytes exceed the int32 offsets of "
            "an Arrow binary column")
    arr = pa.Array.from_buffers(
        pa.binary(), len(offsets) - 1,
        [None, pa.py_buffer(offsets.astype(np.int32)), pa.py_buffer(data)])
    return pd.arrays.ArrowExtensionArray(arr)


def wrap_sorted_msgs(tid: np.ndarray, msgs, layer_name: str, extent: int,
                     fids: np.ndarray | None = None,
                     max_tile_bytes: int | None = None,
                     cap_stats: list | None = None,
                     n_records: np.ndarray | None = None,
                     lens: np.ndarray | None = None):
    """Reduce-side wrap: consecutive (tile_id-sorted) runs of framed
    messages -> per-tile MVT rows, each tile's body its run's items joined
    in order. An item is one record's framed message or, with
    ``n_records``, that many records' framed messages already concatenated
    (a salted bucket body, ``concat_runs``). ``n_features`` counts ALL
    records of the run (dead records ship as zero-length messages),
    matching ``encode_sorted_runs``. ``max_tile_bytes`` applies the same
    per-tile byte budget as encode_sorted_runs over the per-record ``fids``
    and framed ``lens`` (by default the item lengths, one record per item)
    so every layout stays byte-identical. Returns the TILES_SCHEMA column
    dict."""
    if max_tile_bytes is not None and fids is None:
        raise ValueError(
            "wrap_sorted_msgs: max_tile_bytes requires fids (the budget "
            "rule keys on feature_id)"
        )
    n = len(tid)
    starts = np.flatnonzero(np.concatenate(([True], tid[1:] != tid[:-1])))
    ends = np.append(starts[1:], n)
    g_tid = tid[starts]
    g_z, g_x, g_y = Hc.tile_id_to_zxy_vec(g_tid)
    head, tail = layer_head_tail(layer_name, extent)
    if n_records is None:
        rec_off = np.arange(n + 1, dtype=np.int64)
    else:
        rec_off = np.zeros(n + 1, dtype=np.int64)
        np.cumsum(n_records, out=rec_off[1:])
    if max_tile_bytes is not None and lens is None:
        lens = np.fromiter(map(len, msgs), dtype=np.int64, count=n)
    out_mvt: list[bytes] = []
    out_hash: list[int] = []
    out_nf = rec_off[ends] - rec_off[starts]
    for gi in range(len(starts)):
        body = b"".join(msgs[starts[gi]:ends[gi]])
        if max_tile_bytes is not None and len(body) > max_tile_bytes:
            from .drop import tile_budget_keep_mask

            r0, r1 = rec_off[starts[gi]], rec_off[ends[gi]]
            mask = tile_budget_keep_mask(
                np.asarray(fids[r0:r1], dtype=np.int64), lens[r0:r1],
                int(g_tid[gi]), max_tile_bytes)
            off = np.concatenate(([0], np.cumsum(lens[r0:r1]))).tolist()
            keep = np.flatnonzero(mask).tolist()
            body = b"".join(body[off[i]:off[i + 1]] for i in keep)
            out_nf[gi] = len(keep)
            if cap_stats is not None:
                cap_stats[0] += 1
                cap_stats[1] += int(r1 - r0) - len(keep)
        layer = head + body + tail
        mvt = b"\x1a" + _varint(len(layer)) + layer
        out_mvt.append(mvt)
        out_hash.append(content_hash64(mvt) & 0x7FFF_FFFF_FFFF_FFFF)
    return {
        "tile_id": g_tid,
        "z": g_z.astype(np.int32),
        "x": g_x,
        "y": g_y,
        "n_features": out_nf,
        "mvt": out_mvt,
        "content_hash": np.array(out_hash, dtype=np.int64),
    }


def concat_runs(starts: np.ndarray, fid: np.ndarray, msgs: list) -> dict:
    """Per run of framed messages (rows ``starts[i]`` up to the next
    start; one salted (tile_id, salt) bucket each): the record count, the
    records' feature ids and framed lengths as packed little-endian int64,
    and the run's messages concatenated. Each column is an Arrow binary
    array over one buffer, so no Python object is built per record;
    ``wrap_sorted_msgs(n_records=...)`` joins a tile's bodies."""
    n = len(fid)
    lens = np.fromiter(map(len, msgs), dtype=np.int64, count=n)
    rec_off = np.zeros(n + 1, dtype=np.int64)
    np.cumsum(lens, out=rec_off[1:])
    bounds = np.append(starts, n).astype(np.int64)
    return {
        "n_records": np.diff(bounds),
        "fids": _binary_array(
            bounds * 8, np.ascontiguousarray(fid, dtype="<i8").view(np.uint8)),
        "lens": _binary_array(bounds * 8, lens.view(np.uint8)),
        "body": _binary_array(rec_off[bounds],
                              np.frombuffer(b"".join(msgs), dtype=np.uint8)),
    }


def _concat_wkbs(wkbs: np.ndarray, lens: np.ndarray):
    """One concatenated buffer over all record WKBs + per-record offsets —
    the bulk decoders slice payloads and gather headers from this instead of
    re-joining bytes per category (one pass over the bytes total)."""
    cat = b"".join(wkbs)
    buf8 = np.frombuffer(cat, dtype=np.uint8)
    offs = np.zeros(len(lens) + 1, dtype=np.int64)
    np.cumsum(lens, out=offs[1:])
    return buf8, offs, cat


def _bulk_points(buf8: np.ndarray, woffs: np.ndarray, lens: np.ndarray,
                 gidx: np.ndarray, lng0, lat0, lng1, lat1,
                 extent: int, wkb_cat: bytes = b""):
    """Shared bulk point decode + quantization; returns (is_pt, px, py)."""
    n = len(lens)
    is_pt = lens == 21
    px = np.zeros(n, dtype=np.int64)
    py = np.zeros(n, dtype=np.int64)
    if is_pt.any():
        pt_rows = np.flatnonzero(is_pt)
        buf = _slice_payload(wkb_cat, woffs[pt_rows],
                             np.full(len(pt_rows), 21, dtype=np.int64))
        arr = np.frombuffer(buf, dtype=_POINT_DT)
        hdr = np.frombuffer(buf, dtype=np.uint8).reshape(-1, 21)
        ok = (hdr[:, 0] == 1) & (hdr[:, 1] == 1) & (hdr[:, 2] == 0)
        if not ok.all():
            bad = pt_rows[~ok]
            is_pt[bad] = False
            pt_rows = pt_rows[ok]
            arr = arr[ok]
        if len(pt_rows):
            g = gidx[pt_rows]
            fx = (arr["x"] - lng0[g]) / (lng1[g] - lng0[g]) * extent
            fy = (1.0 - (arr["y"] - lat0[g]) / (lat1[g] - lat0[g])) * extent
            px[pt_rows] = M.round_half_away(fx).astype(np.int64)
            py[pt_rows] = M.round_half_away(fy).astype(np.int64)
    return is_pt, px, py


def _slice_payload(wkb_cat: bytes, starts_bytes: np.ndarray,
                   nbytes: np.ndarray) -> bytes:
    """Concatenate per-row byte ranges with C-speed slicing (memcpy per row
    beats per-byte numpy gathers for multi-KB payloads)."""
    s = starts_bytes.tolist()
    e = (starts_bytes + nbytes).tolist()
    return b"".join(wkb_cat[a:b] for a, b in zip(s, e))


def _quantize_zigzag_interleaved(coords: np.ndarray, gr: np.ndarray,
                                 npts: np.ndarray, starts: np.ndarray,
                                 lng0, lat0, lng1, lat1,
                                 extent: int) -> np.ndarray:
    """(m,2) degree coords -> interleaved zigzag int64 array [zzx0, zzy0,
    zzx1, ...] with per-ring cursor resets, in ONE pass over the
    interleaved layout (the WKB payload is already x,y-interleaved, so
    never de-interleaving saves ~half the memory traffic of the old
    fx/fy/px/py/zzx/zzy/interleave chain at tens of millions of points).

    Bit-identical to the slot-wise formulas of kernels.mvt.geo_to_tile_px:
    x slots  round_half_away((x - lng0)/(lng1 - lng0) * extent)
    y slots  round_half_away((1 - (y - lat0)/(lat1 - lat0)) * extent)
    then per-slot delta vs the previous point (0 at each ring start) and
    zigzag masked to 32 bits.

    ``gr`` maps each RECORD (ring) to its tile-window group; ``npts`` /
    ``starts`` are the per-record point counts and exclusive-cumsum starts.
    """
    flat = coords.reshape(-1)           # contiguous [x0, y0, x1, y1, ...]
    nrows = len(gr)
    # per-record window params, interleaved (x-slot, y-slot) pairs, then
    # expanded per point with one contiguous repeat
    par_off = np.empty((nrows, 2), dtype=np.float64)
    par_off[:, 0] = lng0[gr]
    par_off[:, 1] = lat0[gr]
    par_den = np.empty((nrows, 2), dtype=np.float64)
    par_den[:, 0] = lng1[gr]
    par_den[:, 0] -= par_off[:, 0]
    par_den[:, 1] = lat1[gr]
    par_den[:, 1] -= par_off[:, 1]
    off2 = np.repeat(par_off, npts, axis=0).reshape(-1)
    den2 = np.repeat(par_den, npts, axis=0).reshape(-1)
    f = np.subtract(flat, off2, out=off2)   # reuse off2's buffer
    f /= den2
    # x slots: f*extent ; y slots: (1-f)*extent — strided in-place halves
    fy = f[1::2]
    np.subtract(1.0, fy, out=fy)
    f *= float(extent)
    # round half away from zero (reuse den2 as scratch)
    t = np.abs(f, out=den2)
    t += 0.5
    np.floor(t, out=t)
    np.copysign(t, f, out=t)
    q = t.astype(np.int64)
    # delta vs previous point (slot-wise shift by 2), ring starts reset to 0
    prev = np.empty_like(q)
    prev[2:] = q[:-2]
    s2 = 2 * starts
    prev[s2] = 0
    prev[s2 + 1] = 0
    q -= prev
    # zigzag in place
    sign = q >> 63
    q <<= 1
    q ^= sign
    q &= 0xFFFFFFFF
    return q


_LS_HDR = b"\x01\x02\x00\x00\x00"


def _bulk_lines(buf8: np.ndarray, woffs: np.ndarray, wkb_cat: bytes,
                gidx: np.ndarray, lens: np.ndarray,
                lng0, lat0, lng1, lat1, extent: int):
    """Bulk path for single-part LineStrings: decode all coords in one
    buffer, quantize + delta + zigzag vectorized. Returns (is_ls, per-row
    (start, npts) index arrays, interleaved zigzag array) — command
    assembly slices the shared array per row.
    Byte-identical to kernels.mvt.encode_linestring (cursor starts at 0)."""
    n = len(lens)
    is_ls = np.zeros(n, dtype=bool)
    cand = np.flatnonzero((lens >= 9 + 32) & ((lens - 9) % 16 == 0))
    if len(cand) == 0:
        return is_ls, None, None, None
    # header AND embedded u32 point count must match the length-derived
    # count; a padded/count-mismatched WKB falls back to the exact parser
    hdr = buf8[woffs[cand][:, None] + np.arange(9, dtype=np.int64)[None, :]]
    want = np.frombuffer(_LS_HDR, dtype=np.uint8)
    cnt = np.ascontiguousarray(hdr[:, 5:9]).view("<u4")[:, 0].astype(np.int64)
    ok = np.all(hdr[:, :5] == want[None, :], axis=1) & (cnt == (lens[cand] - 9) // 16)
    rows = cand[ok]
    if len(rows) == 0:
        return is_ls, None, None, None
    is_ls[rows] = True
    npts = ((lens[rows] - 9) // 16).astype(np.int64)
    payload = _slice_payload(wkb_cat, woffs[rows] + 9, lens[rows] - 9)
    coords = np.frombuffer(payload, dtype="<f8").reshape(-1, 2)
    starts = np.concatenate(([0], np.cumsum(npts)[:-1]))
    inter = _quantize_zigzag_interleaved(
        coords, gidx[rows], npts, starts, lng0, lat0, lng1, lat1, extent)
    row_start = np.full(n, -1, dtype=np.int64)
    row_npts = np.zeros(n, dtype=np.int64)
    row_start[rows] = starts
    row_npts[rows] = npts
    return is_ls, row_start, row_npts, inter


_P1_HDR = b"\x01\x03\x00\x00\x00\x01\x00\x00\x00"


def _bulk_poly1(buf8: np.ndarray, woffs: np.ndarray, wkb_cat: bytes,
                gidx: np.ndarray, lens: np.ndarray,
                lng0, lat0, lng1, lat1, extent: int):
    """Bulk path for single-ring polygons of any size (canonical interior
    rects, building quads, clipped boundary rings alike).

    Vectorized: bulk coord decode, per-ring shoelace orientation (CCW
    exterior, matching orient_rings), quantization, delta + zigzag with
    per-record cursor resets. Returns (is_p1, row_start, row_npts, inter)
    where command assembly per row is [MoveTo1, zz0, LineTo(n-2), zz...,
    ClosePath] — byte-identical to kernels.mvt.encode_polygon.
    """
    n = len(lens)
    is_p1 = np.zeros(n, dtype=bool)
    cand = np.flatnonzero((lens >= 13 + 4 * 16) & ((lens - 13) % 16 == 0))
    if len(cand) == 0:
        return is_p1, None, None, None
    # verify header + embedded u32 ring point count against the length
    hdr = buf8[woffs[cand][:, None] + np.arange(13, dtype=np.int64)[None, :]]
    want = np.frombuffer(_P1_HDR, dtype=np.uint8)
    cnt = np.ascontiguousarray(hdr[:, 9:13]).view("<u4")[:, 0].astype(np.int64)
    ok = np.all(hdr[:, :9] == want[None, :], axis=1) & (cnt == (lens[cand] - 13) // 16)
    rows = cand[ok]
    if len(rows) == 0:
        return is_p1, None, None, None
    is_p1[rows] = True
    npts = ((lens[rows] - 13) // 16).astype(np.int64)
    coords = np.frombuffer(
        _slice_payload(wkb_cat, woffs[rows] + 13, lens[rows] - 13),
        dtype="<f8").reshape(-1, 2)
    starts = np.concatenate(([0], np.cumsum(npts)[:-1]))

    # orientation: signed ring area via cross-term reduceat (per record).
    # interior terms come from shifted contiguous views; only the O(nrows)
    # ring-end wrap terms need gathers (the old per-point nxt index array
    # + two full fancy gathers were ~3x the traffic for the same sums)
    x, y = coords[:, 0], coords[:, 1]
    m = len(x)
    ends = starts + npts - 1
    cross = np.empty(m, dtype=np.float64)
    cross[:-1] = x[:-1] * y[1:]
    cross[:-1] -= x[1:] * y[:-1]
    cross[ends] = x[ends] * y[starts] - x[starts] * y[ends]
    a2 = np.add.reduceat(cross, starts)
    flip = a2 < 0  # exterior must be CCW (orient_rings)
    if flip.any():
        # gather only when some ring actually reverses — clip kernels
        # preserve input orientation, so on CCW-ring corpora this whole
        # branch (3 full-size index builds + a 16-byte/pt gather) is skipped
        rec = np.repeat(np.arange(len(rows)), npts)
        local = np.arange(m, dtype=np.int64) - starts[rec]
        rev = starts[rec] + (npts[rec] - 1 - local)
        src_idx = np.where(flip[rec], rev, np.arange(m, dtype=np.int64))
        coords = coords[src_idx]

    inter = _quantize_zigzag_interleaved(
        coords, gidx[rows], npts, starts, lng0, lat0, lng1, lat1, extent)
    row_start = np.full(n, -1, dtype=np.int64)
    row_npts = np.zeros(n, dtype=np.int64)
    row_start[rows] = starts
    row_npts[rows] = npts
    return is_p1, row_start, row_npts, inter


def _batch_geom_fields(row_start: np.ndarray, row_npts: np.ndarray,
                       rows: np.ndarray, inter: np.ndarray,
                       kind: str) -> tuple[bytes, np.ndarray, np.ndarray]:
    """Vectorized packed-geometry-field bytes for many rows at once.

    Builds the full MVT command-value array for all `rows` (each row is a
    single-ring polygon or a linestring whose zigzag pairs live in `inter`
    at [2*start, 2*start+2*npts)), varint-encodes everything in ONE numpy
    pass, and returns (buffer, byte_offsets, byte_lengths) so each row's
    field-4 payload is a cheap slice. Byte-identical to the per-row
    ``kernels.mvt`` encode_polygon/encode_linestring + varint path.
    """
    n_rows = len(rows)
    s = row_start[rows]
    p = row_npts[rows]
    if kind == "poly":
        # [MoveTo1, zz0x, zz0y, LineTo(n-2), pairs(1..n-2), ClosePath]
        per_row = 2 * p + 1
    else:
        # [MoveTo1, zz0x, zz0y, LineTo(n-1), pairs(1..n-1)]
        per_row = 2 * p + 2
    offs = np.concatenate(([0], np.cumsum(per_row)[:-1]))
    total = int(per_row.sum())
    vals = np.empty(total, dtype=np.uint64)
    vals[offs] = 9  # MoveTo count 1
    vals[offs + 1] = inter[2 * s]
    vals[offs + 2] = inter[2 * s + 1]
    if kind == "poly":
        vals[offs + 3] = (2 & 0x7) | ((p - 2) << 3)
        vals[offs + per_row - 1] = 15  # ClosePath
        n_mid = 2 * (p - 2)
    else:
        vals[offs + 3] = (2 & 0x7) | ((p - 1) << 3)
        n_mid = 2 * (p - 1)
    # copy the middle zigzag pairs: out positions offs+4.., src 2s+2..
    if int(n_mid.sum()):
        s2 = 2 * s
        seg_end = s2 + 2 * p
        # fast path: the rows' inter segments tile `inter` contiguously in
        # row order (true for every current caller — inter is built with an
        # exclusive-cumsum start per row over exactly these rows).  Then the
        # copy is a boolean-mask compress/place pair (1 B/slot of mask
        # traffic) instead of repeat+arange fancy indexing (~7 int64 temps,
        # 8 B/slot each).
        if bool(s2[0] == 0) and seg_end[-1] == len(inter) \
                and np.all(s2[1:] == seg_end[:-1]):
            src_mask = np.ones(len(inter), dtype=bool)
            src_mask[s2] = False
            src_mask[s2 + 1] = False
            dst_mask = np.ones(total, dtype=bool)
            dst_mask[offs] = False
            dst_mask[offs + 1] = False
            dst_mask[offs + 2] = False
            dst_mask[offs + 3] = False
            if kind == "poly":
                src_mask[seg_end - 2] = False
                src_mask[seg_end - 1] = False
                dst_mask[offs + per_row - 1] = False
            vals[dst_mask] = inter[src_mask]
        else:
            mid_rows = np.repeat(np.arange(n_rows), n_mid)
            mid_starts_out = np.concatenate(([0], np.cumsum(n_mid)[:-1]))
            local = (np.arange(int(n_mid.sum()), dtype=np.int64)
                     - mid_starts_out[mid_rows])
            vals[offs[mid_rows] + 4 + local] = inter[2 * s[mid_rows] + 2 + local]

    # vectorized varints
    nb = np.ones(total, dtype=np.int64)
    nb += (
        (vals >= (1 << 7)).astype(np.int64)
        + (vals >= (1 << 14)).astype(np.int64)
        + (vals >= (1 << 21)).astype(np.int64)
        + (vals >= (1 << 28)).astype(np.int64)
    )
    byte_total = int(nb.sum())
    out = np.zeros(byte_total, dtype=np.uint8)
    bpos = np.concatenate(([0], np.cumsum(nb)[:-1]))
    for k in range(5):
        m = nb > k
        if not m.any():
            break
        byte = ((vals[m] >> np.uint64(7 * k)) & np.uint64(0x7F)).astype(np.uint8)
        cont = (nb[m] > k + 1).astype(np.uint8) << 7
        out[bpos[m] + k] = byte | cont
    # per-row byte ranges
    byte_off = bpos[offs]
    byte_end = np.empty(n_rows, dtype=np.int64)
    byte_end[:-1] = bpos[offs[1:]]
    byte_end[-1] = byte_total
    return out.tobytes(), byte_off, byte_end - byte_off


def _rect_msg_tails(lng0, lat0, lng1, lat1, extent: int, buffer_px: float):
    """Feature-message tails (type + packed geometry) of the canonical
    buffered-rect polygon of each tile window, all in one batch: the
    93-byte rect rings (``gridclip.rect_wkb``) run through ``_bulk_poly1``
    and ``_batch_geom_fields``. Byte-identical to ``kernels.mvt``'s
    encode_geometry of that rect, tagged as a POLYGON field pair.

    Returns (buffer uint8, tail offsets, tail lengths), one tail per window.
    """
    m = len(lng0)
    buf = (lng1 - lng0) * buffer_px / extent
    bx0, by0, bx1, by1 = lng0 - buf, lat0 - buf, lng1 + buf, lat1 + buf
    ring = np.stack([bx0, by0, bx1, by0, bx1, by1, bx0, by1, bx0, by0],
                    axis=1).astype("<f8")
    wkb = np.empty((m, 93), dtype=np.uint8)
    wkb[:, :13] = np.frombuffer(_P1_HDR + b"\x05\x00\x00\x00", dtype=np.uint8)
    wkb[:, 13:] = ring.view(np.uint8)
    rows = np.arange(m, dtype=np.int64)
    lens = np.full(m, 93, dtype=np.int64)
    _, start, npts, inter = _bulk_poly1(
        wkb.reshape(-1), rows * 93, wkb.tobytes(), rows, lens,
        lng0, lat0, lng1, lat1, extent)
    payload, p_off, p_len = _batch_geom_fields(start, npts, rows, inter, "poly")
    # tail = 18 03 22 <varint(len)> <payload>
    nb = _varint_nb(p_len)
    t_len = 3 + nb + p_len
    t_off = np.zeros(m, dtype=np.int64)
    np.cumsum(t_len[:-1], out=t_off[1:])
    out = np.empty(int(t_len.sum()), dtype=np.uint8)
    out[t_off] = 0x18
    out[t_off + 1] = 0x03
    out[t_off + 2] = 0x22
    _fill_varints(out, t_off + 3, p_len, nb)
    _scatter_segments(out, t_off + 3 + nb,
                      np.frombuffer(payload, dtype=np.uint8), p_off, p_len)
    return out, t_off, t_len


def _scatter_segments(dst: np.ndarray, dst_off: np.ndarray, src: np.ndarray,
                      src_off: np.ndarray, lens: np.ndarray) -> None:
    """dst[dst_off[i] : dst_off[i]+lens[i]] = src[src_off[i] : ...] for
    all i, as one gather."""
    total = int(lens.sum())
    if total == 0:
        return
    seg = np.repeat(np.arange(len(lens)), lens)
    local = np.arange(total, dtype=np.int64) - np.repeat(np.cumsum(lens) - lens, lens)
    dst[dst_off[seg] + local] = src[src_off[seg] + local]


def _varint_nb(vals: np.ndarray) -> np.ndarray:
    """Byte length of each value's varint encoding (vectorized)."""
    v = vals.astype(np.uint64)
    nb = np.ones(len(v), dtype=np.int64)
    for shift in (7, 14, 21, 28, 35, 42, 49, 56, 63):
        nb += (v >= (np.uint64(1) << np.uint64(shift))).astype(np.int64)
    return nb


def _fill_varints(out: np.ndarray, pos: np.ndarray, vals: np.ndarray,
                  nb: np.ndarray) -> None:
    """Write varint(vals[i]) at out[pos[i] : pos[i]+nb[i]] for all i."""
    v = vals.astype(np.uint64)
    for k in range(10):
        m = nb > k
        if not m.any():
            break
        byte = ((v[m] >> np.uint64(7 * k)) & np.uint64(0x7F)).astype(np.uint8)
        cont = (nb[m] > k + 1).astype(np.uint8) << 7
        out[pos[m] + k] = byte | cont


def encode_sorted_runs(tid: np.ndarray, fid: np.ndarray, wkbs: np.ndarray,
                       layer_name: str, extent: int, buffer_px: float = 8.0,
                       max_tile_bytes: int | None = None,
                       cap_stats: list | None = None):
    """Encode consecutive tile_id runs -> columns for the tiles DataFrame.

    Inputs are the (tile_id, feature_id)-sorted record columns of one chunk.
    Returns dict of lists/arrays: tile_id, z, x, y, n_features, mvt,
    content_hash. ``max_tile_bytes`` applies the deterministic per-tile
    byte budget (drop.tile_budget_keep_mask); ``cap_stats`` is a 2-element
    [tiles_capped, records_dropped] list the kernel increments in place.
    """
    n = len(tid)
    starts = np.flatnonzero(np.concatenate(([True], tid[1:] != tid[:-1])))
    ends = np.append(starts[1:], n)
    g_tid = tid[starts]
    # records carry only tile_id (narrow shuffle rows); (z, x, y) are
    # recovered per run with the vectorized Hilbert inverse
    g_z, g_x, g_y = Hc.tile_id_to_zxy_vec(g_tid)
    lng0, lat0, lng1, lat1 = T.tile_bounds_mixed(g_x, g_y, g_z)
    n_groups = len(starts)
    sizes = ends - starts
    gidx = np.repeat(np.arange(n_groups), sizes)

    buf, rec_off = _assemble_feature_messages(
        fid, wkbs, gidx, lng0, lat0, lng1, lat1, extent, buffer_px)
    layer_head, layer_tail = layer_head_tail(layer_name, extent)

    # ---- per-tile layer wrap: head + contiguous record bytes + tail
    out_mvt: list[bytes] = []
    out_hash: list[int] = []
    out_nf = sizes.astype(np.int64)
    buf_bytes = buf.tobytes()
    for gi in range(n_groups):
        s, e = starts[gi], ends[gi]
        if (max_tile_bytes is not None
                and rec_off[e] - rec_off[s] > max_tile_bytes):
            from .drop import tile_budget_keep_mask

            flens = rec_off[s + 1:e + 1] - rec_off[s:e]
            mask = tile_budget_keep_mask(
                fid[s:e], flens, int(g_tid[gi]), max_tile_bytes)
            keep = np.flatnonzero(mask) + s
            body = b"".join(
                buf_bytes[rec_off[i]:rec_off[i + 1]] for i in keep)
            out_nf[gi] = len(keep)
            if cap_stats is not None:
                cap_stats[0] += 1
                cap_stats[1] += int((e - s) - len(keep))
        else:
            body = buf_bytes[rec_off[s]:rec_off[e]]
        layer = layer_head + body + layer_tail
        mvt = b"\x1a" + _varint(len(layer)) + layer
        out_mvt.append(mvt)
        out_hash.append(content_hash64(mvt) & 0x7FFF_FFFF_FFFF_FFFF)

    return {
        "tile_id": g_tid,
        "z": g_z.astype(np.int32),
        "x": g_x,
        "y": g_y,
        "n_features": out_nf,
        "mvt": out_mvt,
        "content_hash": np.array(out_hash, dtype=np.int64),
    }


def _assemble_feature_messages(fid, wkbs, gidx, lng0, lat0, lng1, lat1,
                               extent, buffer_px):
    """Fully vectorized message assembly: every record's FRAMED feature
    message ([0x12][varint(len)][0x08][varint(fid)][type+geometry]), each
    against the tile window ``gidx`` names, laid out into ONE uint8 buffer
    with computed offsets — bulk decoders for points, single-ring polygons
    and linestrings, zero per-record Python in the hot path; byte-identical
    to the per-record concat. Shared by the per-record message encoder and
    the single-phase encoder (which slices whole-tile record ranges). Dead
    records get zero bytes.

    Returns (buf uint8, rec_off (n+1,)).
    """
    n = len(fid)
    lens = np.fromiter((len(w) for w in wkbs), dtype=np.int64, count=n)
    buf8, woffs, wkb_cat = _concat_wkbs(wkbs, lens)
    is_pt, px, py = _bulk_points(buf8, woffs, lens, gidx,
                                 lng0, lat0, lng1, lat1, extent, wkb_cat)
    is_p1, p1_start, p1_npts, p1_inter = _bulk_poly1(
        buf8, woffs, wkb_cat, gidx, lens, lng0, lat0, lng1, lat1, extent)
    is_ls, ls_start, ls_npts, ls_inter = _bulk_lines(
        buf8, woffs, wkb_cat, gidx, lens, lng0, lat0, lng1, lat1, extent)
    p1_idx = np.full(n, -1, dtype=np.int64)
    if is_p1.any():
        p1_rows = np.flatnonzero(is_p1)
        p1_idx[p1_rows] = np.arange(len(p1_rows))
        p1_buf, p1_boff, p1_blen = _batch_geom_fields(
            p1_start, p1_npts, p1_rows, p1_inter, "poly")
    ls_idx = np.full(n, -1, dtype=np.int64)
    if is_ls.any():
        ls_rows = np.flatnonzero(is_ls)
        ls_idx[ls_rows] = np.arange(len(ls_rows))
        ls_buf, ls_boff, ls_blen = _batch_geom_fields(
            ls_start, ls_npts, ls_rows, ls_inter, "line")
    zzx = (((px << 1) ^ (px >> 63)) & 0xFFFFFFFF).astype(np.uint64)
    zzy = (((py << 1) ^ (py >> 63)) & 0xFFFFFFFF).astype(np.uint64)

    CAT_RECT, CAT_PT, CAT_P1, CAT_LS, CAT_EXACT = 0, 1, 2, 3, 4
    cat = np.full(n, CAT_EXACT, dtype=np.int64)
    cat[is_ls] = CAT_LS
    cat[is_p1] = CAT_P1
    cat[is_pt] = CAT_PT
    cat[lens == 0] = CAT_RECT

    fid_u = fid.astype(np.uint64)
    nb_fid = _varint_nb(fid_u)

    # rect tails, one per tile that has interior-rect records
    r_rows = np.flatnonzero(cat == CAT_RECT)
    rect_tiles, r_tile = np.unique(gidx[r_rows], return_inverse=True)
    rect_tail_len = np.zeros(n, dtype=np.int64)
    if len(r_rows):
        tails, tail_off, tail_len = _rect_msg_tails(
            lng0[rect_tiles], lat0[rect_tiles], lng1[rect_tiles],
            lat1[rect_tiles], extent, buffer_px)
        rect_tail_len[r_rows] = tail_len[r_tile]

    # exact-path records (multipolygons etc.): per-record python, rare
    exact_msgs: dict[int, bytes] = {}
    for i in np.flatnonzero(cat == CAT_EXACT):
        g = G.from_wkb(bytes(wkbs[i]))
        gi = gidx[i]
        cmds, gtype = M.encode_geometry(
            g, lng0[gi], lat0[gi], lng1[gi], lat1[gi], extent)
        if not cmds and gtype == M.GEOM_UNKNOWN:
            continue
        exact_msgs[int(i)] = M.encode_feature(int(fid[i]), [], gtype, cmds)

    nb_zzx = _varint_nb(zzx)
    nb_zzy = _varint_nb(zzy)
    gp_len = 1 + nb_zzx + nb_zzy          # b"\x09" + varint pair; always < 128
    if is_p1.any():
        blen_p1 = np.zeros(n, dtype=np.int64)
        blen_p1[p1_idx >= 0] = p1_blen[p1_idx[p1_idx >= 0]]
    if is_ls.any():
        blen_ls = np.zeros(n, dtype=np.int64)
        blen_ls[ls_idx >= 0] = ls_blen[ls_idx[ls_idx >= 0]]

    msg_len = np.zeros(n, dtype=np.int64)
    live = np.ones(n, dtype=bool)
    m = cat == CAT_RECT
    msg_len[m] = 1 + nb_fid[m] + rect_tail_len[m]
    m = cat == CAT_PT
    msg_len[m] = 1 + nb_fid[m] + 2 + 1 + 1 + gp_len[m]
    m = cat == CAT_P1
    if m.any():
        msg_len[m] = 1 + nb_fid[m] + 3 + _varint_nb(blen_p1[m]) + blen_p1[m]
    m = cat == CAT_LS
    if m.any():
        msg_len[m] = 1 + nb_fid[m] + 3 + _varint_nb(blen_ls[m]) + blen_ls[m]
    for i in np.flatnonzero(cat == CAT_EXACT):
        fm = exact_msgs.get(int(i))
        if fm is None:
            live[i] = False
        else:
            msg_len[i] = len(fm)

    nb_msg = _varint_nb(msg_len)
    rec_total = np.where(live, 1 + nb_msg + msg_len, 0)
    rec_off = np.zeros(n + 1, dtype=np.int64)
    np.cumsum(rec_total, out=rec_off[1:])
    buf = np.zeros(int(rec_off[-1]), dtype=np.uint8)

    lv = live
    ro = rec_off[:-1]
    buf[ro[lv]] = 0x12
    _fill_varints(buf, ro[lv] + 1, msg_len[lv], nb_msg[lv])
    msg_start = ro + 1 + nb_msg
    vec = lv & (cat != CAT_EXACT)
    buf[msg_start[vec]] = 0x08
    _fill_varints(buf, msg_start[vec] + 1, fid_u[vec], nb_fid[vec])
    mid = msg_start + 1 + nb_fid

    # points: 18 01 22 <gp_len> 09 <zzx varint> <zzy varint>
    p = np.flatnonzero(cat == CAT_PT)
    if len(p):
        buf[mid[p]] = 0x18
        buf[mid[p] + 1] = 0x01
        buf[mid[p] + 2] = 0x22
        buf[mid[p] + 3] = gp_len[p].astype(np.uint8)
        buf[mid[p] + 4] = 0x09
        _fill_varints(buf, mid[p] + 5, zzx[p], nb_zzx[p])
        _fill_varints(buf, mid[p] + 5 + nb_zzx[p], zzy[p], nb_zzy[p])

    def _fill_payload(rows_i, type_byte, blen_row, src_buf, src_off_row):
        buf[mid[rows_i]] = 0x18
        buf[mid[rows_i] + 1] = type_byte
        buf[mid[rows_i] + 2] = 0x22
        nb_b = _varint_nb(blen_row[rows_i])
        _fill_varints(buf, mid[rows_i] + 3, blen_row[rows_i], nb_b)
        dst0 = mid[rows_i] + 3 + nb_b
        ln = blen_row[rows_i]
        src = np.frombuffer(src_buf, dtype=np.uint8)
        so = src_off_row[rows_i]
        # fast path: the rows' payloads tile src_buf contiguously in row
        # order (true whenever no bulk-path row was reclassified, i.e.
        # always in practice), so the whole copy is src -> the union of dst
        # segments.  Mark that union with a +1/-1 run-boundary accumulate
        # (1 B/byte of temp traffic) instead of building 8-byte repeat/
        # arange index arrays PER PAYLOAD BYTE (~40 B/byte).
        if bool(so[0] == 0) and int(so[-1] + ln[-1]) == len(src) \
                and np.all(so[1:] == so[:-1] + ln[:-1]):
            d = np.zeros(len(buf) + 1, dtype=np.int8)
            d[dst0] = 1
            d[dst0 + ln] -= 1   # dst segments never touch (headers between)
            dmask = np.cumsum(d[:-1], dtype=np.int8).view(bool)
            buf[dmask] = src
        else:
            _scatter_segments(buf, dst0, src, so, ln)

    rows_p1 = np.flatnonzero(cat == CAT_P1)
    if len(rows_p1):
        src_off = np.zeros(n, dtype=np.int64)
        src_off[p1_idx >= 0] = p1_boff[p1_idx[p1_idx >= 0]]
        _fill_payload(rows_p1, 0x03, blen_p1, p1_buf, src_off)
    rows_ls = np.flatnonzero(cat == CAT_LS)
    if len(rows_ls):
        src_off = np.zeros(n, dtype=np.int64)
        src_off[ls_idx >= 0] = ls_boff[ls_idx[ls_idx >= 0]]
        _fill_payload(rows_ls, 0x02, blen_ls, ls_buf, src_off)

    # rect tails: every rect record gets its tile's shared tail bytes
    if len(r_rows):
        _scatter_segments(buf, mid[r_rows], tails, tail_off[r_tile],
                          tail_len[r_tile])

    for i, fm in exact_msgs.items():
        buf[msg_start[i]:msg_start[i] + len(fm)] = np.frombuffer(fm, dtype=np.uint8)

    return buf, rec_off

"""Fast vectorized encoder must be byte-identical to the LayerBuilder path."""

import numpy as np

from gpq_tiles_spark.kernels import geom as G
from gpq_tiles_spark.kernels import hilbert as H
from gpq_tiles_spark.kernels import mvt as M
from gpq_tiles_spark.kernels import mvt_fast
from gpq_tiles_spark.kernels import tile_math as T


def _reference_encode(tid, z, x, y, fid, wkbs, layer_name, extent):
    out = {}
    order = np.argsort(tid, kind="stable")
    groups = {}
    for i in order:
        groups.setdefault(tid[i], []).append(i)
    for t, idxs in sorted(groups.items()):
        i0 = idxs[0]
        lng0, lat0, lng1, lat1 = (
            float(v[0]) for v in T.tile_bounds(np.array([x[i0]]), np.array([y[i0]]), int(z[i0]))
        )
        lb = M.LayerBuilder(layer_name, extent)
        for i in idxs:
            lb.add_feature(int(fid[i]), G.from_wkb(wkbs[i]), [], lng0, lat0, lng1, lat1)
        out[t] = M.encode_tile([lb.build()])
    return out


def test_fast_encoder_byte_parity():
    rng = np.random.default_rng(7)
    rows = []
    for k in range(300):
        zz = int(rng.integers(0, 9))
        xx = int(rng.integers(0, 1 << zz))
        yy = int(rng.integers(0, 1 << zz))
        tid = int(H.tile_id(zz, np.array([xx]), np.array([yy]))[0])
        lng0, lat0, lng1, lat1 = (
            float(v[0]) for v in T.tile_bounds(np.array([xx]), np.array([yy]), zz)
        )
        kind = rng.uniform()
        if kind < 0.6:
            g = (G.POINT, np.array([
                rng.uniform(lng0, lng1), rng.uniform(lat0, lat1)]))
        elif kind < 0.8:
            pts = np.column_stack([
                rng.uniform(lng0, lng1, 5), rng.uniform(lat0, lat1, 5)])
            g = (G.LINESTRING, pts)
        else:
            cx, cy = rng.uniform(lng0, lng1), rng.uniform(lat0, lat1)
            d = (lng1 - lng0) / 20
            ring = np.array([
                [cx, cy], [cx + d, cy], [cx + d, cy + d], [cx, cy + d], [cx, cy]])
            g = (G.POLYGON, [ring])
        rows.append((tid, zz, xx, yy, int(rng.integers(0, 2**40)), G.to_wkb(g)))

    rows.sort(key=lambda r: (r[0], r[4]))
    tid = np.array([r[0] for r in rows], dtype=np.int64)
    z = np.array([r[1] for r in rows], dtype=np.int64)
    x = np.array([r[2] for r in rows], dtype=np.int64)
    y = np.array([r[3] for r in rows], dtype=np.int64)
    fid = np.array([r[4] for r in rows], dtype=np.int64)
    wkbs = np.array([r[5] for r in rows], dtype=object)

    fast = mvt_fast.encode_sorted_runs(tid, fid, wkbs, "features", 4096)
    ref = _reference_encode(tid, z, x, y, fid, wkbs, "features", 4096)

    assert list(fast["tile_id"]) == sorted(ref.keys())
    for t, mvt in zip(fast["tile_id"], fast["mvt"]):
        assert mvt == ref[int(t)], f"byte mismatch for tile {t}"


def test_empty_wkb_marker_equals_rect_wkb():
    """An empty-wkb record must encode exactly like the explicit canonical
    buffered-rect WKB it stands for."""
    from gpq_tiles_spark.kernels import gridclip as GC

    zz, xx, yy = 7, 41, 55
    tid = int(H.tile_id(zz, np.array([xx]), np.array([yy]))[0])
    lng0, lat0, lng1, lat1 = (
        float(v[0]) for v in T.tile_bounds(np.array([xx]), np.array([yy]), zz))
    buf = (lng1 - lng0) * 8 / 4096
    rect = GC.rect_wkb(lng0 - buf, lat0 - buf, lng1 + buf, lat1 + buf)

    args = (
        np.array([tid, tid], dtype=np.int64),
        np.array([10, 11], dtype=np.int64),
    )
    a = mvt_fast.encode_sorted_runs(*args, np.array([b"", b""], dtype=object),
                                    "features", 4096, 8)
    b = mvt_fast.encode_sorted_runs(*args, np.array([rect, rect], dtype=object),
                                    "features", 4096, 8)
    assert a["mvt"][0] == b["mvt"][0]


def test_vectorized_assembly_matches_reference_layout():
    """The per-record reference helpers (_point_feature_bytes, _poly1_cmds)
    define the message byte layout; the vectorized buffer assembly must
    reproduce them exactly."""
    import numpy as np

    from gpq_tiles_spark.kernels import geom as G
    from gpq_tiles_spark.kernels import hilbert as Hc
    from gpq_tiles_spark.kernels import mvt_fast as MF

    # one point + one 5-pt polygon in the same z2 tile
    tid = int(Hc.tile_id(2, np.array([1]), np.array([1]))[0])
    pt_wkb = G.to_wkb((G.POINT, np.array([0.0, -40.0])))
    ring = np.array([[5.0, -50.0], [30.0, -50.0], [30.0, -30.0],
                     [5.0, -30.0], [5.0, -50.0]])
    poly_wkb = G.to_wkb((G.POLYGON, [ring]))
    cols = MF.encode_sorted_runs(
        np.array([tid, tid], dtype=np.int64),
        np.array([7, 9], dtype=np.int64),
        np.array([pt_wkb, poly_wkb], dtype=object),
        "features", 4096,
    )
    mvt = cols["mvt"][0]
    # reconstruct the point message with the reference helper
    from gpq_tiles_spark.kernels import tile_math as T
    lng0, lat0, lng1, lat1 = (float(v[0]) for v in T.tile_bounds(
        np.array([1.0]), np.array([1.0]), 2))
    from gpq_tiles_spark.kernels import mvt as M
    fx = (0.0 - lng0) / (lng1 - lng0) * 4096
    fy = (1.0 - (-40.0 - lat0) / (lat1 - lat0)) * 4096
    px = int(M.round_half_away(np.array([fx]))[0])
    py = int(M.round_half_away(np.array([fy]))[0])
    zzx = ((px << 1) ^ (px >> 63)) & 0xFFFFFFFF
    zzy = ((py << 1) ^ (py >> 63)) & 0xFFFFFFFF
    ref_pt_msg = MF._point_feature_bytes(7, zzx, zzy)
    framed = b"\x12" + MF._varint(len(ref_pt_msg)) + ref_pt_msg
    assert framed in mvt


def test_record_msgs_arrow_binary_column():
    """encode_record_msgs returns one Arrow binary array over its message
    buffer (record i = buffer[off[i]:off[i+1]]), empty input included, and
    refuses offsets past int32 instead of wrapping them."""
    import pyarrow as pa
    import pytest

    tid = np.full(3, int(H.tile_id(3, np.array([1]), np.array([2]))[0]),
                  dtype=np.int64)
    fid = np.arange(3, dtype=np.int64)
    wkbs = np.array([G.to_wkb((G.POINT, (-130.0 + i, 40.0)))
                     for i in range(3)], dtype=object)
    msgs = mvt_fast.encode_record_msgs(tid, fid, wkbs, 4096)
    arr = pa.array(msgs)
    assert arr.type == pa.binary() and len(arr) == 3
    body = mvt_fast.encode_sorted_runs(tid, fid, wkbs, "features", 4096)
    assert b"".join(msgs.tolist()) in body["mvt"][0]
    empty = mvt_fast.encode_record_msgs(tid[:0], fid[:0], wkbs[:0], 4096)
    assert pa.array(empty).type == pa.binary() and len(empty) == 0
    with pytest.raises(OverflowError):
        mvt_fast._binary_array(np.array([0, 2**31], dtype=np.int64),
                               np.empty(0, dtype=np.uint8))


def _scalar_rect_tail(lng0, lat0, lng1, lat1, extent, buffer_px):
    """The per-tile reference: kernels.mvt's encode_geometry of the
    canonical buffered rect (gridclip.rect_wkb), as a POLYGON tail."""
    from gpq_tiles_spark.kernels import gridclip as GC

    buf = (lng1 - lng0) * buffer_px / extent
    g = G.from_wkb(GC.rect_wkb(lng0 - buf, lat0 - buf, lng1 + buf, lat1 + buf))
    cmds, gtype = M.encode_geometry(g, lng0, lat0, lng1, lat1, extent)
    return M._tag(3, 0) + M._varint(gtype) + M._packed_u32(4, cmds)


def test_rect_msg_tails_batch_matches_scalar_encode():
    """One batch of rect tails equals the scalar encode of each tile's
    rect: every zoom 0-16, the polar rows and the antimeridian columns,
    buffers 0/8/64 px, extents 512/4096."""
    rng = np.random.default_rng(19)
    zs, xs, ys = [], [], []
    for z in range(17):
        n = 1 << z
        edge = sorted({0, n - 1})
        for x in edge + rng.integers(0, n, 6).tolist():
            for y in edge + rng.integers(0, n, 6).tolist():
                zs.append(z)
                xs.append(x)
                ys.append(y)
    z = np.array(zs, dtype=np.int64)
    lng0, lat0, lng1, lat1 = T.tile_bounds_mixed(
        np.array(xs, dtype=np.int64), np.array(ys, dtype=np.int64), z)
    for extent in (512, 4096):
        for buffer_px in (0, 8, 64):
            tails, off, ln = mvt_fast._rect_msg_tails(
                lng0, lat0, lng1, lat1, extent, buffer_px)
            assert int(ln.sum()) == len(tails)
            for i in range(len(z)):
                want = _scalar_rect_tail(lng0[i], lat0[i], lng1[i], lat1[i],
                                         extent, buffer_px)
                assert tails[off[i]:off[i] + ln[i]].tobytes() == want, (
                    extent, buffer_px, zs[i], xs[i], ys[i])


def test_rect_records_across_tiles_match_rect_wkb():
    """Interior-rect records of many tiles, interleaved in any order, encode
    exactly like the explicit rect WKB each stands for (one gather writes
    every record's tail)."""
    from gpq_tiles_spark.kernels import gridclip as GC

    rng = np.random.default_rng(3)
    n = 400
    zz = rng.integers(0, 15, n)
    xx = np.array([rng.integers(0, 1 << int(z)) for z in zz])
    yy = np.array([rng.integers(0, 1 << int(z)) for z in zz])
    tid = np.array([int(H.tile_id(int(z), np.array([x]), np.array([y]))[0])
                    for z, x, y in zip(zz, xx, yy)], dtype=np.int64)
    tid = tid[rng.integers(0, n, n)]
    fid = rng.integers(0, 1 << 40, n).astype(np.int64)
    rects = []
    g_z, g_x, g_y = H.tile_id_to_zxy_vec(tid)
    b = T.tile_bounds_mixed(g_x, g_y, g_z)
    for i in range(n):
        lng0, lat0, lng1, lat1 = (float(v[i]) for v in b)
        buf = (lng1 - lng0) * 8 / 4096
        rects.append(GC.rect_wkb(lng0 - buf, lat0 - buf, lng1 + buf, lat1 + buf))
    empty = mvt_fast.encode_record_msgs(
        tid, fid, np.array([b""] * n, dtype=object), 4096, 8)
    explicit = mvt_fast.encode_record_msgs(
        tid, fid, np.array(rects, dtype=object), 4096, 8)
    assert empty.tolist() == explicit.tolist()

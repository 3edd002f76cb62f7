"""Property-based kernel tests (hypothesis) — the reference declares proptest
but never uses it (SURVEY.md §5); we actually do."""

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from gpq_tiles_spark.kernels import geom as G
from gpq_tiles_spark.kernels import hilbert as H
from gpq_tiles_spark.kernels import mvt as M
from gpq_tiles_spark.kernels import pmtiles as P
from gpq_tiles_spark.kernels import tile_math as T

u32 = st.integers(min_value=0, max_value=2**32 - 1)


@settings(max_examples=200, deadline=None)
@given(u32, u32)
def test_zorder_round_trip_prop(wx, wy):
    d = H.encode_zorder(wx, wy)
    bx, by = H.decode_zorder(d)
    assert (int(bx[()]), int(by[()])) == (wx, wy)


@settings(max_examples=200, deadline=None)
@given(u32, u32)
def test_hilbert_round_trip_prop(wx, wy):
    d = H.encode_hilbert(wx, wy)
    bx, by = H.decode_hilbert(d)
    assert (int(bx[()]), int(by[()])) == (wx, wy)


@settings(max_examples=150, deadline=None)
@given(st.integers(min_value=0, max_value=14), st.data())
def test_tile_id_round_trip_prop(z, data):
    n = 1 << z
    x = data.draw(st.integers(min_value=0, max_value=n - 1))
    y = data.draw(st.integers(min_value=0, max_value=n - 1))
    tid = int(H.tile_id(z, np.array([x]), np.array([y]))[0])
    assert H.tile_id_to_zxy(tid) == (z, x, y)
    zz, xb, yb = H.tile_id_to_zxy_vec(np.array([tid]))
    assert (int(zz[0]), int(xb[0]), int(yb[0])) == (z, x, y)


@settings(max_examples=150, deadline=None)
@given(st.integers(min_value=-(2**31), max_value=2**31 - 1))
def test_zigzag_round_trip_prop(v):
    assert int(M.zigzag_decode(M.zigzag_encode(v))[()]) == v


@settings(max_examples=100, deadline=None)
@given(st.lists(st.integers(min_value=0, max_value=2**35 - 1), min_size=0, max_size=40))
def test_varint_array_matches_scalar(vals):
    scalar = b"".join(M._varint(v) for v in vals)
    assert M.varint_array_u32(vals) == scalar
    # and the directory varint decoder agrees
    i = 0
    out = []
    data = scalar
    while i < len(data):
        v, i = P.decode_varint(data, i)
        out.append(v)
    assert out == list(vals)


_coord = st.floats(min_value=-179.9, max_value=179.9, allow_nan=False,
                   allow_infinity=False, width=64)
_lat = st.floats(min_value=-84.9, max_value=84.9, allow_nan=False,
                 allow_infinity=False, width=64)


@settings(max_examples=100, deadline=None)
@given(st.lists(st.tuples(_coord, _lat), min_size=2, max_size=30))
def test_wkb_linestring_round_trip_prop(pts):
    g = (G.LINESTRING, np.array(pts, dtype=np.float64))
    back = G.from_wkb(G.to_wkb(g))
    assert back[0] == G.LINESTRING
    np.testing.assert_array_equal(back[1], g[1])


@settings(max_examples=100, deadline=None)
@given(_coord, _lat, st.integers(min_value=0, max_value=14))
def test_point_tile_containment_prop(lng, lat, z):
    """A point's assigned tile's bounds contain it up to float rounding.

    The (lng + 180) addition can absorb a ~1-ulp-of-180 offset (2.9e-14 deg),
    pushing boundary-adjacent points into the neighbor tile — the reference's
    formula (tile.rs:112-123) behaves identically, and the 8-px tile buffer
    (~0.002 tile widths) swallows it in the real pipeline."""
    eps = 1e-12
    x, y = T.lng_lat_to_tile_xy(np.array([lng]), np.array([lat]), z)
    lng0, lat0, lng1, lat1 = (float(v[0]) for v in T.tile_bounds(x, y, z))
    span = lng1 - lng0
    assert lng0 - eps * span <= lng <= lng1 + eps * span
    assert lat0 - eps * 180 <= lat <= lat1 + eps * 180


@settings(max_examples=100, deadline=None)
@given(st.lists(st.tuples(st.integers(0, 10**7), st.integers(0, 10**4)),
                min_size=1, max_size=30))
def test_directory_round_trip_prop(raw):
    # build well-formed ascending entries
    entries = []
    tid = 0
    off = 0
    for d_tid, length in raw:
        tid += d_tid + 1
        entries.append(P.DirEntry(tid, off, length + 1, 1))
        off += length + 1
    data = P.encode_directory(entries)
    back = P.decode_directory(data)
    assert [(e.tile_id, e.offset, e.length, e.run_length) for e in back] == [
        (e.tile_id, e.offset, e.length, e.run_length) for e in entries]


def test_batched_clip_paths_byte_identical():
    """The segmented/batched clip kernels must be byte-identical to the
    per-tile scalar paths (the engine's fast paths vs reference-shaped
    loops): polygon column strips + tile bands, and Liang-Barsky lines."""
    import numpy as np

    from gpq_tiles_spark.kernels import clip as CK
    from gpq_tiles_spark.kernels import geom as G

    rng = np.random.default_rng(3)
    for trial in range(60):
        n = rng.integers(4, 40)
        ang = np.sort(rng.uniform(0, 2 * np.pi, n))
        rad = rng.uniform(0.5, 1.0, n)
        ext = np.stack([np.cos(ang) * rad, np.sin(ang) * rad], 1)
        ext = np.vstack([ext, ext[:1]])
        hole = ext[::-1] * 0.3
        g = ((G.POLYGON, [ext, hole]) if trial % 2
             else (G.MULTIPOLYGON, [[ext, hole], [ext * 0.1 + 2.0]]))
        x0, x1 = sorted(rng.uniform(-1.2, 1.2, 2))
        strips = CK.polygon_column_strips(g, x0, x1)
        t_n = int(rng.integers(1, 10))
        lo = np.sort(rng.uniform(-1.2, 1.2, t_n))
        hi = lo + rng.uniform(0.05, 0.8, t_n)
        batch = CK.polygon_column_tiles_clip(strips, g[0], lo, hi)
        for t in range(t_n):
            ref = CK.polygon_strip_tile_clip(strips, g[0], float(lo[t]), float(hi[t]))
            assert (batch[t] is None) == (ref is None)
            if ref is not None:
                assert G.to_wkb(batch[t]) == G.to_wkb(ref)

    for trial in range(60):
        npts = rng.integers(2, 30)
        pts = np.cumsum(rng.uniform(-0.5, 0.5, (npts, 2)), axis=0)
        g = ((G.MULTILINESTRING, [pts, pts[::-1] * 0.5 + 1.0]) if trial % 3 == 0
             else (G.LINESTRING, pts))
        t_n = int(rng.integers(1, 8))
        x0 = rng.uniform(-3, 3, t_n)
        y0 = rng.uniform(-3, 3, t_n)
        x1 = x0 + rng.uniform(0.1, 2.0, t_n)
        y1 = y0 + rng.uniform(0.1, 2.0, t_n)
        batch = CK.lines_tiles_clip_batch(g, x0, y0, x1, y1)
        for t in range(t_n):
            ref = CK.clip_geometry(g, float(x0[t]), float(y0[t]),
                                   float(x1[t]), float(y1[t]), 0.0)
            assert (batch[t] is None) == (ref is None)
            if ref is not None:
                assert G.to_wkb(batch[t]) == G.to_wkb(ref)


def test_grid_boundary_chunking_byte_identical():
    """The memory-bounding column-chunk wrapper must not change output:
    forcing a tiny replication budget yields identical per-tile WKBs."""
    import numpy as np

    from gpq_tiles_spark.kernels import clip as CK
    from gpq_tiles_spark.kernels import tile_math as T
    from gpq_tiles_spark.pipeline import _grid_boundary_wkbs

    rng = np.random.default_rng(8)
    ang = np.sort(rng.uniform(0, 2 * np.pi, 60))
    ring = np.stack([np.cos(ang) * 30, np.sin(ang) * 20], 1) + [0, 30]
    ring = np.vstack([ring, ring[:1]])
    g = (3, [ring])  # POLYGON spanning many z6 tiles
    z = 6
    x0, y0, x1, y1 = ring[:, 0].min(), ring[:, 1].min(), ring[:, 0].max(), ring[:, 1].max()
    xs0, _ = T.lng_lat_to_tile_xy(np.array([x0]), np.array([0.0]), z)
    xs1, _ = T.lng_lat_to_tile_xy(np.array([x1]), np.array([0.0]), z)
    _, yt = T.lng_lat_to_tile_xy(np.array([x0]), np.array([y1]), z)
    _, yb = T.lng_lat_to_tile_xy(np.array([x0]), np.array([y0]), z)
    bx, by = [], []
    for xx in range(int(xs0[0]), int(xs1[0]) + 1):
        for yy in range(int(yt[0]), int(yb[0]) + 1):
            bx.append(xx)
            by.append(yy)
    bx = np.array(bx); by = np.array(by)
    order = np.lexsort((by, bx))
    bx, by = bx[order], by[order]
    t0, a0, t1, a1 = T.tile_bounds(bx.astype(float), by.astype(float), z)
    buf = (t1 - t0) * 8 / 4096
    col_starts = np.flatnonzero(np.concatenate(([True], bx[1:] != bx[:-1])))
    col_ends = np.append(col_starts[1:], len(bx))
    strips = CK.polygon_columns_strips_batch(
        g, t0[col_starts] - buf[col_starts], t1[col_starts] + buf[col_starts])
    full = _grid_boundary_wkbs(strips, 3, col_starts, col_ends,
                               t0, t1, a0, a1, buf, 4096)
    tiny = _grid_boundary_wkbs(strips, 3, col_starts, col_ends,
                               t0, t1, a0, a1, buf, 4096, max_batch_pts=500)
    assert len(full) == len(tiny)
    assert all((x is None) == (y is None) and (x == y or x is None)
               for x, y in zip(full, tiny))
    assert sum(1 for x in full if x is not None) > 10


@settings(max_examples=120, deadline=None)
@given(st.data())
def test_directory_builder_chunking_invariance_and_decode(data):
    """Round 5: DirectoryBuilder must produce identical root+leaf bytes
    for ANY chunking of the same coalesced entry stream (including chunk
    boundaries that split runs nowhere — entries are pre-coalesced — and
    single-entry chunks that chain boundary merges), and the decoded
    root(+leaves) must reproduce the entry list exactly."""
    import io

    from gpq_tiles_spark.kernels.pmtiles import (
        DirectoryBuilder,
        build_directories,
        coalesce_run_lengths,
        decode_directory,
        decompress,
        DirEntry,
    )

    n_raw = data.draw(st.integers(min_value=1, max_value=400))
    # raw run_length-1 entries over a small blob pool: consecutive
    # same-blob tile_ids coalesce, giving realistic mixed runs
    n_blobs = data.draw(st.integers(min_value=1, max_value=8))
    blob_lens = [data.draw(st.integers(min_value=1, max_value=900))
                 for _ in range(n_blobs)]
    offs = [sum(blob_lens[:i]) for i in range(n_blobs)]
    tid = 0
    raw = []
    for _ in range(n_raw):
        tid += data.draw(st.integers(min_value=1, max_value=3))
        b = data.draw(st.integers(min_value=0, max_value=n_blobs - 1))
        raw.append(DirEntry(tid, offs[b], blob_lens[b], 1))
    entries = coalesce_run_lengths(raw)
    n = len(entries)

    want_root, want_leaf, want_n = build_directories(entries)
    assert want_n == n

    # random chunking through the streaming builder
    import numpy as np

    cuts = sorted(data.draw(
        st.lists(st.integers(min_value=0, max_value=n), max_size=6)))
    bounds = [0] + cuts + [n]
    spill = io.BytesIO()
    b2 = DirectoryBuilder(n, spill=spill)
    for s, e in zip(bounds, bounds[1:]):
        if s == e:
            continue
        b2.add(
            np.array([x.tile_id for x in entries[s:e]], dtype=np.int64),
            np.array([x.offset for x in entries[s:e]], dtype=np.int64),
            np.array([x.length for x in entries[s:e]], dtype=np.int64),
            np.array([x.run_length for x in entries[s:e]], dtype=np.int64),
        )
    got_root, _, got_n = b2.finish()
    assert got_n == n
    assert got_root == want_root
    assert spill.getvalue() == want_leaf

    # decode side reproduces the list (root-only or via leaves)
    root_entries = decode_directory(want_root)
    if any(e.run_length == 0 for e in root_entries):
        import gzip

        expanded = []
        for e in root_entries:
            expanded.extend(decode_directory(gzip.decompress(
                want_leaf[e.offset:e.offset + e.length])))
    else:
        expanded = root_entries
    assert [(e.tile_id, e.offset, e.length, e.run_length)
            for e in expanded] == \
        [(e.tile_id, e.offset, e.length, e.run_length) for e in entries]


@settings(max_examples=120, deadline=None)
@given(st.data())
def test_encode_props_tile_invariants(data):
    """Round 5: the shared property tile encoder must (a) decode back to
    exactly the live features' filtered props in order, (b) emit a
    dictionary with no unreferenced entries, and (c) under a byte budget,
    equal a from-scratch encode of the kept subset (the rebuild step that
    prunes the dictionary and remaps tag indices)."""
    from gpq_tiles_spark.kernels.mvt import _varint, decode_tile, encode_value
    from gpq_tiles_spark.kernels import mvt_fast
    from gpq_tiles_spark.pipeline import _encode_props_tile

    n = data.draw(st.integers(min_value=1, max_value=12))
    key_pool = ["alpha", "beta", "gamma", "d"]
    val_pool = ["x", "yy", 3, 2.5, True, "xx" * 40]
    fids, msgs, items = [], [], []
    for i in range(n):
        fids.append(i * 3 + 1)
        dead = data.draw(st.booleans()) and i > 0
        if dead:
            msgs.append(b"")
        else:
            body = mvt_fast._point_feature_bytes(fids[-1], i + 1, 2 * i + 1)
            msgs.append(b"\x12" + _varint(len(body)) + body)
        n_props = data.draw(st.integers(min_value=0, max_value=4))
        if n_props == 0 and data.draw(st.booleans()):
            items.append(None)
        else:
            items.append([
                {"key": data.draw(st.sampled_from(key_pool)),
                 "val": encode_value(data.draw(st.sampled_from(val_pool)))}
                for _ in range(n_props)
            ])
    head, tail = mvt_fast.layer_head_tail("tiles", 4096)
    budget = data.draw(st.one_of(
        st.none(), st.integers(min_value=1, max_value=400)))
    mvt, n_feat = _encode_props_tile(
        99, fids, msgs, items, None, head, tail, budget)
    lay = decode_tile(mvt)[0]
    live = [i for i in range(n) if msgs[i]]
    if budget is None:
        assert n_feat == n
        assert len(lay["features"]) == len(live)
        # (a) per-feature decoded props == the encoder's input, in order
        from gpq_tiles_spark.kernels.mvt import decode_value

        for f, i in zip(lay["features"], live):
            t = f["tags"]
            got = [
                (lay["keys"][ki], decode_value(bytes(lay["values"][vi])))
                for ki, vi in zip(t[0::2], t[1::2])
            ]
            want = [
                (it["key"], decode_value(bytes(it["val"])))
                for it in (items[i] or [])
            ]
            assert got == want
        # (b) no unreferenced dictionary entries
        used_k = {ki for f in lay["features"] for ki in f["tags"][0::2]}
        used_v = {vi for f in lay["features"] for vi in f["tags"][1::2]}
        assert used_k == set(range(len(lay["keys"])))
        assert used_v == set(range(len(lay["values"])))
    else:
        # (c) the capped tile equals a clean encode of its kept subset
        kept_live = []
        for f in lay["features"]:
            kept_live.append(f["id"])
        keep_idx = [i for i in range(n)
                    if (not msgs[i]) or fids[i] in kept_live]
        mvt2, n2 = _encode_props_tile(
            99, [fids[i] for i in keep_idx], [msgs[i] for i in keep_idx],
            [items[i] for i in keep_idx], None, head, tail, None)
        assert mvt2 == mvt
        assert n2 == n_feat

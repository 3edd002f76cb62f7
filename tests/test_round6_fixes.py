"""Round-6 regression tests for the ADVICE r5 findings and VERDICT r5
prescriptions on the property path.

Covers: nullable-Float64 property packing (ADVICE 4), the post-remap
budget re-check on capped property tiles (ADVICE 1), the -y/-x/-X filter
end to end, and byte parity of the vectorized tag interning.
"""

import numpy as np
import pandas as pd
import pytest

from gpq_tiles_spark.config import TilerConfig
from gpq_tiles_spark.kernels import geom as G
from gpq_tiles_spark.kernels.mvt import decode_tile, encode_value, feature_properties
from gpq_tiles_spark.pipeline import (
    _encode_props_tile,
    _pack_props_batch,
    encode_props_column,
)

from tests.reference_tiles import reference_archive


def _entries(rows):
    return [[(e["key"], bytes(e["val"])) for e in r] for r in rows]


def test_pack_props_batch_nullable_float64():
    """pandas extension Float64 (pd.NA-backed, dtype.kind == 'f' but
    object to_numpy) must degrade to the NaN-dropping path instead of
    raising TypeError in the pack UDF (ADVICE r5)."""
    pdf = pd.DataFrame({"v": pd.array([1.5, None, -0.0, 0.0], dtype="Float64")})
    out = _pack_props_batch(pdf, {"v": "float"}, "props")
    rows = _entries(out["props"].tolist())
    assert rows[1] == []  # pd.NA omitted, no crash
    # bytes match the plain-ndarray encoding, including the -0.0 vs 0.0
    # bit-pattern distinction
    plain = _pack_props_batch(
        pd.DataFrame({"v": np.array([1.5, np.nan, -0.0, 0.0])}),
        {"v": "float"}, "props")
    assert rows == _entries(plain["props"].tolist())
    assert rows[2] != rows[3]


def _props(*kv):
    return [{"key": k, "val": encode_value(v)} for k, v in kv]


def _dup_id_props(spark, tmp_path, cases, **cfg_kw):
    """Convert point features whose ids each come twice, one case per id:
    ``cases[i]`` is the (first row, second row) props of id 7+i. Returns
    {feature_id: set of decoded props tuples} over every tile."""
    from gpq_tiles_spark.kernels.pmtiles import PMTilesReader
    from gpq_tiles_spark.pipeline import convert

    rows = []
    for i, pair in enumerate(cases):
        lng, lat = 10.0 + 5.0 * i, 40.0
        wkb = bytearray(G.to_wkb((G.POINT, (lng, lat))))
        for p in pair:
            rows.append((7 + i, str(i), 0, wkb, G.POINT, lng, lat, lng, lat,
                         p))
    feats = spark.createDataFrame(
        rows,
        "feature_id long, doc_id string, span_offset int, wkb binary, "
        "geom_type int, lng_min double, lat_min double, lng_max double, "
        "lat_max double, props array<struct<key:string,val:binary>>",
    ).repartition(4)
    out = str(tmp_path / "dup.pmtiles")
    convert(feats, out, TilerConfig(min_zoom=2, max_zoom=2,
                                    shuffle_partitions=4,
                                    write_properties=True, **cfg_kw))
    got: dict = {}
    r = PMTilesReader(out)
    for tid in r.tile_ids():
        lay = decode_tile(r.get_tile_bytes(tid))[0]
        for f in lay["features"]:
            p = feature_properties(f, lay["keys"], lay["values"])
            got.setdefault(f["id"], set()).add(tuple(sorted(p.items())))
    r.close()
    return got


def test_premerge_duplicate_ids_take_ordering_minimum(spark, tmp_path):
    """Duplicate feature_ids must resolve to the ORDERING-MINIMUM props
    (the props join's F.min rule) regardless of row order, with null props
    losing to non-null (ADVICE r5)."""
    pa = _props(("name", "aa"))
    pb = _props(("name", "bb"))
    got = _dup_id_props(spark, tmp_path,
                        [(pb, pa), (pa, pb), (None, pa), (pa, None)])
    assert got == {7 + i: {(("name", "aa"),)} for i in range(4)}, got


def test_premerge_duplicate_resolution_on_raw_props_under_filter(
        spark, tmp_path):
    """The duplicate-id winner must be chosen on the RAW props (F.min runs
    in the join, before the encoder's filter) even when the -y/-x/-X
    filter would FLIP the ordering between the colliding rows — then the
    filter applies to the winner. Raw: pa < pb (key 'a' value '1' < '2');
    filtered (drop 'a'): filter(pb)=[(b,1)] < filter(pa)=[(z,9)].
    Filtering first would pick pb; the winner must be filter(pa)."""
    pa = _props(("a", "1"), ("z", "9"))
    pb = _props(("a", "2"), ("b", "1"))
    got = _dup_id_props(spark, tmp_path, [(pa, pb), (pb, pa)],
                        exclude_properties=["a"])
    assert got == {7: {(("z", "9"),)}, 8: {(("z", "9"),)}}, got


def test_premerge_props_byte_identical_with_filters(spark, tmp_path):
    """End-to-end: with a property filter configured, ``convert`` (props
    join, filter in the reduce-side encoder) must produce the archive of
    the driver-side WKB props encode byte for byte, and the filtered keys
    must be gone from every tile."""
    from gpq_tiles_spark.pipeline import convert

    rows = []
    for i in range(8):
        cx, cy = 5.0 + 4.0 * i, 30.0 + (i % 3)
        ring = np.array([[cx, cy], [cx + 1, cy], [cx + 1, cy + 1],
                         [cx, cy + 1], [cx, cy]])
        rows.append((i, str(i), 0, bytearray(G.to_wkb((G.POLYGON, [ring]))),
                     G.POLYGON, cx, cy, cx + 1.0, cy + 1.0,
                     f"z{i}", float(i) * 2.5, i % 2 == 0))
    df = spark.createDataFrame(
        rows,
        "feature_id long, doc_id string, span_offset int, wkb binary, "
        "geom_type int, lng_min double, lat_min double, lng_max double, "
        "lat_max double, name string, height double, active boolean")
    feats = encode_props_column(df, ["name", "height", "active"])
    cfg = TilerConfig(min_zoom=2, max_zoom=4, shuffle_partitions=4,
                      write_properties=True,
                      exclude_properties=["height"])
    p_pre = str(tmp_path / "pre.pmtiles")
    convert(feats, p_pre, cfg)
    a = reference_archive(feats, cfg, str(tmp_path / "wkb.pmtiles"))
    assert a == open(p_pre, "rb").read()
    # and the filter actually did something
    from gpq_tiles_spark.kernels.pmtiles import PMTilesReader

    r = PMTilesReader(p_pre)
    for tid in r.tile_ids():
        lay = decode_tile(r.get_tile_bytes(tid))[0]
        for f in lay["features"]:
            p = feature_properties(f, lay["keys"], lay["values"])
            assert set(p) <= {"name", "active"}
    r.close()


def _charged_bytes(mvt: bytes, head: bytes, tail: bytes) -> int:
    """Layer bytes minus head/tail — exactly what the budget charges."""
    j = 1
    while mvt[j] & 0x80:
        j += 1
    return len(mvt) - (j + 1) - len(head) - len(tail)


def test_capped_props_tile_never_exceeds_budget():
    """ADVICE r5 item 1: after the capped-tile rebuild re-interns and
    remaps dictionary indices, a survivor's tag index can GROW across a
    varint boundary (first-appearance ranks permute under feature drops).
    The rebuilt tile must re-check and keep dropping until the charged
    bytes fit — randomized over many shapes with >=128 distinct values."""
    rng = np.random.default_rng(6)
    head, tail = b"\x0a\x01x", b"\x28\x80\x20\x78\x02"
    live_msg = b"\x12\x04\x08\x01\x18\x01"
    for trial in range(40):
        n_feat = int(rng.integers(20, 80))
        pool = [f"v{k:03d}-{'p' * int(rng.integers(0, 12))}"
                for k in range(int(rng.integers(130, 300)))]
        fids = rng.choice(np.arange(1, 10_000), size=n_feat, replace=False)
        items = [
            _props(*[("k", pool[int(j)]) for j in
                     rng.choice(len(pool), size=int(rng.integers(1, 4)),
                                replace=False)])
            for _ in range(n_feat)
        ]
        full, _ = _encode_props_tile(
            trial, list(fids), [live_msg] * n_feat, items, None,
            head, tail, None)
        full_charged = _charged_bytes(full, head, tail)
        budget = int(full_charged * rng.uniform(0.3, 0.9))
        mvt, n_kept = _encode_props_tile(
            trial, list(fids), [live_msg] * n_feat, items, None,
            head, tail, budget)
        assert n_kept >= 1
        if n_kept > 1:
            assert _charged_bytes(mvt, head, tail) <= budget, (
                f"trial {trial}: capped tile over budget")
        # determinism: same inputs -> same bytes
        mvt2, _ = _encode_props_tile(
            trial, list(fids), [live_msg] * n_feat, items, None,
            head, tail, budget)
        assert mvt == mvt2


def test_capped_props_tile_remap_growth_adversarial():
    """Deterministic construction of the ADVICE r5 scenario: dropping the
    hash-order-last feature demotes a value from dictionary rank 0 to rank
    129 (first-appearance ranks PERMUTE under drops), and a survivor
    referencing that value 20 times grows by 20 varint bytes — more than
    the dropped feature's entire framed size. The single-pass cap the old
    code used returns an over-budget tile here; the round-6 re-check loop
    must not."""
    from gpq_tiles_spark.kernels.drop import tile_budget_keep_mask
    from gpq_tiles_spark.kernels.mvt import _len_delim
    from gpq_tiles_spark.pipeline import _intern_tile_tags, _splice_tags

    head, tail = b"\x0a\x01x", b"\x28\x80\x20\x78\x02"
    live_msg = b"\x12\x04\x08\x01\x18\x01"
    tile_id = 3
    n = 131  # D + F1..F129 + X
    fids = np.arange(1, n + 1, dtype=np.int64)
    # find which fid sorts LAST in the keep-mask's hash order -> that's D
    ones = np.ones(n, dtype=np.int64)
    probe = tile_budget_keep_mask(fids, ones, tile_id, n - 1)
    d_fid = int(fids[~probe][0])
    pool = [f"val-{k:03d}" for k in range(130)]
    feats = []
    order_fids = []
    # D first in ENTRY order (v0 gets rank 0), last in hash order
    feats.append(_props(("k", pool[0])))
    order_fids.append(d_fid)
    rest = [int(f) for f in fids if f != d_fid]
    for i, f in enumerate(rest[:129]):  # F1..F129: v1..v129
        feats.append(_props(("k", pool[i + 1])))
        order_fids.append(f)
    feats.append(_props(*[("k", pool[0])] * 20))  # X: v0 twenty times
    order_fids.append(rest[129])
    full, _ = _encode_props_tile(
        tile_id, order_fids, [live_msg] * n, feats, None, head, tail, None)
    total_charged = _charged_bytes(full, head, tail)
    budget = total_charged - 1  # exactly one (hash-last = D) must drop
    # prove the scenario: the OLD single-pass behavior overshoots
    tag_bytes, keys, vals = _intern_tile_tags(feats, None)
    parts = [_splice_tags(live_msg, f, tb) if tb else live_msg
             for f, tb in zip(order_fids, tag_bytes)]
    dict_bytes = (sum(len(_len_delim(3, k.encode())) for k in keys)
                  + sum(len(_len_delim(4, v)) for v in vals))
    flens = np.fromiter((len(p) for p in parts), dtype=np.int64)
    mask = tile_budget_keep_mask(
        np.asarray(order_fids, dtype=np.int64), flens, tile_id,
        max(budget - dict_bytes, 0))
    keep = np.flatnonzero(mask)
    assert list(np.asarray(order_fids)[~mask]) == [d_fid]
    old_mvt, old_n = _encode_props_tile(
        tile_id, [order_fids[i] for i in keep], [live_msg] * len(keep),
        [feats[i] for i in keep], None, head, tail, None)
    assert old_n > 1
    assert _charged_bytes(old_mvt, head, tail) > budget, (
        "adversarial construction no longer triggers remap growth — "
        "rebuild it")
    # the fixed path re-checks and lands under budget
    mvt, n_kept = _encode_props_tile(
        tile_id, order_fids, [live_msg] * n, feats, None, head, tail,
        budget)
    assert n_kept > 1
    assert _charged_bytes(mvt, head, tail) <= budget


def test_intern_vectorized_matches_packed_u32():
    """The single-buffer varint tag packing must be byte-identical to the
    per-entry _packed_u32 assembly it replaced, across the factorize and
    dict-loop interning regimes."""
    from gpq_tiles_spark.kernels.mvt import _packed_u32
    from gpq_tiles_spark.pipeline import _FACTORIZE_MIN_ENTRIES, _intern_tile_tags

    rng = np.random.default_rng(9)
    for n_entries in (1, 3, 700, _FACTORIZE_MIN_ENTRIES):
        keys = [f"key{int(k)}" for k in rng.integers(0, 40, size=n_entries)]
        vals = [encode_value(int(v)) for v in rng.integers(0, 200, size=n_entries)]
        # split into features of 0-4 entries (some None features mixed in)
        feats, i = [], 0
        while i < n_entries:
            take = int(rng.integers(1, 5))
            feats.append([{"key": k, "val": v}
                          for k, v in zip(keys[i:i + take], vals[i:i + take])])
            i += take
            if rng.random() < 0.2:
                feats.append(None)
        tag_bytes, ks, vs = _intern_tile_tags(feats, None)
        # reference assembly from the same interned codes
        kidx = {k: j for j, k in enumerate(ks)}
        vidx = {bytes(v): j for j, v in enumerate(vs)}
        for f, tb in zip(feats, tag_bytes):
            if not f:
                assert tb == b""
                continue
            want = []
            for it in f:
                want += [kidx[it["key"]], vidx[bytes(it["val"])]]
            assert tb == _packed_u32(2, want)


def test_capped_props_tile_with_dead_records_terminates():
    """Regression (round 6): the post-rebuild budget re-check judged the
    one-feature guarantee by n_kept, which COUNTS zero-cost dead records.
    A tile whose single live feature (plus dictionary) exceeds the budget
    while dead records ride along kept n_kept > 1 at eff=0 forever — an
    infinite loop hypothesis found in test_encode_props_tile_invariants.
    The guarantee must count LIVE records only."""
    head, tail = b"\x0a\x01x", b"\x28\x80\x20\x78\x02"
    live_msg = b"\x12\x04\x08\x01\x18\x01"
    fat = _props(("k", "v" * 120), ("kk", "w" * 120))
    fids = [1, 4, 7, 10]
    msgs = [live_msg, b"", b"", b""]
    items = [fat, None, None, None]
    mvt, n_kept = _encode_props_tile(
        42, fids, msgs, items, None, head, tail, 8)
    # terminated, kept the one live feature + the zero-cost dead records
    assert n_kept == 4
    from gpq_tiles_spark.kernels.mvt import decode_tile
    lay = decode_tile(mvt)[0]
    assert len(lay["features"]) == 1
    # over budget is allowed ONLY via the never-empties-a-tile guarantee
    assert _charged_bytes(mvt, head, tail) > 8


# ---------------------------------------------------------------------------
# round-6 second-pass review fixes
# ---------------------------------------------------------------------------


def test_codec_backend_fingerprint_stable():
    """codec_backend is a pure, stable fingerprint per codec — the sharded
    sink compares the driver's value against each executor's to fail fast
    on heterogeneous images instead of silently diverging bytes."""
    from gpq_tiles_spark.kernels import pmtiles as P
    from gpq_tiles_spark.kernels import zstd_ctypes

    assert P.codec_backend(P.COMPRESSION_NONE) == "none"
    g1 = P.codec_backend(P.COMPRESSION_GZIP)
    assert g1.startswith("zlib:") and g1 == P.codec_backend(P.COMPRESSION_GZIP)
    z = P.codec_backend(P.COMPRESSION_ZSTD)
    if zstd_ctypes.available():
        assert z != "zstd:unavailable"
        assert zstd_ctypes.version_number() > 0


def test_shard_writer_rejects_backend_mismatch(tmp_path):
    """A shard task whose process would compress with a different library
    than the driver planned must raise BEFORE writing any shard bytes."""
    from gpq_tiles_spark.kernels import pmtiles as P
    from gpq_tiles_spark.pipeline import _make_shard_writer

    pdf = pd.DataFrame({
        "tile_id": [0], "z": [0], "content_hash": [1], "mvt": [b"\x1a\x00"],
        "n_features": [1], "pid": [0],
    })
    bad = _make_shard_writer(str(tmp_path), P.COMPRESSION_GZIP,
                             "zlib:some-other-version")
    with pytest.raises(RuntimeError, match="backend mismatch"):
        list(bad(iter([pdf])))
    assert list(tmp_path.iterdir()) == []  # nothing written
    # matching fingerprint writes normally
    good = _make_shard_writer(str(tmp_path), P.COMPRESSION_GZIP,
                              P.codec_backend(P.COMPRESSION_GZIP))
    out = pd.concat(list(good(iter([pdf]))))
    assert len(out) == 1 and (tmp_path / "shard_00000.bin").exists()


def test_budget_recheck_converges_in_few_rebuilds(monkeypatch):
    """The post-remap re-check must evict at least one live record per
    pass (eff capped below the kept set's cumsum), not shrink eff by a
    few-byte overshoot through many identical rebuilds."""
    calls = [0]
    from gpq_tiles_spark.kernels import drop as drop_mod

    real_mask = drop_mod.tile_budget_keep_mask

    def counting_mask(*a, **k):
        calls[0] += 1
        return real_mask(*a, **k)

    monkeypatch.setattr(drop_mod, "tile_budget_keep_mask", counting_mask)
    # 40 live features with 130+ distinct keys/values so surviving tag
    # indexes can cross the 1-vs-2-byte varint boundary after remap
    n = 40
    fids = list(range(1, n + 1))
    msgs = [b"\x12\x04\x08\x01\x18\x01"] * n
    items = [_props((f"key_{i:03d}", f"val_{i:03d}")) for i in range(n)]
    head, tail = b"\x0a\x01x", b"\x28\x80\x20\x78\x02"
    full, _ = _encode_props_tile(7, fids, msgs, items, None, head, tail, None)
    budget = (len(full) - 3) // 2  # force a deep cap
    mvt, n_kept = _encode_props_tile(7, fids, msgs, items, None, head, tail,
                                     budget)
    assert _charged_bytes(mvt, head, tail) <= budget
    # one mask per rebuild; convergence must be far under the old
    # worst case (up to gap/overshoot ~ hundreds of passes)
    assert calls[0] <= n


def test_planned_backend_none_when_driver_lacks_codec(monkeypatch):
    """Sharded mode never compresses tiles on the driver, so a driver
    image without zstd must NOT fail the executor assertion — the planned
    fingerprint degrades to None (check skipped; an executor that also
    lacks the codec raises its own clear error in compress())."""
    from gpq_tiles_spark import pipeline as pl
    from gpq_tiles_spark.kernels import pmtiles as P

    monkeypatch.setattr(P, "_zstd", None)
    monkeypatch.setattr(P._zstd_sys, "available", lambda: False)
    assert pl._planned_codec_backend(P.COMPRESSION_ZSTD) is None
    gz = pl._planned_codec_backend(P.COMPRESSION_GZIP)
    assert gz is not None and ":probe:" in gz

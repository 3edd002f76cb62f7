"""End-to-end tiling pipeline tests.

The scalar oracle below re-implements the reference's phase-1 loop
(pipeline.rs:966-1050) directly: per geometry, per zoom, per tile —
tiles_for_bbox -> buffered-bbox test -> clip -> validate -> drop. The Spark
pipeline's vectorized fast paths must produce the exact same
(tile_id, feature_id) -> wkb mapping.
"""

import numpy as np
import pytest

from gpq_tiles_spark.config import TilerConfig
from gpq_tiles_spark.extract import extract_features
from gpq_tiles_spark.kernels import clip as CK
from gpq_tiles_spark.kernels import drop as DK
from gpq_tiles_spark.kernels import geom as G
from gpq_tiles_spark.kernels import hilbert as H
from gpq_tiles_spark.kernels import mvt as M
from gpq_tiles_spark.kernels import pmtiles as P
from gpq_tiles_spark.kernels import simplify as SK
from gpq_tiles_spark.kernels import tile_math as T
from gpq_tiles_spark.kernels import validate as VK
from gpq_tiles_spark.pipeline import convert, encode_tiles_premerge, fanout_records

from tests.reference_tiles import reference_archive


def scalar_phase1(features, config: TilerConfig):
    """Reference-shaped scalar loop: list of (tile_id, z, x, y, fid, wkb).

    Mirrors the engine's two regimes: per-tile clip for small features, grid
    classification (canonical interior rects) for features whose candidate
    tile count exceeds GRID_THRESHOLD — same decision rule, scalar loops.
    """
    from gpq_tiles_spark.kernels import gridclip as GC

    out = []

    def clip_one(simplified, z, xx, yy, fid, bbox, prefilter=True):
        gx0, gy0, gx1, gy1 = bbox
        lng0, lat0, lng1, lat1 = (
            float(v[0]) for v in T.tile_bounds(np.array([xx]), np.array([yy]), z)
        )
        buf = (lng1 - lng0) * config.buffer_pixels / config.extent
        if prefilter and not (
            gx1 >= lng0 - buf and gx0 <= lng1 + buf
            and gy1 >= lat0 - buf and gy0 <= lat1 + buf
        ):
            return None
        clipped = CK.clip_geometry(simplified, lng0, lat0, lng1, lat1, buf)
        if clipped is None:
            return None
        validated = VK.filter_valid_geometry(clipped)
        if validated is None:
            return None
        if DK.should_drop_geometry(
            validated, z, config.max_zoom, config.extent,
            lng0, lat0, lng1, lat1, fid,
        ):
            return None
        return G.to_wkb(validated)

    for fid, wkb, bbox in features:
        g = G.from_wkb(wkb)
        gx0, gy0, gx1, gy1 = bbox
        simplified = SK.simplify_for_zoom(g, config.max_zoom, config.extent)
        grid_capable = simplified[0] in (
            G.LINESTRING, G.POLYGON, G.MULTILINESTRING, G.MULTIPOLYGON)
        for z in range(config.min_zoom, config.max_zoom + 1):
            x0a, x1a, x0b, x1b, y0, y1 = T.tile_ranges_for_bbox(
                np.array([gx0]), np.array([gy0]), np.array([gx1]), np.array([gy1]), z
            )
            ranges = [(int(x0a[0]), int(x1a[0]))]
            if int(x0b[0]) <= int(x1b[0]):
                ranges.append((int(x0b[0]), int(x1b[0])))
            gyy0, gyy1 = int(y0[0]), int(y1[0])
            count = sum(x1 - x0 + 1 for x0, x1 in ranges) * max(gyy1 - gyy0 + 1, 0)
            if grid_capable and count > GC.GRID_THRESHOLD:
                poly_like = simplified[0] in (G.POLYGON, G.MULTIPOLYGON)
                for rx0, rx1 in ranges:
                    if poly_like:
                        boundary, interior = GC.classify_polygon_grid(
                            simplified, z, rx0, rx1, gyy0, gyy1,
                            config.buffer_pixels, config.extent)
                    else:
                        boundary = GC.mark_boundary(
                            GC.edge_bboxes(simplified), z, rx0, rx1, gyy0, gyy1,
                            config.buffer_pixels, config.extent)
                        interior = None
                    for iy, ix in zip(*np.nonzero(boundary)):
                        xx, yy = rx0 + ix, gyy0 + iy
                        w = clip_one(simplified, z, xx, yy, fid, bbox, prefilter=False)
                        if w is not None:
                            tid = int(H.tile_id(z, np.array([xx]), np.array([yy]))[0])
                            out.append((tid, z, xx, yy, fid, w))
                    if interior is not None:
                        for iy, ix in zip(*np.nonzero(interior)):
                            xx, yy = rx0 + ix, gyy0 + iy
                            tid = int(H.tile_id(z, np.array([xx]), np.array([yy]))[0])
                            # canonical interior rect -> empty-wkb marker
                            out.append((tid, z, xx, yy, fid, b""))
                continue
            for xs0, xs1 in ranges:
                for yy in range(gyy0, gyy1 + 1):
                    for xx in range(xs0, xs1 + 1):
                        w = clip_one(simplified, z, xx, yy, fid, bbox)
                        if w is not None:
                            tid = int(H.tile_id(z, np.array([xx]), np.array([yy]))[0])
                            out.append((tid, z, xx, yy, fid, w))
    return out


@pytest.fixture(scope="module")
def small_config():
    return TilerConfig(min_zoom=0, max_zoom=8, shuffle_partitions=8)


def test_fanout_matches_scalar_oracle(spark, docs_table, small_config):
    feats_df = extract_features(spark.read.parquet(docs_table))
    feats = [
        (r.feature_id, bytes(r.wkb), (r.lng_min, r.lat_min, r.lng_max, r.lat_max))
        for r in feats_df.collect()
    ]
    expected = {
        (tid, fid): wkb for tid, z, x, y, fid, wkb in scalar_phase1(feats, small_config)
    }

    records = fanout_records(feats_df, small_config).collect()
    got = {(r.tile_id, r.feature_id): bytes(r.wkb) for r in records}

    assert set(got) == set(expected)
    mismatches = [k for k in expected if got[k] != expected[k]]
    assert mismatches == [], f"wkb mismatch for {mismatches[:5]}"


def test_encode_tiles_grouping(spark, docs_table, small_config):
    feats_df = extract_features(spark.read.parquet(docs_table))
    records = fanout_records(feats_df, small_config)
    n_records = records.count()
    tiles = encode_tiles_premerge(feats_df, small_config).collect()
    assert sum(t.n_features for t in tiles) == n_records
    tids = [t.tile_id for t in tiles]
    assert len(tids) == len(set(tids))
    # every tile decodes to valid MVT with the right feature count
    for t in tiles[:20]:
        layers = M.decode_tile(bytes(t.mvt))
        assert len(layers) == 1
        assert layers[0]["name"] == "features"
        assert len(layers[0]["features"]) == t.n_features
        assert layers[0]["version"] == 2


def test_convert_end_to_end(spark, docs_table, small_config, tmp_path):
    out = str(tmp_path / "out.pmtiles")
    feats_df = extract_features(spark.read.parquet(docs_table))
    stats = convert(feats_df, out, small_config)
    assert stats["tiles"] > 0

    rd = P.PMTilesReader(out)
    assert rd.header.addressed_tiles_count == stats["tiles"]
    assert rd.header.min_zoom == 0
    tile_ids = rd.tile_ids()
    assert tile_ids == sorted(tile_ids)
    # z0 tile exists and decodes
    mvt0 = rd.get_tile_bytes(0)
    assert mvt0 is not None
    layers = M.decode_tile(mvt0)
    assert layers[0]["features"], "z0 tile should contain features"
    # feature ids in the z0 tile are sorted (secondary sort by feature_id)
    fids = [f["id"] for f in layers[0]["features"]]
    assert fids == sorted(fids)
    # metadata sane
    assert rd.metadata["vector_layers"][0]["id"] == "features"
    ts = rd.metadata["tilestats"]
    assert ts["total_features"] == stats["features"]


def test_convert_progress_events_and_metrics(spark, docs_table, tmp_path):
    """convert(progress=...) delivers ordered phase events and the
    accumulator metrics agree with the actual tile/record counts
    (pipeline.rs:41-77 ProgressEvent analog + A6 accounting)."""
    from gpq_tiles_spark.config import TilerConfig
    from gpq_tiles_spark.pipeline import convert

    feats = extract_features(spark.read.parquet(docs_table))
    n_feats = feats.count()
    events = []
    out = str(tmp_path / "prog.pmtiles")
    stats = convert(feats, out, TilerConfig(min_zoom=0, max_zoom=6,
                                            shuffle_partitions=4),
                    progress=events.append)
    phases = [(e.phase, e.kind) for e in events]
    # ordered lifecycle: bounds -> tiles -> archive
    assert phases[0] == ("bounds", "start")
    assert ("bounds", "complete") in phases
    assert phases.index(("tiles", "start")) < phases.index(("tiles", "complete"))
    assert phases[-1] == ("archive", "complete")
    done = [e for e in events if (e.phase, e.kind) == ("tiles", "complete")][0]
    assert done.info["tiles"] == stats["tiles"]
    m = stats["metrics"]
    assert m["features_in"] == n_feats
    assert m["tiles_out"] == stats["tiles"]
    assert m["records_out"] >= stats["tiles"]  # records >= tiles (grouping)


def test_zstd_brotli_gated(tmp_path):
    """Codec 4/3 paths exist behind import gates: with no backend they
    raise a clear NotImplementedError; round-trip when present. zstd has
    TWO backends — the `zstandard` package and the round-6 ctypes binding
    to the system libzstd — and compress() must route to whichever
    exists."""
    import pytest as _pytest

    from gpq_tiles_spark.kernels import pmtiles as P
    from gpq_tiles_spark.kernels import zstd_ctypes as Z

    data = b"tile bytes " * 50
    zstd_ok = P._zstd is not None or Z.available()
    if zstd_ok:
        assert P.decompress(P.compress(data, P.COMPRESSION_ZSTD),
                            P.COMPRESSION_ZSTD) == data
        # deterministic: the sharded sink's byte-identity contract
        assert P.compress(data, P.COMPRESSION_ZSTD) == P.compress(
            data, P.COMPRESSION_ZSTD)
    else:  # pragma: no cover - at least libzstd present in this container
        with _pytest.raises(NotImplementedError):
            P.compress(data, P.COMPRESSION_ZSTD)
    if P._brotli is None:
        with _pytest.raises(NotImplementedError):
            P.compress(data, P.COMPRESSION_BROTLI)
    else:  # pragma: no cover - lib present in some environments
        assert P.decompress(P.compress(data, P.COMPRESSION_BROTLI),
                            P.COMPRESSION_BROTLI) == data
    # gzip always round-trips
    assert P.decompress(P.compress(data, P.COMPRESSION_GZIP), P.COMPRESSION_GZIP) == data


def test_convert_sharded_byte_identical(spark, docs_table, tmp_path):
    """The archive writer (executor-written shard files + driver
    finalize) must produce the EXACT same archive bytes as the driver-side
    reference encode — same dedup decisions, offsets, directory, and
    header."""
    from gpq_tiles_spark.config import TilerConfig
    from gpq_tiles_spark.kernels.pmtiles import PMTilesReader
    from gpq_tiles_spark.pipeline import convert_sharded
    from tests.reference_tiles import reference_archive

    feats = extract_features(spark.read.parquet(docs_table))
    cfg = TilerConfig(min_zoom=0, max_zoom=7, shuffle_partitions=4)
    p1 = str(tmp_path / "reference.pmtiles")
    p2 = str(tmp_path / "sharded.pmtiles")
    expected = reference_archive(feats, cfg, p1)
    s2 = convert_sharded(feats, p2, cfg)
    hdr = PMTilesReader(p1).header
    assert s2["tiles"] == hdr.addressed_tiles_count
    assert s2["unique_blobs"] == hdr.tile_contents_count
    with open(p2, "rb") as f2:
        assert f2.read() == expected


def test_encode_single_tile_matches_pipeline(spark, docs_table, small_config):
    """generate_single_tile analog: encoding one (z, x, y) driver-side must
    produce the same MVT bytes as the distributed pipeline's tile."""
    from gpq_tiles_spark.pipeline import encode_single_tile

    feats_df = extract_features(spark.read.parquet(docs_table))
    tiles = encode_tiles_premerge(feats_df, small_config).collect()
    # pick a mid-zoom tile with several features
    cand = [t for t in tiles if t.z == 6 and t.n_features >= 2]
    target = cand[0] if cand else tiles[len(tiles) // 2]
    feats = [(r.feature_id, bytes(r.wkb)) for r in feats_df.collect()]
    single = encode_single_tile(feats, target.z, target.x, target.y, small_config)
    assert single == bytes(target.mvt)


def test_convert_sharded_empty_input(spark, tmp_path):
    """Empty features -> valid, empty archive via the sharded sink too."""
    from gpq_tiles_spark.config import TilerConfig
    from gpq_tiles_spark.extract import FEATURES_SCHEMA
    from gpq_tiles_spark.kernels.pmtiles import PMTilesReader
    from gpq_tiles_spark.pipeline import convert_sharded
    from tests.reference_tiles import reference_archive

    feats = spark.createDataFrame([], schema=FEATURES_SCHEMA)
    cfg = TilerConfig(min_zoom=0, max_zoom=3, shuffle_partitions=2)
    out = str(tmp_path / "empty_sharded.pmtiles")
    stats = convert_sharded(feats, out, cfg)
    assert stats["tiles"] == 0
    rd = PMTilesReader(out)
    assert rd.header.addressed_tiles_count == 0
    expected = reference_archive(feats, cfg,
                                 str(tmp_path / "empty_reference.pmtiles"))
    with open(out, "rb") as a:
        assert a.read() == expected


def test_grid_regime_holed_multipolygon_matches_oracle(spark):
    """A continent-scale MULTIPOLYGON with holes exercises the fused grid
    finisher's hole paths (hole clipping, hole-invalidates-part rule, hole
    area signs) — must match the scalar reference loop exactly."""
    import numpy as np
    import pandas as pd

    from gpq_tiles_spark.extract import FEATURES_SCHEMA
    from gpq_tiles_spark.kernels import geom as G
    from gpq_tiles_spark.pipeline import fanout_records

    def ring(cx, cy, rx, ry, n=40, rev=False):
        ang = np.linspace(0, 2 * np.pi, n, endpoint=False)
        r = np.stack([cx + np.cos(ang) * rx, cy + np.sin(ang) * ry], 1)
        r = np.vstack([r, r[:1]])
        return r[::-1] if rev else r

    g = (G.MULTIPOLYGON, [
        [ring(0, 20, 40, 25), ring(0, 20, 15, 9, rev=True),
         ring(25, 30, 5, 4, rev=True)],
        [ring(100, -20, 30, 18), ring(100, -20, 10, 6, rev=True)],
    ])
    wkb = G.to_wkb(g)
    x0, y0, x1, y1 = G.bbox(g)
    pdf = pd.DataFrame({
        "feature_id": [42], "doc_id": ["m"], "span_offset": [0],
        "wkb": [wkb], "geom_type": [G.MULTIPOLYGON],
        "lng_min": [x0], "lat_min": [y0], "lng_max": [x1], "lat_max": [y1],
    })
    feats = spark.createDataFrame(pdf, schema=FEATURES_SCHEMA)
    cfg = TilerConfig(min_zoom=0, max_zoom=7, shuffle_partitions=4)
    recs = fanout_records(feats, cfg).collect()
    got = {(r.tile_id): bytes(r.wkb) for r in recs}
    oracle = scalar_phase1([(42, wkb, (x0, y0, x1, y1))], cfg)
    want = {tid: w for tid, z, x, y, fid, w in oracle}
    assert set(got) == set(want), (len(set(got) - set(want)), len(set(want) - set(got)))
    diff = [t for t in got if got[t] != want[t]]
    assert not diff, len(diff)
    assert len(got) > 200  # the grid regime actually engaged


def test_antimeridian_and_polar_parity(spark):
    """Parity-corpus hardening (round-3 item): antimeridian-crossing
    polygons at deep zoom and a polar band beyond the Web-Mercator clamp
    (lat ~ 85.05) must produce the exact scalar-oracle records — the
    clamped tile-range math, the y-degenerate rows, and the vectorized
    clip fast paths all agree with the reference-shaped loop."""
    import pandas as pd

    from gpq_tiles_spark.extract import FEATURES_SCHEMA
    from gpq_tiles_spark.pipeline import fanout_records

    def poly(coords):
        ring = np.asarray(coords, dtype=np.float64)
        ring = np.vstack([ring, ring[:1]])
        return (G.POLYGON, [ring])

    geoms = [
        # antimeridian-crossing (expressed unwrapped, lng > 180)
        poly([[179.2, -10.0], [181.5, -10.3], [181.3, 5.2], [179.4, 4.8]]),
        # thin sliver hugging the antimeridian on the west side
        poly([[179.95, 40.0], [180.0, 40.0], [180.0, 47.0], [179.95, 47.0]]),
        # polar band crossing the mercator clamp (lat 84.8 .. 85.4)
        poly([[-30.0, 84.8], [20.0, 84.9], [25.0, 85.4], [-35.0, 85.3]]),
        # south-polar counterpart
        poly([[100.0, -85.4], [140.0, -85.35], [139.0, -84.7], [101.0, -84.75]]),
    ]
    rows = []
    feats_for_oracle = []
    for i, g in enumerate(geoms):
        wkb = G.to_wkb(g)
        x0, y0, x1, y1 = G.bbox(g)
        rows.append({
            "feature_id": 100 + i, "doc_id": str(i), "span_offset": 0,
            "wkb": wkb, "geom_type": g[0],
            "lng_min": x0, "lat_min": y0, "lng_max": x1, "lat_max": y1,
        })
        feats_for_oracle.append((100 + i, wkb, (x0, y0, x1, y1)))
    feats = spark.createDataFrame(pd.DataFrame(rows), schema=FEATURES_SCHEMA)
    cfg = TilerConfig(min_zoom=0, max_zoom=11, shuffle_partitions=4)
    recs = fanout_records(feats, cfg).collect()
    got = {(r.tile_id, r.feature_id): bytes(r.wkb) for r in recs}
    oracle = scalar_phase1(feats_for_oracle, cfg)
    want = {(tid, fid): w for tid, z, x, y, fid, w in oracle}
    assert set(got) == set(want), (
        len(set(got) - set(want)), len(set(want) - set(got)))
    diff = [k for k in got if got[k] != want[k]]
    assert not diff, len(diff)
    # each regime actually produced records
    per_feat = {}
    for (tid, fid) in got:
        per_feat[fid] = per_feat.get(fid, 0) + 1
    assert all(per_feat.get(100 + i, 0) > 0 for i in range(len(geoms))), per_feat


def test_premerge_paths_byte_identical(spark, docs_table, tmp_path):
    """Round-3 premerge encode: map-side per-record message encode +
    reduce-side wrap on the sharded sink must equal the single-writer
    archive byte-for-byte, including under tiny Arrow batches (cross-batch
    run carries through the list-pend wrap path), and both must equal the
    driver-side WKB encode of the same records."""
    from gpq_tiles_spark.config import TilerConfig
    from gpq_tiles_spark.pipeline import convert, convert_sharded

    feats = extract_features(spark.read.parquet(docs_table))
    cfg = TilerConfig(min_zoom=0, max_zoom=7, shuffle_partitions=4)
    p_ref = str(tmp_path / "single.pmtiles")
    convert(feats, p_ref, cfg)
    with open(p_ref, "rb") as f:
        ref = f.read()

    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    try:
        for batch_rows in (None, 5):
            if batch_rows is not None:
                spark.conf.set(
                    "spark.sql.execution.arrow.maxRecordsPerBatch",
                    str(batch_rows))
            p = str(tmp_path / f"premerge_{batch_rows}.pmtiles")
            convert_sharded(feats, p, cfg)
            with open(p, "rb") as f:
                assert f.read() == ref, f"premerge batch={batch_rows}"
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old)

    assert reference_archive(feats, cfg, str(tmp_path / "ref.pmtiles")) == ref


def test_encode_record_msgs_matches_sorted_runs_slices():
    """Per-record framed messages (any input order) must equal the slices
    each record occupies in encode_sorted_runs' per-tile body."""
    import numpy as np

    from gpq_tiles_spark.kernels import geom as G
    from gpq_tiles_spark.kernels import mvt_fast

    rng = np.random.default_rng(5)
    tids, fids, wkbs = [], [], []
    for i in range(60):
        z = int(rng.integers(1, 8))
        x = int(rng.integers(0, 2 ** z))
        y = int(rng.integers(0, 2 ** z))
        from gpq_tiles_spark.kernels.hilbert import tile_id as tid_fn
        tids.append(int(tid_fn(z, np.array([x]), np.array([y]))[0]))
        fids.append(i)
        kind = rng.integers(0, 4)
        from gpq_tiles_spark.kernels.tile_math import tile_bounds
        lng0, lat0, lng1, lat1 = (float(v[0]) for v in tile_bounds(
            np.array([float(x)]), np.array([float(y)]), z))
        if kind == 0:
            wkbs.append(b"")  # interior-rect marker
        elif kind == 1:
            wkbs.append(G.to_wkb((G.POINT, np.array(
                [(lng0 + lng1) / 2, (lat0 + lat1) / 2]))))
        elif kind == 2:
            ring = np.array([[lng0, lat0], [lng1, lat0], [lng1, lat1],
                             [lng0, lat0]])
            wkbs.append(G.to_wkb((G.POLYGON, [ring])))
        else:
            line = np.array([[lng0, lat0], [(lng0 + lng1) / 2, lat1]])
            wkbs.append(G.to_wkb((G.LINESTRING, line)))
    tid_a = np.array(tids, dtype=np.int64)
    fid_a = np.array(fids, dtype=np.int64)
    wkb_a = np.array(wkbs, dtype=object)

    msgs = mvt_fast.encode_record_msgs(tid_a, fid_a, wkb_a, 4096, 8.0)

    order = np.lexsort((fid_a, tid_a))
    st, sf, sw = tid_a[order], fid_a[order], wkb_a[order]
    cols = mvt_fast.encode_sorted_runs(st, sf, sw, "features", 4096, 8.0)
    # reassemble each tile body from per-record messages and compare
    wrapped = mvt_fast.wrap_sorted_msgs(
        st, np.array([msgs[i] for i in order], dtype=object),
        "features", 4096)
    assert list(wrapped["tile_id"]) == list(cols["tile_id"])
    assert wrapped["mvt"] == cols["mvt"]
    assert list(wrapped["n_features"]) == list(cols["n_features"])


def test_convert_premerge_dense_corpus_byte_identical(spark, tmp_path):
    """A vertex-dense corpus (400-700-vertex rings) must produce identical
    bytes through convert, convert_sharded (one archive writer: hash
    premerge + driver finalize) and the driver-side WKB encode."""
    import numpy as np
    import pandas as pd

    from gpq_tiles_spark.config import TilerConfig
    from gpq_tiles_spark.kernels import geom as G
    from gpq_tiles_spark.pipeline import convert, convert_sharded

    rng = np.random.default_rng(77)
    rows = []
    for i in range(60):
        n = int(rng.integers(400, 700))
        th = np.sort(rng.uniform(0, 2 * np.pi, n))
        r = 1.0 + 0.2 * np.sin(5 * th + rng.uniform(0, 6))
        cx, cy = float(rng.uniform(-170, 170)), float(rng.uniform(-60, 60))
        w = float(rng.uniform(0.01, 2.0))
        ring = np.column_stack([cx + w * r * np.cos(th),
                                cy + 0.7 * w * r * np.sin(th)])
        ring = np.vstack([ring, ring[:1]])
        rows.append({
            "feature_id": i, "doc_id": str(i), "span_offset": 0,
            "wkb": G.to_wkb((G.POLYGON, [ring])), "geom_type": G.POLYGON,
            "lng_min": float(ring[:, 0].min()),
            "lat_min": float(ring[:, 1].min()),
            "lng_max": float(ring[:, 0].max()),
            "lat_max": float(ring[:, 1].max()),
        })
    feats = spark.createDataFrame(pd.DataFrame(rows))
    cfg = TilerConfig(min_zoom=0, max_zoom=8, shuffle_partitions=4)

    p1 = str(tmp_path / "single.pmtiles")
    p2 = str(tmp_path / "sharded.pmtiles")
    s1 = convert(feats, p1, cfg)
    s2 = convert_sharded(feats, p2, cfg)
    assert s1["tiles"] == s2["tiles"] > 0
    with open(p1, "rb") as f1, open(p2, "rb") as f2:
        b1 = f1.read()
        assert b1 == f2.read()
    assert b1 == reference_archive(feats, cfg, str(tmp_path / "ref.pmtiles"))

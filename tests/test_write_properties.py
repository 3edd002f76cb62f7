"""Property serialization into tiles (round-4 extension BEYOND the
reference: its writer emits empty properties — pipeline.rs:949/:1045
"Empty properties for now" — while tippecanoe archives carry real tags).

write_properties=True serializes each feature's props column into MVT tags
with layer-level key/value dictionaries; -y/-x/-X filters apply to the
tags. Default stays off, keeping byte parity with the reference."""

import math

import numpy as np
import pytest
from pyspark.sql import functions as F

from gpq_tiles_spark.config import TilerConfig
from gpq_tiles_spark.extract import FEATURES_SCHEMA
from gpq_tiles_spark.kernels import geom as G
from gpq_tiles_spark.kernels.mvt import decode_tile, feature_properties
from gpq_tiles_spark.kernels.pmtiles import PMTilesReader, read_tile
from gpq_tiles_spark.pipeline import (
    convert,
    convert_sharded,
    encode_props_column,
)

from tests.reference_tiles import reference_archive


@pytest.fixture(scope="module")
def prop_features(spark):
    """Six small polygons with typed properties (string/double/long/bool)."""
    rows = []
    for i in range(6):
        cx, cy = 10.0 + i * 3.0, 40.0 + (i % 2) * 2.0
        ring = np.array([
            [cx, cy], [cx + 1.0, cy], [cx + 1.0, cy + 1.0],
            [cx, cy + 1.0], [cx, cy],
        ])
        wkb = G.to_wkb((G.POLYGON, [ring]))
        rows.append((i, str(i), 0, bytearray(wkb), G.POLYGON,
                     cx, cy, cx + 1.0, cy + 1.0,
                     f"zone-{i}", 10.5 + i, i * 3, i % 2 == 0))
    schema = (
        "feature_id long, doc_id string, span_offset int, wkb binary, "
        "geom_type int, lng_min double, lat_min double, lng_max double, "
        "lat_max double, name string, height double, floors long, "
        "active boolean"
    )
    df = spark.createDataFrame(rows, schema)
    return encode_props_column(df, ["name", "height", "floors", "active"])


def _props_by_fid(path, max_zoom):
    r = PMTilesReader(path)
    out = {}
    for tid in r.tile_ids():
        lay = decode_tile(r.get_tile_bytes(tid))[0]
        for f in lay["features"]:
            out.setdefault(f["id"], feature_properties(f, lay["keys"], lay["values"]))
    return out


def test_properties_roundtrip(spark, prop_features, tmp_path):
    out = str(tmp_path / "props.pmtiles")
    cfg = TilerConfig(min_zoom=2, max_zoom=4, shuffle_partitions=4,
                      write_properties=True)
    stats = convert(prop_features, out, cfg)
    assert stats["tiles"] > 0
    got = _props_by_fid(out, 4)
    assert set(got) == set(range(6))
    for i in range(6):
        p = got[i]
        assert p["name"] == f"zone-{i}"
        assert math.isclose(p["height"], 10.5 + i)
        assert p["floors"] == i * 3
        assert p["active"] is (i % 2 == 0)


def test_property_filters(spark, prop_features, tmp_path):
    inc = str(tmp_path / "inc.pmtiles")
    convert(prop_features, inc,
            TilerConfig(min_zoom=2, max_zoom=3, shuffle_partitions=4,
                        write_properties=True, include_properties=["name"]))
    got = _props_by_fid(inc, 3)
    assert all(set(p) == {"name"} for p in got.values())

    exc = str(tmp_path / "exc.pmtiles")
    convert(prop_features, exc,
            TilerConfig(min_zoom=2, max_zoom=3, shuffle_partitions=4,
                        write_properties=True,
                        exclude_properties=["height", "active"]))
    got = _props_by_fid(exc, 3)
    assert all(set(p) == {"name", "floors"} for p in got.values())

    xall = str(tmp_path / "xall.pmtiles")
    convert(prop_features, xall,
            TilerConfig(min_zoom=2, max_zoom=3, shuffle_partitions=4,
                        write_properties=True, exclude_all_properties=True))
    got = _props_by_fid(xall, 3)
    assert all(p == {} for p in got.values())


def test_props_sharded_byte_identical(spark, prop_features, tmp_path):
    cfg = TilerConfig(min_zoom=2, max_zoom=4, shuffle_partitions=4,
                      write_properties=True)
    p1 = str(tmp_path / "single.pmtiles")
    p2 = str(tmp_path / "sharded.pmtiles")
    convert(prop_features, p1, cfg)
    convert_sharded(prop_features, p2, cfg)
    assert open(p1, "rb").read() == open(p2, "rb").read()


def test_props_requires_column_and_rejects_salted(spark, prop_features, tmp_path):
    cfg = TilerConfig(write_properties=True)
    bare = prop_features.drop("props")
    for sink in (convert, convert_sharded):
        with pytest.raises(ValueError, match="props"):
            sink(bare, str(tmp_path / "x.pmtiles"), cfg)
        with pytest.raises(ValueError, match="salted"):
            sink(prop_features, str(tmp_path / "y.pmtiles"), cfg, salted=True)


def test_option_errors_raise_before_bounds_progress(spark, prop_features,
                                                    tmp_path):
    """Bad option combinations are rejected before any progress event: the
    'bounds' phase brackets the bounds scan, not the option checks."""
    events = []
    with pytest.raises(ValueError, match="props"):
        convert(prop_features.drop("props"), str(tmp_path / "x.pmtiles"),
                TilerConfig(write_properties=True), progress=events.append)
    assert events == []


def test_geoparquet_properties_end_to_end(spark, tmp_path):
    """GeoParquet property columns -> props -> tiles with tags + fields
    metadata, through read_geoparquet(property_cols=...) and
    props_field_metadata — the full user story the reference's CLI stubs
    out."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from gpq_tiles_spark.pipeline import props_field_metadata
    from gpq_tiles_spark.sources.geoparquet import read_geoparquet

    rows = []
    for i in range(5):
        cx = -30.0 + i * 5.0
        ring = np.array([
            [cx, 10.0], [cx + 2.0, 10.0], [cx + 2.0, 12.0],
            [cx, 12.0], [cx, 10.0],
        ])
        rows.append((i, G.to_wkb((G.POLYGON, [ring])), f"city-{i}",
                     float(100 + i), i % 2 == 1))
    src = str(tmp_path / "gp.parquet")
    pq.write_table(pa.table({
        "fid": pa.array([r[0] for r in rows], pa.int64()),
        "geometry": pa.array([r[1] for r in rows], pa.binary()),
        "city": pa.array([r[2] for r in rows], pa.string()),
        "pop": pa.array([r[3] for r in rows], pa.float64()),
        "coastal": pa.array([r[4] for r in rows], pa.bool_()),
    }), src)

    feats = read_geoparquet(spark, src, id_col="fid",
                            property_cols=["city", "pop", "coastal"])
    fields = props_field_metadata(spark.read.parquet(src),
                                  ["city", "pop", "coastal"])
    assert fields == {"city": "String", "pop": "Number", "coastal": "Boolean"}
    out = str(tmp_path / "gp.pmtiles")
    cfg = TilerConfig(min_zoom=2, max_zoom=3, shuffle_partitions=4,
                      write_properties=True, layer_fields=fields)
    convert(feats, out, cfg)
    r = PMTilesReader(out)
    assert r.metadata["vector_layers"][0]["fields"] == fields
    by_city = {}
    for tid in r.tile_ids():
        lay = decode_tile(r.get_tile_bytes(tid))[0]
        for f in lay["features"]:
            p = feature_properties(f, lay["keys"], lay["values"])
            by_city[p["city"]] = p
    assert set(by_city) == {f"city-{i}" for i in range(5)}
    for i in range(5):
        p = by_city[f"city-{i}"]
        assert math.isclose(p["pop"], 100.0 + i)
        assert p["coastal"] is (i % 2 == 1)


def test_props_splice_matches_scalar_encode(spark, prop_features, tmp_path):
    """The vectorized splice encoder (encode_record_msgs + tag insertion
    after the id field) must be byte-identical to a from-scratch scalar
    construction via kernels.mvt primitives (encode_geometry +
    encode_feature + encode_layer + encode_tile) on every tile."""
    from gpq_tiles_spark.kernels import tile_math as T
    from gpq_tiles_spark.kernels.hilbert import tile_id_to_zxy
    from gpq_tiles_spark.kernels.mvt import (
        encode_feature,
        encode_geometry,
        encode_layer,
        encode_tile,
    )

    out = str(tmp_path / "fast.pmtiles")
    # z2 only: every fixture polygon sits fully inside one 90-degree tile,
    # so the stored record wkb equals the source wkb (no clip) and the
    # scalar reconstruction is exact
    cfg = TilerConfig(min_zoom=2, max_zoom=2, shuffle_partitions=4,
                      write_properties=True)
    convert(prop_features, out, cfg)
    rows = {r.feature_id: r for r in prop_features.collect()}

    r = PMTilesReader(out)
    checked = 0
    for tid in r.tile_ids():
        z, x, y = tile_id_to_zxy(tid)
        lng0, lat0, lng1, lat1 = (
            float(v[0]) for v in T.tile_bounds(np.array([x]), np.array([y]), z)
        )
        got = r.get_tile_bytes(tid)
        lay = decode_tile(got)[0]
        # scalar reconstruction: same feature order, same interning order
        keys, key_idx, vals, val_idx, msgs = [], {}, [], {}, []
        for f in lay["features"]:
            src_row = rows[f["id"]]
            # geometry from the source feature, clipped implicitly: these
            # fixtures are fully inside their tiles at z>=2, so the stored
            # wkb is the source polygon (or the canonical rect marker,
            # which this test's fixtures never trigger at these zooms)
            g = G.from_wkb(bytes(src_row.wkb))
            cmds, gtype = encode_geometry(g, lng0, lat0, lng1, lat1, 4096)
            tags = []
            for it in src_row.props:
                k, vb = it["key"], bytes(it["val"])
                if k not in key_idx:
                    key_idx[k] = len(keys)
                    keys.append(k)
                if vb not in val_idx:
                    val_idx[vb] = len(vals)
                    vals.append(vb)
                tags.extend((key_idx[k], val_idx[vb]))
            msgs.append(encode_feature(f["id"], tags, gtype, cmds))
        want = encode_tile([encode_layer("features", msgs, keys, vals, 4096)])
        assert want == got, f"tile {(z, x, y)} bytes differ"
        checked += 1
    assert checked >= 1 and len(lay["features"]) >= 2  # shared dictionaries


def test_props_max_tile_bytes_applies(spark, prop_features, tmp_path):
    """The per-tile byte budget caps property tiles too (review fix)."""
    cfg = TilerConfig(min_zoom=0, max_zoom=2, shuffle_partitions=4,
                      write_properties=True, max_tile_bytes=64)
    out = str(tmp_path / "capped.pmtiles")
    stats = convert(prop_features, out, cfg)
    assert stats["metrics"]["tiles_capped"] >= 1
    r = PMTilesReader(out)
    for tid in r.tile_ids():
        lay = decode_tile(r.get_tile_bytes(tid))[0]
        assert len(lay["features"]) >= 1  # capped, never emptied


def test_props_negative_feature_id_splice(spark, tmp_path):
    """A negative feature_id encodes as a 10-byte varint; the tag splice
    must respect that (review fix: the signed bit_length mis-placed it)."""
    ring = np.array([[10.0, 40.0], [11.0, 40.0], [11.0, 41.0],
                     [10.0, 41.0], [10.0, 40.0]])
    df = spark.createDataFrame(
        [(-7, "x", 0, bytearray(G.to_wkb((G.POLYGON, [ring]))), G.POLYGON,
          10.0, 40.0, 11.0, 41.0, "neg")],
        "feature_id long, doc_id string, span_offset int, wkb binary, "
        "geom_type int, lng_min double, lat_min double, lng_max double, "
        "lat_max double, name string",
    )
    feats = encode_props_column(df, ["name"])
    out = str(tmp_path / "neg.pmtiles")
    convert(feats, out, TilerConfig(min_zoom=2, max_zoom=2,
                                    shuffle_partitions=2,
                                    write_properties=True))
    r = PMTilesReader(out)
    lay = decode_tile(r.get_tile_bytes(r.tile_ids()[0]))[0]
    f = lay["features"][0]
    assert f["id"] == (-7) & 0xFFFF_FFFF_FFFF_FFFF
    p = feature_properties(f, lay["keys"], lay["values"])
    assert p == {"name": "neg"}


def test_props_nullable_int_kind_stable(spark, tmp_path):
    """Schema-driven kinds: a bigint column with a null row still encodes
    non-null values as MVT ints, not doubles (review fix — pandas promotes
    the batch to float64)."""
    from gpq_tiles_spark.pipeline import encode_props_column as epc

    ring = np.array([[10.0, 40.0], [11.0, 40.0], [11.0, 41.0],
                     [10.0, 41.0], [10.0, 40.0]])
    rows = [
        (0, "a", 0, bytearray(G.to_wkb((G.POLYGON, [ring]))), G.POLYGON,
         10.0, 40.0, 11.0, 41.0, 7),
        (1, "b", 0, bytearray(G.to_wkb((G.POLYGON, [ring]))), G.POLYGON,
         10.0, 40.0, 11.0, 41.0, None),
    ]
    df = spark.createDataFrame(
        rows,
        "feature_id long, doc_id string, span_offset int, wkb binary, "
        "geom_type int, lng_min double, lat_min double, lng_max double, "
        "lat_max double, floors long",
    )
    packed = epc(df, ["floors"]).collect()
    by_id = {r.feature_id: r.props for r in packed}
    assert by_id[1] == []  # null omitted
    [entry] = by_id[0]
    # int64 Value message: field 4 (varint), not field 3 (double)
    assert bytes(entry["val"])[0] >> 3 == 4


def test_props_duplicate_feature_id_join_no_multiplication(spark, tmp_path):
    """Duplicate feature_ids in the props table must not multiply fan-out
    records through the join (review fix)."""
    ring = np.array([[10.0, 40.0], [11.0, 40.0], [11.0, 41.0],
                     [10.0, 41.0], [10.0, 40.0]])
    base = [(5, "a", 0, bytearray(G.to_wkb((G.POLYGON, [ring]))), G.POLYGON,
             10.0, 40.0, 11.0, 41.0, "first"),
            (5, "a", 0, bytearray(G.to_wkb((G.POLYGON, [ring]))), G.POLYGON,
             10.0, 40.0, 11.0, 41.0, "second")]
    df = spark.createDataFrame(
        base,
        "feature_id long, doc_id string, span_offset int, wkb binary, "
        "geom_type int, lng_min double, lat_min double, lng_max double, "
        "lat_max double, name string",
    )
    feats = encode_props_column(df, ["name"])
    out = str(tmp_path / "dup.pmtiles")
    convert(feats, out, TilerConfig(min_zoom=2, max_zoom=2,
                                    shuffle_partitions=2,
                                    write_properties=True))
    lay = decode_tile(PMTilesReader(out).get_tile_bytes(
        PMTilesReader(out).tile_ids()[0]))[0]
    # 2 source records -> exactly 2 encoded features (not 4)
    assert len(lay["features"]) == 2


def test_default_path_unchanged_with_props_column(spark, prop_features, tmp_path):
    """write_properties=False ignores the props column entirely — bytes
    equal a convert over the same features without it."""
    cfg = TilerConfig(min_zoom=2, max_zoom=3, shuffle_partitions=4)
    p1 = str(tmp_path / "with.pmtiles")
    p2 = str(tmp_path / "without.pmtiles")
    convert(prop_features, p1, cfg)
    convert(prop_features.drop("props"), p2, cfg)
    assert open(p1, "rb").read() == open(p2, "rb").read()


def test_premerge_props_byte_identical(spark, prop_features, tmp_path):
    """Round 5: the premerge property layout (map-side geometry encode,
    props join, reduce-side vectorized interning) must produce the archive
    of the driver-side WKB props encode byte for byte — single-writer AND
    sharded."""
    cfg = TilerConfig(min_zoom=2, max_zoom=4, shuffle_partitions=4,
                      write_properties=True)
    p_pre = str(tmp_path / "pre.pmtiles")
    p_pre_sh = str(tmp_path / "pre_sharded.pmtiles")
    convert(prop_features, p_pre, cfg)
    convert_sharded(prop_features, p_pre_sh, cfg)
    a = reference_archive(prop_features, cfg, str(tmp_path / "ref.pmtiles"))
    assert a == open(p_pre, "rb").read()
    assert a == open(p_pre_sh, "rb").read()


def test_props_budget_counts_dictionary(spark, tmp_path):
    """ADVICE r4: max_tile_bytes must charge the layer key/value
    dictionary bytes and prune entries no surviving feature references
    (remapping tag indices) — a capped tile stays within budget even when
    property values dominate."""
    rows = []
    for i in range(40):
        # all points land in ONE z2 tile; each carries a fat distinct value
        cx, cy = 10.0 + (i % 8) * 0.5, 40.0 + (i // 8) * 0.5
        wkb = G.to_wkb((G.POINT, (cx, cy)))
        rows.append((i, str(i), 0, bytearray(wkb), G.POINT,
                     cx, cy, cx, cy, "v" * 120 + f"-{i:02d}"))
    schema = (
        "feature_id long, doc_id string, span_offset int, wkb binary, "
        "geom_type int, lng_min double, lat_min double, lng_max double, "
        "lat_max double, blurb string"
    )
    feats = encode_props_column(
        spark.createDataFrame(rows, schema), ["blurb"])
    budget = 1500
    cfg = TilerConfig(min_zoom=2, max_zoom=2, shuffle_partitions=4,
                      write_properties=True, max_tile_bytes=budget)
    stats = convert(feats, str(tmp_path / "budget_convert.pmtiles"), cfg)
    assert stats["tiles"] >= 1
    reference_archive(feats, cfg, str(tmp_path / "budget_reference.pmtiles"))
    for name in ("convert", "reference"):
        r = PMTilesReader(str(tmp_path / f"budget_{name}.pmtiles"))
        for tid in r.tile_ids():
            raw = r.get_tile_bytes(tid)
            lay = decode_tile(raw)[0]
            n_feat = len(lay["features"])
            assert 1 <= n_feat < 40, "budget must have dropped features"
            # capped tile's total bytes within budget (+layer head/tail
            # and outer framing, which the budget rule excludes)
            assert len(raw) <= budget + 64
            # dictionary pruned to referenced entries only, indices remapped
            used_k, used_v = set(), set()
            for f in lay["features"]:
                t = f["tags"]
                used_k.update(t[0::2])
                used_v.update(t[1::2])
            assert used_k == set(range(len(lay["keys"])))
            assert used_v == set(range(len(lay["values"])))
    # convert and the driver-side encode agree byte-for-byte on the
    # capped tile too
    assert (open(str(tmp_path / "budget_convert.pmtiles"), "rb").read()
            == open(str(tmp_path / "budget_reference.pmtiles"), "rb").read())


def test_encode_tiles_with_props_matches_premerge_props(spark, prop_features):
    """The fan-out-records entry point (message-encode the records, then
    the premerge+props stage) yields the tiles of
    ``encode_tiles_premerge_props`` over the same features."""
    from gpq_tiles_spark.pipeline import (
        encode_tiles_premerge_props,
        encode_tiles_with_props,
        fanout_records,
    )

    cfg = TilerConfig(min_zoom=2, max_zoom=4, shuffle_partitions=4,
                      write_properties=True, exclude_properties=["height"])

    def tiles(df):
        return sorted((r.tile_id, bytes(r.mvt), r.n_features)
                      for r in df.collect())

    got = tiles(encode_tiles_with_props(
        fanout_records(prop_features, cfg),
        prop_features.select("feature_id", "props"), cfg, by_range=False))
    assert got and got == tiles(encode_tiles_premerge_props(prop_features,
                                                            cfg))

"""GeometryCollection support: WKB/WKT round-trips, ingestion flattening,
counted skips (no silent data loss), and fanout e2e with collection input.

Reference dispatches all GeoArrow variants incl. GeometryCollection
(batch_processor.rs:94-143); round 1 silently dropped them at scan.
"""

import numpy as np
import pytest

from gpq_tiles_spark.kernels import geom as G


def _sample_gc():
    return (G.GEOMETRYCOLLECTION, [
        (G.POINT, np.array([1.0, 2.0])),
        (G.LINESTRING, np.array([[0.0, 0.0], [3.0, 4.0], [5.0, 5.0]])),
        (G.POLYGON, [np.array([[0.0, 0.0], [4.0, 0.0], [4.0, 4.0], [0.0, 4.0], [0.0, 0.0]])]),
        (G.GEOMETRYCOLLECTION, [  # nested collection
            (G.POINT, np.array([-10.0, -20.0])),
        ]),
    ])


def test_gc_wkb_roundtrip():
    gc = _sample_gc()
    wkb = G.to_wkb(gc)
    back = G.from_wkb(wkb)
    assert back[0] == G.GEOMETRYCOLLECTION
    assert len(back[1]) == 4
    assert back[1][0][0] == G.POINT and tuple(back[1][0][1]) == (1.0, 2.0)
    assert back[1][3][0] == G.GEOMETRYCOLLECTION
    assert G.to_wkb(back) == wkb  # byte-stable re-encode


def test_gc_wkt_roundtrip():
    wkt = ("GEOMETRYCOLLECTION(POINT(1 2), "
           "LINESTRING(0 0, 3 4), "
           "POLYGON((0 0, 4 0, 4 4, 0 4, 0 0)))")
    g = G.from_wkt(wkt)
    assert g[0] == G.GEOMETRYCOLLECTION and len(g[1]) == 3
    back = G.from_wkt(G.to_wkt(g))
    assert G.to_wkb(back) == G.to_wkb(g)


def test_gc_flatten_and_bbox():
    gc = _sample_gc()
    parts = G.flatten(gc)
    assert [p[0] for p in parts] == [G.POINT, G.LINESTRING, G.POLYGON, G.POINT]
    assert G.bbox(gc) == (-10.0, -20.0, 5.0, 5.0)
    # non-collection passthrough
    pt = (G.POINT, np.array([7.0, 8.0]))
    assert G.flatten(pt) == [pt]


def test_gc_validate_clip_drop_simplify():
    from gpq_tiles_spark.kernels import clip as CK
    from gpq_tiles_spark.kernels import simplify as SK
    from gpq_tiles_spark.kernels import validate as VK

    gc = _sample_gc()
    v = VK.filter_valid_geometry(gc)
    assert v is not None and v[0] == G.GEOMETRYCOLLECTION
    # clip to a window containing only the nested point -> downgrades to it
    c = CK.clip_geometry(gc, -10.5, -20.5, -9.5, -19.5, 0.0)
    assert c is not None and c[0] == G.POINT and tuple(c[1]) == (-10.0, -20.0)
    # clip that excludes everything
    assert CK.clip_geometry(gc, 100.0, 100.0, 101.0, 101.0, 0.0) is None
    s = SK.simplify_for_zoom(gc, 2, 4096)
    assert s[0] == G.GEOMETRYCOLLECTION and len(s[1]) == len(gc[1])


def test_extract_flattens_collection_spans(spark):
    from gpq_tiles_spark.extract import extract_features

    rows = [
        ("doc1", [{"kind": "geo", "text": "GEOMETRYCOLLECTION(POINT(1 1), POINT(2 2))",
                   "media_ref": None, "offset": 0},
                  {"kind": "text", "text": "hello", "media_ref": None, "offset": 1}]),
        ("doc2", [{"kind": "geo", "text": "POINT(5 5)", "media_ref": None, "offset": 0}]),
    ]
    schema = ("doc_id string, spans array<struct<kind:string,text:string,"
              "media_ref:string,offset:int>>")
    feats = extract_features(spark.createDataFrame(rows, schema=schema)).collect()
    by_doc = {}
    for r in feats:
        by_doc.setdefault(r.doc_id, []).append(r)
    assert len(by_doc["doc1"]) == 2          # collection flattened to 2 parts
    assert len(by_doc["doc2"]) == 1
    fids = {r.feature_id for r in feats}
    assert len(fids) == 3                     # distinct ids per part


def test_scan_counts_skips_and_flattens(spark, tmp_path):
    import pandas as pd

    from gpq_tiles_spark.sources.geoparquet import ScanMetrics, read_geoparquet

    gc = _sample_gc()
    rows = pd.DataFrame({
        "geometry": [
            G.to_wkb((G.POINT, np.array([1.0, 1.0]))),
            G.to_wkb(gc),
            b"\x01\xff\x00\x00\x00garbage",  # undecodable
            None,                              # null geometry
        ]
    })
    path = str(tmp_path / "gc.parquet")
    rows.to_parquet(path)
    metrics = ScanMetrics.create(spark)
    feats = read_geoparquet(spark, path, metrics=metrics)
    n = feats.count()
    assert n == 1 + 4  # point + 4 flattened collection parts
    m = metrics.as_dict()
    assert m == {"n_skipped": 1, "n_nulls": 1, "n_collections": 1}


def test_fanout_e2e_with_collection_input(spark, tmp_path):
    """A GeoParquet file whose geometry column holds a GeometryCollection
    fans out and encodes end-to-end (no silent skips, tiles produced)."""
    import pandas as pd

    from gpq_tiles_spark.config import TilerConfig
    from gpq_tiles_spark.pipeline import encode_tiles_premerge
    from gpq_tiles_spark.sources.geoparquet import read_geoparquet

    gc = (G.GEOMETRYCOLLECTION, [
        (G.POINT, np.array([10.0, 10.0])),
        (G.POLYGON, [np.array([[20.0, 20.0], [30.0, 20.0], [30.0, 30.0],
                               [20.0, 30.0], [20.0, 20.0]])]),
    ])
    rows = pd.DataFrame({"geometry": [G.to_wkb(gc)]})
    path = str(tmp_path / "gc2.parquet")
    rows.to_parquet(path)
    feats = read_geoparquet(spark, path)
    cfg = TilerConfig(min_zoom=4, max_zoom=4, shuffle_partitions=2)
    tiles = encode_tiles_premerge(feats, cfg).collect()
    assert len(tiles) >= 2  # point tile + polygon tile(s)
    assert all(t.n_features >= 1 for t in tiles)

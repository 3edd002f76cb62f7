"""Spatial join operators vs brute-force oracles."""

import numpy as np
import pytest

from gpq_tiles_spark.fixtures import generate_zones
from gpq_tiles_spark.kernels import geom as G
from gpq_tiles_spark.kernels import pip as PIPK
from gpq_tiles_spark.operators import cells as C
from gpq_tiles_spark.operators.joins import knn_join, point_in_polygon_join


def test_pip_kernel_basic():
    square = [np.array([[0.0, 0.0], [10.0, 0.0], [10.0, 10.0], [0.0, 10.0], [0.0, 0.0]])]
    px = np.array([5.0, 15.0, -1.0, 9.999])
    py = np.array([5.0, 5.0, 5.0, 0.001])
    np.testing.assert_array_equal(
        PIPK.points_in_polygon(px, py, square), [True, False, False, True]
    )
    # hole
    hole = square + [np.array([[2.0, 2.0], [2.0, 4.0], [4.0, 4.0], [4.0, 2.0], [2.0, 2.0]])]
    np.testing.assert_array_equal(
        PIPK.points_in_polygon(np.array([3.0, 5.0]), np.array([3.0, 5.0]), hole),
        [False, True],
    )


def test_cell_pack_round_trip_and_disk():
    cells = C.latlng_to_cell(np.array([-122.4, 139.7]), np.array([37.8, 35.7]), 9)
    x, y = C.unpack_cell(cells)
    assert (x >= 0).all() and (x < 512).all() and (y >= 0).all() and (y < 512).all()
    idx, disk = C.grid_disk(cells[:1], 1, 9)
    assert len(disk) == 9  # full 3x3 block away from poles
    idx_r, ring = C.grid_ring(cells[:1], 1, 9)
    assert len(ring) == 8
    # antimeridian wrap: cell at x=0 must include x = n-1 neighbors
    edge = C.pack_cell(np.array([0]), np.array([100]))
    _, d = C.grid_disk(edge, 1, 9)
    xs, _ = C.unpack_cell(d)
    assert (xs == 511).any()


@pytest.fixture(scope="module")
def spatial_dfs(spark):
    rng = np.random.default_rng(42)
    n = 3000
    # points clustered near the zone grids
    cities = [(1.5, 42.5), (-122.4, 37.8), (139.7, 35.7)]
    cx = rng.integers(0, 3, size=n)
    lng = np.array([cities[c][0] for c in cx]) + rng.uniform(-0.8, 0.8, n)
    lat = np.array([cities[c][1] for c in cx]) + rng.uniform(-0.8, 0.8, n)
    pts = spark.createDataFrame(
        [(int(i), float(a), float(b)) for i, (a, b) in enumerate(zip(lng, lat))],
        schema="point_id long, lng double, lat double",
    )
    zt = generate_zones(60)
    zones = spark.createDataFrame(
        [
            (zid, G.to_wkb(G.from_wkt(w)), cat)
            for zid, w, cat in zip(
                zt["zone_id"].to_pylist(), zt["zone_wkt"].to_pylist(), zt["category"].to_pylist()
            )
        ],
        schema="zone_id string, zone_wkb binary, category string",
    )
    return pts, zones, (lng, lat), zt


def test_pip_join_matches_bruteforce(spark, spatial_dfs):
    pts, zones, (lng, lat), zt = spatial_dfs
    got = {
        (r.point_id, r.zone_id)
        for r in point_in_polygon_join(pts, zones, zoom=9).collect()
    }
    expected = set()
    for zid, w in zip(zt["zone_id"].to_pylist(), zt["zone_wkt"].to_pylist()):
        g = G.from_wkt(w)
        inside = PIPK.points_in_geom(lng, lat, g)
        for i in np.flatnonzero(inside):
            expected.add((int(i), zid))
    assert got == expected
    assert len(expected) > 0


def test_knn_join_matches_bruteforce(spark, spatial_dfs):
    pts, zones, (lng, lat), _ = spatial_dfs
    probes = spark.createDataFrame(
        [(0, 1.52, 42.51), (1, -122.39, 37.81), (2, 139.72, 35.69), (3, 0.0, 0.0)],
        schema="probe_id long, lng double, lat double",
    )
    k = 7
    got = {}
    for r in knn_join(pts, probes, k=k, zoom=7).collect():
        got.setdefault(r.probe_id, []).append((r.rnk, r.point_id))
    for pid, plng, plat in [(0, 1.52, 42.51), (1, -122.39, 37.81), (2, 139.72, 35.69), (3, 0.0, 0.0)]:
        d = (lng - plng) ** 2 + (lat - plat) ** 2
        order = np.lexsort((np.arange(len(d)), d))[:k]
        expect = [(i + 1, int(order[i])) for i in range(k)]
        assert sorted(got[pid]) == expect, f"probe {pid}"


def test_knn_distributed_matches_bruteforce(spark):
    """knn_join_distributed (no driver materialization of probes) must agree
    with exact brute force, including probes in sparse regions that need
    several ring expansions."""
    import numpy as np
    from pyspark.sql import functions as F

    from gpq_tiles_spark.operators.joins import knn_join_distributed

    rng = np.random.default_rng(7)
    # dense cluster + sparse tail so different probes resolve at different radii
    lngs = np.concatenate([rng.uniform(-10, 10, 300), rng.uniform(-170, 170, 60)])
    lats = np.concatenate([rng.uniform(-10, 10, 300), rng.uniform(-75, 75, 60)])
    pts = spark.createDataFrame(
        [(int(i), float(x), float(y)) for i, (x, y) in enumerate(zip(lngs, lats))],
        schema="point_id long, lng double, lat double",
    )
    p_lng = np.array([0.0, 5.0, 120.0, -160.0, 0.0])
    p_lat = np.array([0.0, 5.0, 70.0, -60.0, -74.0])
    probes = spark.createDataFrame(
        [(int(i), float(x), float(y)) for i, (x, y) in enumerate(zip(p_lng, p_lat))],
        schema="probe_id long, lng double, lat double",
    )
    k = 5
    out = knn_join_distributed(pts, probes, k=k, zoom=6, radii=(1, 4, 16, 64))
    got = {}
    for r in out.collect():
        got.setdefault(r.probe_id, []).append((r.rnk, r.point_id))
    for pid in range(len(p_lng)):
        d2 = (lngs - p_lng[pid]) ** 2 + (lats - p_lat[pid]) ** 2
        order = np.lexsort((np.arange(len(d2)), d2))[:k]
        assert sorted(got[pid]) == [(i + 1, int(order[i])) for i in range(k)], pid
    # each probe appears exactly once per rank (no duplicate rounds leaked)
    assert all(len(v) == k for v in got.values())


def test_knn_distributed_empty_probes(spark):
    from gpq_tiles_spark.operators.joins import knn_join_distributed

    pts = spark.createDataFrame(
        [(1, 0.0, 0.0), (2, 1.0, 1.0)], schema="point_id long, lng double, lat double")
    probes = spark.createDataFrame([], schema="probe_id long, lng double, lat double")
    assert knn_join_distributed(pts, probes, k=3, zoom=4).count() == 0


def test_pip_auto_zoom_small_zones(spark):
    """auto zoom picks a fine grid for tiny zones (no candidate blowup)."""
    import numpy as np

    from gpq_tiles_spark.kernels import geom as G
    from gpq_tiles_spark.operators.joins import auto_cover_zoom

    rows = []
    for i in range(20):
        x, y = i * 1.0 - 10, 40.0
        ring = np.array([[x, y], [x + 0.05, y], [x + 0.05, y + 0.05],
                         [x, y + 0.05], [x, y]])
        rows.append((f"z{i}", G.to_wkb((G.POLYGON, [ring]))))
    zones = spark.createDataFrame(rows, schema="zone_id string, zone_wkb binary")
    z = auto_cover_zoom(zones)
    assert z >= 11  # 0.05-degree zones -> ~0.09-degree cells or finer


def test_pip_non_broadcast_matches_broadcast(spark):
    """The large-zones path (zones too big to broadcast: wkb joined back per
    candidate, per-partition geometry cache) must agree exactly with the
    broadcast path."""
    import numpy as np

    from gpq_tiles_spark.kernels import geom as G
    from gpq_tiles_spark.operators.joins import point_in_polygon_join

    rng = np.random.default_rng(21)
    zones_rows = []
    for i in range(30):
        cx, cy = rng.uniform(-50, 50), rng.uniform(-40, 40)
        ang = np.sort(rng.uniform(0, 2 * np.pi, 12))
        ring = np.stack([cx + np.cos(ang) * 2, cy + np.sin(ang) * 2], 1)
        ring = np.vstack([ring, ring[:1]])
        zones_rows.append((f"z{i}", G.to_wkb((G.POLYGON, [ring]))))
    zones = spark.createDataFrame(zones_rows, schema="zone_id string, zone_wkb binary")
    pts = spark.createDataFrame(
        [(int(i), float(x), float(y)) for i, (x, y) in enumerate(
            zip(rng.uniform(-55, 55, 3000), rng.uniform(-45, 45, 3000)))],
        schema="point_id long, lng double, lat double",
    )
    a = {(r.point_id, r.zone_id) for r in point_in_polygon_join(
        pts, zones, broadcast_zones=True).collect()}
    b = {(r.point_id, r.zone_id) for r in point_in_polygon_join(
        pts, zones, broadcast_zones=False).collect()}
    assert a == b and len(a) > 50


def test_knn_join_max_radius_one_matches_bruteforce(spark, monkeypatch):
    """max_radius=1 searches the probe's 1-ring only (never radius 2) and
    still returns the exact top-k when it lies inside that disk."""
    rng = np.random.default_rng(11)
    zoom = 7
    cell_w = 360.0 / (1 << zoom)
    # probes at cell centres, each with a tight cluster well inside its own
    # cell, plus far-away background points
    p_lng = (np.array([3, 40, 90]) + 0.5) * cell_w - 180.0
    p_lat = np.array([10.0, 35.0, -20.0])
    lngs = [rng.uniform(-170, 170, 40)]
    lats = [rng.uniform(-70, 70, 40)]
    for x, y in zip(p_lng, p_lat):
        lngs.append(x + rng.uniform(-0.3, 0.3, 15))
        lats.append(y + rng.uniform(-0.3, 0.3, 15))
    lng, lat = np.concatenate(lngs), np.concatenate(lats)
    pts = spark.createDataFrame(
        [(int(i), float(x), float(y)) for i, (x, y) in enumerate(zip(lng, lat))],
        schema="point_id long, lng double, lat double",
    )
    probes = spark.createDataFrame(
        [(int(i), float(x), float(y)) for i, (x, y) in enumerate(zip(p_lng, p_lat))],
        schema="probe_id long, lng double, lat double",
    )
    radii = []
    real_disk = C.grid_disk

    def recording_disk(cells, r, z):
        radii.append(r)
        return real_disk(cells, r, z)

    monkeypatch.setattr(C, "grid_disk", recording_disk)
    k = 5
    got = {}
    for r in knn_join(pts, probes, k=k, zoom=zoom, max_radius=1).collect():
        got.setdefault(r.probe_id, []).append((r.rnk, r.point_id, r.dist))
    assert radii == [1]
    for pid, (plng, plat) in enumerate(zip(p_lng, p_lat)):
        d = (lng - plng) ** 2 + (lat - plat) ** 2
        order = np.lexsort((np.arange(len(d)), d))[:k]
        rows = sorted(got[pid])
        assert [(rk, p) for rk, p, _ in rows] == [
            (i + 1, int(order[i])) for i in range(k)], f"probe {pid}"
        np.testing.assert_allclose([dd for _, _, dd in rows], d[order])
    with pytest.raises(ValueError, match="max_radius"):
        knn_join(pts, probes, k=k, zoom=zoom, max_radius=0)


# ---------------------------------------------------------------------------
# grouped refine, one-call cover, one-pass kNN rounds
# ---------------------------------------------------------------------------

def _grid_zones(n_side=15, size=0.5, x0=10.0, y0=20.0):
    """n_side^2 adjacent squares sharing edges; zone z-0007 has a hole and
    z-0012 is a MultiPolygon of its own square plus a detached one."""
    zones = {}
    for j in range(n_side):
        for i in range(n_side):
            zid = f"z-{j * n_side + i:04d}"
            a, b = x0 + i * size, y0 + j * size
            ring = np.array([[a, b], [a + size, b], [a + size, b + size],
                             [a, b + size], [a, b]])
            zones[zid] = (G.POLYGON, [ring])
    t, rings = zones["z-0007"]
    a, b = rings[0][0]
    q = size / 4
    hole = np.array([[a + q, b + q], [a + q, b + 3 * q], [a + 3 * q, b + 3 * q],
                     [a + 3 * q, b + q], [a + q, b + q]])
    zones["z-0007"] = (G.POLYGON, [rings[0], hole])
    far = np.array([[0.0, 0.0], [1.0, 0.0], [1.0, 1.0], [0.0, 1.0], [0.0, 0.0]])
    zones["z-0012"] = (G.MULTIPOLYGON, [zones["z-0012"][1], [far]])
    return zones


def _grid_points(rng, n=4000, n_side=15, size=0.5, x0=10.0, y0=20.0):
    """Random points over the grid, the detached square and the hole, plus
    points exactly on the shared edges and corners."""
    span = n_side * size
    px = [rng.uniform(x0 - 0.2, x0 + span + 0.2, n), rng.uniform(0, 1, 200)]
    py = [rng.uniform(y0 - 0.2, y0 + span + 0.2, n), rng.uniform(0, 1, 200)]
    k = np.arange(n_side + 1)
    gx, gy = np.meshgrid(x0 + k * size, y0 + k * size)
    px.append(gx.ravel())
    py.append(gy.ravel())  # corners
    px.append(gx.ravel() + size / 3)
    py.append(gy.ravel())  # on horizontal edges
    px.append(gx.ravel())
    py.append(gy.ravel() + size / 3)  # on vertical edges
    return np.concatenate(px), np.concatenate(py)


def _candidates(zones, px, py):
    """Every (point, zone) pair whose bboxes meet, shuffled: the rows the
    cell join hands the refine, many zones interleaved in one batch."""
    import pandas as pd

    rows = []
    for zid, g in zones.items():
        x0, y0, x1, y1 = G.bbox(g)
        m = np.flatnonzero((px >= x0) & (px <= x1) & (py >= y0) & (py <= y1))
        rows.append(pd.DataFrame({"point_id": m.astype(np.int64), "lng": px[m],
                                  "lat": py[m], "zone_id": zid}))
    cand = pd.concat(rows, ignore_index=True)
    perm = np.random.default_rng(5).permutation(len(cand))
    return cand.iloc[perm].reset_index(drop=True)


def test_grouped_refine_matches_bruteforce_one_batch():
    """Both refine paths group one batch of >= 200 zones once; their hits
    equal evaluating every zone's geometry over every point, in batch
    order (MultiPolygon, hole and shared-edge points included)."""
    from gpq_tiles_spark.operators import joins as J

    zones = _grid_zones()
    assert len(zones) >= 200
    px, py = _grid_points(np.random.default_rng(1))
    cand = _candidates(zones, px, py)
    inside = {zid: PIPK.points_in_geom(px, py, g) for zid, g in zones.items()}
    want = np.array([inside[z][i] for i, z in zip(cand["point_id"], cand["zone_id"])])
    assert want.sum() > 1000 and (~want).sum() > 100
    expect = cand[want][["point_id", "lng", "lat", "zone_id"]]

    got = J._refine_by_zone(cand, lambda zid, _row: zones[zid])
    assert got.equals(expect)

    # the WKB path: each zone's geometry comes from its first row's WKB
    wkbs = {zid: G.to_wkb(g) for zid, g in zones.items()}
    with_wkb = cand.assign(zone_wkb=cand["zone_id"].map(wkbs))
    firsts = []

    def geom_at(zid, row):
        assert with_wkb["zone_id"].iloc[row] == zid
        assert not (with_wkb["zone_id"].iloc[:row] == zid).any()
        firsts.append(zid)
        return G.from_wkb(with_wkb["zone_wkb"].iloc[row])

    got2 = J._refine_by_zone(with_wkb, geom_at)
    assert got2.equals(expect)
    assert sorted(firsts) == sorted(set(cand["zone_id"]))

    # shared edges: each edge point belongs to one zone at most
    edge = cand[want & (cand["point_id"] >= 4200)]
    assert edge["point_id"].is_unique


@pytest.mark.parametrize("broadcast", [True, False])
def test_pip_join_grid_zones_matches_bruteforce(spark, broadcast):
    zones = _grid_zones()
    px, py = _grid_points(np.random.default_rng(2), n=1500)
    pts = spark.createDataFrame(
        [(int(i), float(a), float(b)) for i, (a, b) in enumerate(zip(px, py))],
        schema="point_id long, lng double, lat double")
    zdf = spark.createDataFrame(
        [(zid, G.to_wkb(g)) for zid, g in zones.items()],
        schema="zone_id string, zone_wkb binary")
    got = sorted((r.point_id, r.zone_id) for r in point_in_polygon_join(
        pts, zdf, broadcast_zones=broadcast).collect())
    want = sorted((int(i), zid) for zid, g in zones.items()
                  for i in np.flatnonzero(PIPK.points_in_geom(px, py, g)))
    assert got == want and len(want) > 500


@pytest.mark.parametrize("zoom", [0, 3, 9, 14])
def test_cover_one_call_matches_per_zone_loop(zoom):
    """One cover_bbox_cells call over all bboxes, stably ordered by zone,
    gives the per-zone loop's rows in the same order (antimeridian-crossing
    and polar bboxes included)."""
    from gpq_tiles_spark.operators import joins as J

    rng = np.random.default_rng(zoom)
    x0 = rng.uniform(-180, 170, 60)
    y0 = rng.uniform(-85, 80, 60)
    boxes = [(a, b, a + w, b + h) for a, b, w, h in zip(
        x0, y0, rng.uniform(0, 3, 60), rng.uniform(0, 3, 60))]
    boxes += [(179.5, 10.0, -179.5, 11.0), (-10.0, 84.0, 10.0, 89.0),
              (-10.0, -89.0, 10.0, -84.0), (5.0, 5.0, 5.0, 5.0)]
    ids = [f"z{i}" for i in range(len(boxes))]
    want_ids, want_cells = [], []
    for zid, (a, b, c, d) in zip(ids, boxes):
        _, cc = C.cover_bbox_cells([a], [b], [c], [d], zoom)
        want_ids.extend([zid] * len(cc))
        want_cells.extend(cc.tolist())
    got_ids, got_cells = J._cover_rows(ids, boxes, zoom)
    assert got_ids.tolist() == want_ids
    assert got_cells.tolist() == want_cells


KNN_SCHEMA = (
    "StructType([StructField('probe_id', LongType(), True), "
    "StructField('rnk', IntegerType(), False), "
    "StructField('point_id', {}, True), "
    "StructField('dist', DoubleType(), True)])"
)


def _knn_oracle(ids, lng, lat, p_lng, p_lat, k, key=lambda i: i):
    """(d, point_id) top-k per probe with the same IEEE ops; ids compared
    by ``key``."""
    out = []
    for plng, plat in zip(p_lng, p_lat):
        dx = lng - plng
        dy = lat - plat
        d = dx * dx + dy * dy
        order = sorted(range(len(d)), key=lambda i: (d[i], key(ids[i])))[:k]
        out.append([(r + 1, ids[i], d[i]) for r, i in enumerate(order)])
    return out


def _knn_case(rng):
    """Points for probes at a city, near the north pole and on both sides of
    the antimeridian (their disks wrap; distances do not); 9 points share
    one location at each probe's 4th..12th distance, so the k=6 boundary
    cuts through a tie."""
    p_lng = np.array([2.35, 20.0, 179.85, -179.88])
    p_lat = np.array([48.85, 84.9, -10.0, -10.02])
    lngs, lats = [rng.uniform(-179.9, 179.9, 300)], [rng.uniform(-84, 84, 300)]
    for x, y in zip(p_lng, p_lat):
        lngs.append(x + rng.uniform(-0.05, 0.05, 3))
        lats.append(y + rng.uniform(-0.05, 0.05, 3))
        lngs.append(np.full(9, x - 0.07 if x > 0 else x + 0.07))
        lats.append(np.full(9, y + 0.07))
        lngs.append(x + rng.choice([-1.0, 1.0], 20) * rng.uniform(0.1, 0.5, 20))
        lats.append(y + rng.uniform(-0.3, 0.3, 20))
    lng = ((np.concatenate(lngs) + 180.0) % 360.0) - 180.0
    lat = np.clip(np.concatenate(lats), -85.0, 85.0)
    return lng, lat, p_lng, p_lat


@pytest.mark.parametrize("id_kind", ["long", "string"])
def test_knn_join_matches_numpy_topk(spark, id_kind):
    """kNN rows equal the (d, point_id) top-k: the same ranks, ids and
    dist bits, ties at the k boundary broken by point_id in Spark's order
    for long and string ids, with tiny Arrow batches so every batch's
    prefilter has to keep its ties."""
    from pyspark.sql.types import LongType, StringType

    from gpq_tiles_spark.operators import joins as J

    rng = np.random.default_rng(13)
    lng, lat, p_lng, p_lat = _knn_case(rng)
    perm = rng.permutation(len(lng))  # the tied ids interleave at random
    if id_kind == "long":
        ids = [int(v) for v in perm]
        key = lambda v: v  # noqa: E731
        id_type = LongType()
    else:
        ids = [f"p{v}" for v in perm]  # "p10" < "p9": not numeric order
        key = lambda v: v.encode()  # noqa: E731
        id_type = StringType()
    pts = spark.createDataFrame(
        list(zip(ids, lng.tolist(), lat.tolist())),
        schema=f"point_id {id_type.simpleString()}, lng double, lat double")
    probes = spark.createDataFrame(
        [(int(i), float(x), float(y)) for i, (x, y) in enumerate(zip(p_lng, p_lat))],
        schema="probe_id long, lng double, lat double")
    k = 6
    conf = "spark.sql.execution.arrow.maxRecordsPerBatch"
    saved = spark.conf.get(conf)
    spark.conf.set(conf, "7")
    try:
        out = J.knn_join(pts, probes, k=k, zoom=9)
    finally:
        spark.conf.set(conf, saved)
    assert str(out.schema) == KNN_SCHEMA.format(repr(id_type))
    got = {}
    for r in out.collect():
        got.setdefault(r.probe_id, []).append((r.rnk, r.point_id, r.dist))
    want = _knn_oracle(ids, lng, lat, p_lng, p_lat, k, key)
    for pid in range(len(p_lng)):
        assert sorted(got[pid]) == want[pid], pid
    # the k boundary really cuts a tie
    for pid in range(len(p_lng)):
        ds = [d for _, _, d in want[pid]]
        assert ds[-1] == ds[-2]


def test_knn_join_max_radius_one_string_ids(spark):
    """max_radius=1 with string ids: one round over the probe's 1-ring."""
    from gpq_tiles_spark.operators import joins as J

    rng = np.random.default_rng(4)
    zoom = 6
    cell_w = 360.0 / (1 << zoom)
    p_lng = (np.array([5, 30, 63]) + 0.5) * cell_w - 180.0
    p_lat = np.array([12.0, -40.0, 70.0])
    lngs, lats = [rng.uniform(-170, 170, 50)], [rng.uniform(-70, 70, 50)]
    for x, y in zip(p_lng, p_lat):
        lngs.append(x + rng.uniform(-0.5, 0.5, 12))
        lats.append(y + rng.uniform(-0.5, 0.5, 12))
        lngs.append(np.full(4, x + 0.6))
        lats.append(np.full(4, y))
    lng, lat = np.concatenate(lngs), np.concatenate(lats)
    ids = [f"id{v}" for v in rng.permutation(len(lng))]
    pts = spark.createDataFrame(list(zip(ids, lng.tolist(), lat.tolist())),
                                schema="point_id string, lng double, lat double")
    probes = spark.createDataFrame(
        [(int(i), float(x), float(y)) for i, (x, y) in enumerate(zip(p_lng, p_lat))],
        schema="probe_id long, lng double, lat double")
    k = 14
    got = {}
    for r in J.knn_join(pts, probes, k=k, zoom=zoom, max_radius=1).collect():
        got.setdefault(r.probe_id, []).append((r.rnk, r.point_id, r.dist))
    want = _knn_oracle(ids, lng, lat, p_lng, p_lat, k, lambda v: v.encode())
    for pid in range(len(p_lng)):
        assert sorted(got[pid]) == want[pid], pid


def test_knn_join_empty_probes(spark):
    """No probes: an empty result with the usual schema, not an error."""
    pts = spark.createDataFrame(
        [(1, 0.0, 0.0), (2, 1.0, 1.0)], schema="point_id long, lng double, lat double")
    probes = spark.createDataFrame([], schema="probe_id long, lng double, lat double")
    out = knn_join(pts, probes, k=3, zoom=4)
    assert out.collect() == []
    assert str(out.schema) == KNN_SCHEMA.format("LongType()")


def test_knn_join_rejects_duplicate_probe_ids(spark):
    """Probes sharing an id would share one window of k rows: rejected
    before any round runs, naming the id."""
    pts = spark.createDataFrame(
        [(1, 0.0, 0.0), (2, 9.0, 9.0)], schema="point_id long, lng double, lat double")
    probes = spark.createDataFrame(
        [(7, 1.0, 1.0), (1, 0.0, 0.0), (1, 9.0, 9.0)],
        schema="probe_id long, lng double, lat double")
    before = spark.sparkContext._jsc.getPersistentRDDs().size()
    with pytest.raises(ValueError, match=r"probe_id 1 .*unique"):
        knn_join(pts, probes, k=2, zoom=4)
    assert spark.sparkContext._jsc.getPersistentRDDs().size() == before

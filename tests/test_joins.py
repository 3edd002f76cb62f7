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

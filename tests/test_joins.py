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


# ---------------------------------------------------------------------------
# one Python pass per round: the broadcast PIP refine looks its cover up
# itself, kNN ranks its top-k on the driver
# ---------------------------------------------------------------------------

def _executed_plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_pip_broadcast_path_plan_has_no_join(spark, spatial_dfs):
    """The broadcast path is one mapInPandas over the points: no join and
    no broadcast exchange in the plan of the frame the call returns."""
    pts, zones, _, _ = spatial_dfs
    plan = _executed_plan(point_in_polygon_join(pts, zones))
    assert "MapInPandas" in plan
    assert "Join" not in plan and "BroadcastExchange" not in plan


def test_pip_cover_cap_takes_the_distributed_path(spark, spatial_dfs,
                                                  monkeypatch):
    """Above PIP_DRIVER_MAX_COVER_CELLS the broadcast call joins a cover
    DataFrame instead, with the same hits."""
    from gpq_tiles_spark.operators import joins as J

    pts, zones, _, _ = spatial_dfs
    want = {(r.point_id, r.zone_id)
            for r in point_in_polygon_join(pts, zones, zoom=9).collect()}
    monkeypatch.setattr(J, "PIP_DRIVER_MAX_COVER_CELLS", 10)
    capped = point_in_polygon_join(pts, zones, zoom=9)
    assert "Join" in _executed_plan(capped)
    assert {(r.point_id, r.zone_id) for r in capped.collect()} == want
    assert len(want) > 0


def test_pip_broadcast_drops_null_and_nan_points(spark):
    """Points with a null or NaN coordinate match no zone on the broadcast
    path, as the cell join of the distributed path drops them."""
    ring = np.array([[0.0, 0.0], [4.0, 0.0], [4.0, 4.0], [0.0, 4.0], [0.0, 0.0]])
    zones = spark.createDataFrame(
        [("a", G.to_wkb((G.POLYGON, [ring])))],
        schema="zone_id string, zone_wkb binary")
    nan = float("nan")
    pts = spark.createDataFrame(
        [(1, 1.0, 1.0), (2, None, 1.0), (3, 1.0, None), (4, nan, 1.0),
         (5, 1.0, nan), (6, None, None), (7, 3.0, 2.0), (8, 0.0, nan),
         (9, float("inf"), 1.0)],
        schema="point_id long, lng double, lat double")
    got = {}
    for bc in (True, False):
        got[bc] = sorted((r.point_id, r.zone_id) for r in point_in_polygon_join(
            pts, zones, zoom=3, broadcast_zones=bc).collect())
    assert got[True] == got[False] == [(1, "a"), (7, "a")]


def test_pip_repeated_zone_id_keeps_last_geometry(spark):
    """A zone_id in several rows keeps the geometry of its last row."""
    def square(x0):
        ring = np.array([[x0, 0.0], [x0 + 1, 0.0], [x0 + 1, 1.0], [x0, 1.0],
                         [x0, 0.0]])
        return G.to_wkb((G.POLYGON, [ring]))

    zones = spark.createDataFrame(
        [("a", square(0.0)), ("b", square(5.0)), ("a", square(10.0))],
        schema="zone_id string, zone_wkb binary").coalesce(1)
    pts = spark.createDataFrame(
        [(1, 0.5, 0.5), (2, 5.5, 0.5), (3, 10.5, 0.5)],
        schema="point_id long, lng double, lat double")
    got = sorted((r.point_id, r.zone_id)
                 for r in point_in_polygon_join(pts, zones).collect())
    assert got == [(2, "b"), (3, "a")]


@pytest.mark.parametrize("zoom", [0, 4, 9, 14, 18])
def test_numpy_cell_matches_catalyst_cell_sql(spark, zoom):
    """``latlng_to_cell`` (numpy, the broadcast PIP refine and the kNN
    probes) equals the ``cell_sql`` column (Catalyst, the cell joins and
    the kNN points) on seeded points and on edge values."""
    import pandas as pd
    from pyspark.sql import functions as F

    rng = np.random.default_rng(100 + zoom)
    edge_lng = [180.0, -180.0, 0.0, 0.0, 0.0, 0.0, 179.9999999, -179.9999999,
                0.0, 0.0, 180.0, -180.0]
    edge_lat = [0.0, 0.0, 85.0511, -85.0511, 90.0, -90.0, 85.0511287798,
                -85.0511287798, 85.06, -85.06, 90.0, -90.0]
    lng = np.concatenate([rng.uniform(-180, 180, 5000), edge_lng])
    lat = np.concatenate([rng.uniform(-85.06, 85.06, 5000), edge_lat])
    df = spark.createDataFrame(
        pd.DataFrame({"i": np.arange(len(lng)), "lng": lng, "lat": lat}))
    got = (df.withColumn("cell", F.expr(C.cell_sql("lng", "lat", zoom)))
           .toPandas().sort_values("i")["cell"].to_numpy())
    np.testing.assert_array_equal(got, C.latlng_to_cell(lng, lat, zoom))


def _knn_parquet_case(spark, tmp_path, lng, lat, p_lng, p_lat):
    """Points and probes each in one parquet file (one input partition,
    as the benchmark reads them)."""
    import pandas as pd

    pd.DataFrame({"point_id": np.arange(len(lng), dtype=np.int64),
                  "lng": lng, "lat": lat}).to_parquet(
        tmp_path / "points.parquet", index=False)
    pd.DataFrame({"probe_id": np.arange(len(p_lng), dtype=np.int64),
                  "lng": p_lng, "lat": p_lat}).to_parquet(
        tmp_path / "probes.parquet", index=False)
    return (spark.read.parquet(str(tmp_path / "points.parquet")),
            spark.read.parquet(str(tmp_path / "probes.parquet")))


def _assert_knn_exact(out, lng, lat, p_lng, p_lat, k):
    got = {}
    for r in out.collect():
        got.setdefault(r.probe_id, []).append((r.rnk, r.point_id, r.dist))
    want = _knn_oracle(list(range(len(lng))), lng, lat, p_lng, p_lat, k)
    for pid in range(len(p_lng)):
        assert sorted(got[pid]) == want[pid], pid


def test_knn_one_round_runs_three_jobs_and_no_window(spark, tmp_path,
                                                     monkeypatch):
    """A one-round search is the probes' take, the points' spread and one
    mapInPandas collect: at most 3 Spark jobs, and no Window anywhere."""
    from gpq_tiles_spark.operators import joins as J

    rng = np.random.default_rng(8)
    p_lng, p_lat = np.array([2.0, -70.0, 120.0]), np.array([45.0, -30.0, 10.0])
    lng = np.concatenate([x + rng.uniform(-0.5, 0.5, 200) for x in p_lng]
                         + [rng.uniform(-180, 180, 400)])
    lat = np.concatenate([y + rng.uniform(-0.5, 0.5, 200) for y in p_lat]
                         + [rng.uniform(-80, 80, 400)])
    pts, probes = _knn_parquet_case(spark, tmp_path, lng, lat, p_lng, p_lat)
    radii = []
    real_disk = C.grid_disk

    def recording_disk(cells, r, z):
        radii.append(r)
        return real_disk(cells, r, z)

    monkeypatch.setattr(C, "grid_disk", recording_disk)
    monkeypatch.setattr(J, "Window", None)  # any Window use raises
    sc = spark.sparkContext
    group = "knn-one-round-jobs"
    sc.setJobGroup(group, group)
    try:
        out = J.knn_join(pts, probes, k=5, zoom=7)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert radii == [2]
    assert len(sc.statusTracker().getJobIdsForGroup(group)) <= 3
    _assert_knn_exact(out, lng, lat, p_lng, p_lat, 5)


@pytest.mark.parametrize("fail_round", [None, 3])
def test_knn_caches_points_from_round_two_only(spark, tmp_path, monkeypatch,
                                               fail_round):
    """A search past r=2 caches the points from its second round on (round
    1 reads them uncached) and leaves no persisted RDD behind, also when a
    round raises."""
    rng = np.random.default_rng(9)
    p_lng, p_lat = np.array([0.0]), np.array([0.0])
    # nothing within 15 degrees: r=2 and r=4 find too few points, r=8 ends
    ang = rng.uniform(0, 2 * np.pi, 300)
    rad = rng.uniform(15.0, 60.0, 300)
    lng, lat = np.cos(ang) * rad, np.sin(ang) * rad
    pts, probes = _knn_parquet_case(spark, tmp_path, lng, lat, p_lng, p_lat)
    sc = spark.sparkContext
    before = sc._jsc.getPersistentRDDs().size()
    seen = []
    real_disk = C.grid_disk

    def recording_disk(cells, r, z):
        seen.append((r, sc._jsc.getPersistentRDDs().size() - before))
        if len(seen) == fail_round:
            raise RuntimeError("round failed")
        return real_disk(cells, r, z)

    monkeypatch.setattr(C, "grid_disk", recording_disk)
    if fail_round is None:
        _assert_knn_exact(knn_join(pts, probes, k=4, zoom=7),
                          lng, lat, p_lng, p_lat, 4)
    else:
        with pytest.raises(RuntimeError, match="round failed"):
            knn_join(pts, probes, k=4, zoom=7)
    # round 1 persisted nothing; round 2 built the points' cache
    assert seen == [(2, 0), (4, 0), (8, 1)]
    assert sc._jsc.getPersistentRDDs().size() == before


def test_knn_join_ranks_null_ids_first_on_ties(spark):
    """The driver's ranking keeps Spark's ORDER BY d, point_id: among
    points at one distance, null ids come first, then ids in order."""
    pts = spark.createDataFrame(
        [(None, 1.0, 1.0), (5, 1.0, 1.0), (3, 1.0, 1.0), (None, 1.0, 1.0),
         (9, 0.5, 0.5), (7, 3.0, 3.0)],
        schema="point_id long, lng double, lat double")
    probes = spark.createDataFrame([(0, 0.5, 0.5)],
                                   schema="probe_id long, lng double, lat double")
    got = sorted((r.rnk, r.point_id, r.dist)
                 for r in knn_join(pts, probes, k=4, zoom=4).collect())
    assert got == [(1, 9, 0.0), (2, None, 0.5), (3, None, 0.5), (4, 3, 0.5)]


# ---------------------------------------------------------------------------
# the join passes run on the points' own partitions: no round-robin spread
# for kNN or light-zone PIP; kNN computes its cells inside its pass
# ---------------------------------------------------------------------------

def _refuse_spread(df):
    raise AssertionError("spread_small_input called")


@pytest.mark.parametrize("broadcast", [True, False])
def test_joins_run_without_the_spread(spark, spatial_dfs, monkeypatch,
                                      broadcast):
    """kNN and light-zone PIP (5-vertex rings, both paths) never call the
    spread, and still give the brute-force answers."""
    from gpq_tiles_spark.operators import joins as J

    pts, zones, (lng, lat), zt = spatial_dfs
    monkeypatch.setattr(J, "spread_small_input", _refuse_spread)
    got = {(r.point_id, r.zone_id) for r in J.point_in_polygon_join(
        pts, zones, broadcast_zones=broadcast).collect()}
    want = {(int(i), zid) for zid, w in zip(zt["zone_id"].to_pylist(),
                                            zt["zone_wkt"].to_pylist())
            for i in np.flatnonzero(PIPK.points_in_geom(lng, lat,
                                                        G.from_wkt(w)))}
    assert got == want and len(want) > 0
    p_lng, p_lat = np.array([1.52, -122.39, -179.99]), np.array([42.51, 37.81, 0.0])
    probes = spark.createDataFrame(
        [(int(i), float(x), float(y)) for i, (x, y) in enumerate(zip(p_lng, p_lat))],
        schema="probe_id long, lng double, lat double")
    _assert_knn_exact(J.knn_join(pts, probes, k=5, zoom=7), lng, lat,
                      p_lng, p_lat, 5)


def test_knn_one_round_runs_two_jobs(spark, tmp_path):
    """A one-round search over a one-partition points frame is the probes'
    take and one mapInPandas collect: at most 2 Spark jobs."""
    from gpq_tiles_spark.operators import joins as J

    rng = np.random.default_rng(8)
    p_lng, p_lat = np.array([2.0, -70.0, 120.0]), np.array([45.0, -30.0, 10.0])
    lng = np.concatenate([x + rng.uniform(-0.5, 0.5, 200) for x in p_lng]
                         + [rng.uniform(-180, 180, 400)])
    lat = np.concatenate([y + rng.uniform(-0.5, 0.5, 200) for y in p_lat]
                         + [rng.uniform(-80, 80, 400)])
    pts, probes = _knn_parquet_case(spark, tmp_path, lng, lat, p_lng, p_lat)
    assert pts.rdd.getNumPartitions() == 1
    sc = spark.sparkContext
    group = "knn-one-round-two-jobs"
    sc.setJobGroup(group, group)
    try:
        out = J.knn_join(pts, probes, k=5, zoom=7)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(sc.statusTracker().getJobIdsForGroup(group)) <= 2
    _assert_knn_exact(out, lng, lat, p_lng, p_lat, 5)


def _dense_square_zones(per_side: int, n_side=6, size=0.5, x0=10.0, y0=20.0):
    """n_side^2 adjacent squares, each ring with ``per_side`` points per
    side (4 * per_side + 1 vertices): the same polygons at any density."""
    t = np.arange(per_side) / per_side
    zones = {}
    for j in range(n_side):
        for i in range(n_side):
            a, b = x0 + i * size, y0 + j * size
            ring = np.concatenate([
                np.stack([a + t * size, np.full(per_side, b)], 1),
                np.stack([np.full(per_side, a + size), b + t * size], 1),
                np.stack([a + size - t * size, np.full(per_side, b + size)], 1),
                np.stack([np.full(per_side, a), b + size - t * size], 1),
                [[a, b]]])
            zones[f"z-{j * n_side + i:04d}"] = (G.POLYGON, [ring])
    return zones


def _one_partition_points(spark, tmp_path, px, py):
    import pandas as pd

    path = str(tmp_path / "pip_points.parquet")
    pd.DataFrame({"point_id": np.arange(len(px), dtype=np.int64),
                  "lng": px, "lat": py}).to_parquet(path, index=False)
    return spark.read.parquet(path)


def test_pip_broadcast_spread_follows_zone_vertices(spark, tmp_path,
                                                    monkeypatch):
    """The broadcast path spreads an under-partitioned point input only at
    PIP_SPREAD_MIN_ZONE_VERTICES ring vertices per zone or more; the hits
    are the same either way."""
    from gpq_tiles_spark.operators import joins as J

    zones = _dense_square_zones(1)
    px, py = _grid_points(np.random.default_rng(3), n=1500, n_side=6)
    pts = _one_partition_points(spark, tmp_path, px, py)
    zdf = spark.createDataFrame([(zid, G.to_wkb(g)) for zid, g in zones.items()],
                                schema="zone_id string, zone_wkb binary")
    want = sorted((int(i), zid) for zid, g in zones.items()
                  for i in np.flatnonzero(PIPK.points_in_geom(px, py, g)))
    assert len(want) > 500
    for rule, spreads in ((0, True), (10**9, False)):
        monkeypatch.setattr(J, "PIP_SPREAD_MIN_ZONE_VERTICES", rule)
        out = J.point_in_polygon_join(pts, zdf)
        plan = _executed_plan(out)
        assert ("RoundRobinPartitioning" in plan) == spreads, rule
        assert "Join" not in plan
        assert sorted((r.point_id, r.zone_id) for r in out.collect()) == want


@pytest.mark.parametrize("per_side, spreads", [(1, False), (16, True),
                                               (138, True)])
def test_pip_broadcast_spreads_heavy_zones_by_default(spark, tmp_path,
                                                      per_side, spreads):
    """At the default rule, 5-vertex rings run on the points' own
    partition; 65- and 553-vertex rings of the same squares are spread.
    The hits do not depend on the ring density."""
    from gpq_tiles_spark.operators import joins as J

    zones = _dense_square_zones(per_side)
    assert J._mean_zone_vertices(list(zones.values())) == 4 * per_side + 1
    px, py = _grid_points(np.random.default_rng(4), n=800, n_side=6)
    pts = _one_partition_points(spark, tmp_path, px, py)
    zdf = spark.createDataFrame([(zid, G.to_wkb(g)) for zid, g in zones.items()],
                                schema="zone_id string, zone_wkb binary")
    out = J.point_in_polygon_join(pts, zdf)
    assert ("RoundRobinPartitioning" in _executed_plan(out)) == spreads
    want = sorted((int(i), zid) for zid, g in _dense_square_zones(1).items()
                  for i in np.flatnonzero(PIPK.points_in_geom(px, py, g)))
    assert sorted((r.point_id, r.zone_id) for r in out.collect()) == want


def test_knn_rows_for_null_nan_and_infinite_coordinates(spark):
    """Points with a null, NaN or infinite coordinate keep the cells the
    Catalyst ``cell_sql`` column gave them: NaN and -inf lng on column 0,
    +inf and null lng on the last column, a NaN or infinite lat on row 0, a
    null lat and a latitude beyond +-90 degrees on the last row. A null
    coordinate gives a NaN (null) distance, ranked last by point_id. The
    probe at lng -179.99 (column 0) reaches the last column through the
    antimeridian; the probe at lng 179.95 reaches the last column only."""
    nan, inf = float("nan"), float("inf")
    rows = [(1, -179.985, 10.0), (2, 179.99, 10.0), (3, None, 10.0),
            (4, nan, 10.0), (5, inf, 10.0), (6, -inf, 10.0),
            (7, -179.99, None), (8, -179.99, nan), (9, -179.99, inf),
            (10, -179.99, -inf), (11, None, None), (12, -179.99, -95.0),
            (13, -179.99, 95.0), (14, -179.98, -85.04), (15, None, -85.05),
            (16, 100.0, 89.0)]
    probe_rows = [(0, -179.99, 10.0), (1, -179.99, -85.05), (2, 0.0, 0.0),
                  (3, 100.0, 85.05), (4, 179.95, 10.0)]
    pts = spark.createDataFrame(rows, schema="point_id long, lng double, lat double")
    probes = spark.createDataFrame(probe_rows,
                                   schema="probe_id long, lng double, lat double")
    got = [tuple(r) for r in knn_join(pts, probes, k=12, zoom=14,
                                      max_radius=2).collect()]
    where = {i: (x, y) for i, x, y in rows}

    def d(probe, point):
        (px, py), (qx, qy) = probe_rows[probe][1:], where[point]
        return (qx - px) * (qx - px) + (qy - py) * (qy - py)

    want = [(0, 1, 1, d(0, 1)), (0, 2, 2, d(0, 2)), (0, 3, 5, inf),
            (0, 4, 6, inf), (0, 5, 3, None), (0, 6, 4, None),
            (1, 1, 12, d(1, 12)), (1, 2, 13, d(1, 13)), (1, 3, 7, None),
            (1, 4, 11, None), (1, 5, 15, None),
            (3, 1, 16, d(3, 16)),
            (4, 1, 2, d(4, 2)), (4, 2, 5, inf), (4, 3, 3, None)]
    assert sorted(got) == sorted(want)


def test_numpy_cells_match_cell_sql_on_non_finite_inputs(spark):
    """``latlng_to_cell`` equals the ``cell_sql`` column for NaN and
    +-inf coordinates; ``latlng_to_sql_cell`` (the kNN pass) equals it
    also for null coordinates and latitudes beyond +-90 degrees."""
    from pyspark.sql import functions as F

    nan, inf = float("nan"), float("inf")
    odd = [nan, inf, -inf]
    far = [90.0, -90.0, 90.5, 95.0, -95.0, 180.0, -180.0, 269.9, 270.0,
           270.1, 300.0, -300.0, 1e300, -1e300]
    rows = ([(a, b) for a in odd + [0.0, 179.99, -179.99] for b in odd + [0.0, 45.0]]
            + [(a, b) for a in [0.0, 179.99] for b in far]
            + [(None, b) for b in [0.0, 45.0, -85.0, nan, inf]]
            + [(a, None) for a in [0.0, 179.99, nan, -inf]] + [(None, None)])
    df = spark.createDataFrame([(i, a, b) for i, (a, b) in enumerate(rows)],
                               schema="i long, lng double, lat double")
    non_null = [i for i, (a, b) in enumerate(rows) if a is not None
                and b is not None and not (np.isfinite(b) and abs(b) > 90.0)]
    assert {(np.isnan(a), np.isnan(b), np.isinf(a), np.isinf(b))
            for a, b in (rows[i] for i in non_null)} >= {
        (True, False, False, False), (False, True, False, False),
        (False, False, True, False), (False, False, False, True)}
    for zoom in (0, 4, 14, 20):
        got = {r.i: r.cell for r in df.select(
            "i", F.expr(C.cell_sql("lng", "lat", zoom)).alias("cell")).collect()}
        lng = np.array([nan if a is None else a for a, _ in rows])
        lat = np.array([nan if b is None else b for _, b in rows])
        cells = C.latlng_to_sql_cell(
            lng, lat, zoom, np.array([a is None for a, _ in rows]),
            np.array([b is None for _, b in rows]))
        assert cells.tolist() == [got[i] for i in range(len(rows))], zoom
        plain = C.latlng_to_cell(lng[non_null], lat[non_null], zoom)
        assert plain.tolist() == [got[i] for i in non_null], zoom

"""Spatial joins: point-in-polygon and kNN via cell-ring expansion.

[north-star extensions — cite: BASELINE.json north_star "point-in-polygon
joins, kNN via cell-ring expansion"]. Both are cell-index prefilter +
exact-refine patterns, with no Python loop per key or per row, and both
run their Python pass on the points' own partitions:

* PIP: polygons are covered with grid cells (one vectorized cover call over
  every zone bbox). With the zones on the driver (the default), the cover
  is two cell-sorted numpy arrays (cell, zone index) in the refine's
  closure, and the join is ONE ``mapInPandas`` pass over the points: each
  Arrow batch computes its points' cells, finds their cover rows by
  ``searchsorted``, and runs a vectorized ray-casting kernel per zone over
  those rows (grouped once by a stable argsort). No cover DataFrame, no
  join and no exchange, unless the zones are heavy: at a mean of
  ``PIP_SPREAD_MIN_ZONE_VERTICES`` ring vertices per zone or more, the
  refine costs more per point than moving the point, and an
  under-partitioned point input is first spread to the task slots
  (``partitioning.spread_small_input``). Zones too many to hold, or a
  cover above ``PIP_DRIVER_MAX_COVER_CELLS``, take the distributed path: a
  cell equi-join against a cover DataFrame, the zone WKB joined back per
  candidate, and the same grouped refine.
* kNN (``knn_join``): probes expand grid disks r=2,4,... over the points
  until the kth neighbor distance is provably within the ring bound. A
  round is one narrow Arrow pass: the cell-sorted (probe, cell) disk pairs
  ride in the ``mapInPandas`` closure, each point batch computes its cells
  (the numpy twin of the ``cell_sql`` column), finds its probes by
  ``searchsorted`` and computes the squared distances, and each task
  keeps, per probe, a running top-k across its batches (ties at the kth
  distance included). Those rows come back over Arrow, at most tasks x
  probes x k of them plus ties, and the driver ranks them exactly on
  (probe_id, d, point_id).
"""

from __future__ import annotations

from typing import Callable, Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from ..kernels import geom as G
from ..kernels import pip as PIPK
from ..kernels import tile_math as T
from ..partitioning import spread_small_input
from . import cells as C

# The broadcast PIP path holds the whole zone cover in numpy on the driver
# and in every refine task's closure (12 bytes a cover cell): above this
# many cells it takes the distributed cover join instead.
PIP_DRIVER_MAX_COVER_CELLS = 1 << 20

# The broadcast PIP pass spreads an under-partitioned point input to the
# task slots only when the zones average this many ring vertices or more.
# Its refine cost per point grows with the vertices (without Spark,
# ``scripts/measure_join_refine.py --zone-vertices``: ~1.2 us at 5, ~2.8
# us at 65, ~17 us at ~550), while the round-robin exchange costs a job,
# a shuffle of every point and a Python worker per slot: below the rule
# the exchange cannot pay for itself.
PIP_SPREAD_MIN_ZONE_VERTICES = 64


def _cover_index(bboxes, zoom: int) -> tuple[np.ndarray, np.ndarray]:
    """(zone index, cell) cover rows of zones with bboxes (x0, y0, x1, y1):
    one vectorized ``cover_bbox_cells`` call, stably ordered by zone, so the
    rows come out zone by zone exactly as one call per zone gives them."""
    b = np.asarray(bboxes, dtype=np.float64).reshape(-1, 4)
    if len(b) == 0:
        return np.empty(0, dtype=np.int64), np.empty(0, dtype=np.int64)
    ridx, cells = C.cover_bbox_cells(b[:, 0], b[:, 1], b[:, 2], b[:, 3], zoom)
    order = np.argsort(ridx, kind="stable")
    return ridx[order], cells[order]


def _cover_rows(zone_ids, bboxes, zoom: int) -> tuple[np.ndarray, np.ndarray]:
    """(zone_id, cell) cover rows: ``_cover_index`` with the zone ids."""
    ids = np.asarray(zone_ids, dtype=object)
    idx, cells = _cover_index(bboxes, zoom)
    return ids[idx], cells


def _cover_size(bboxes, zoom: int) -> int:
    """The number of rows ``_cover_index`` would give, without making them."""
    b = np.asarray(bboxes, dtype=np.float64).reshape(-1, 4)
    x0a, x1a, x0b, x1b, y0, y1 = T.tile_ranges_for_bbox(
        b[:, 0], b[:, 1], b[:, 2], b[:, 3], zoom)
    nx = np.maximum(x1a - x0a + 1, 0) + np.maximum(x1b - x0b + 1, 0)
    return int((nx * np.maximum(y1 - y0 + 1, 0)).sum())


def polygon_cell_cover(zones: DataFrame, wkb_col: str = "zone_wkb",
                       id_col: str = "zone_id", zoom: int = 9) -> DataFrame:
    """(zone_id, cell) — every grid cell whose bbox intersects the polygon's
    bbox. A bbox cover is a superset of the true cover, which only costs
    extra candidates (removed by the exact refine)."""
    schema = StructType(
        [StructField("zone_id", StringType()), StructField("cell", LongType())]
    )

    def cover(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, cells = _cover_rows(
                pdf[id_col].to_numpy(),
                [G.bbox(G.from_wkb(bytes(w))) for w in pdf[wkb_col]], zoom)
            yield pd.DataFrame({"zone_id": ids, "cell": cells})

    return zones.select(id_col, wkb_col).mapInPandas(cover, schema=schema)


def auto_cover_zoom(zones: DataFrame, zone_wkb: str = "zone_wkb",
                    sample: int = 512) -> int:
    """Pick the cell-cover zoom from the zones' sizes: ``_cover_zoom`` over
    the first ``sample`` zone rows (one Spark job). Cell width ~ the
    median zone bbox width, so a zone covers O(1) cells AND a cell holds
    O(1) zones. A fixed zoom silently degrades into an all-pairs join when
    zones are much smaller than the cells (measured: 200 city polygons at
    zoom 7 -> 288M candidates for 4M points; at the auto zoom -> ~1 per
    point)."""
    rows = zones.select(zone_wkb).limit(sample).collect()
    return _cover_zoom([G.bbox(G.from_wkb(bytes(r[0]))) for r in rows])


def _cover_zoom(bboxes) -> int:
    """The cover-zoom rule over zone bboxes (x0, y0, x1, y1): cell width
    ~ the median bbox width; 9 when there are no zones."""
    if not bboxes:
        return 9
    med = float(np.median([max(b[2] - b[0], 1e-9) for b in bboxes]))
    return int(np.clip(np.floor(np.log2(360.0 / med)), 0, 18))


_PIP_COLS = ["point_id", "lng", "lat", "zone_id"]

_PIP_SCHEMA = StructType([
    StructField("point_id", LongType()),
    StructField("lng", DoubleType()),
    StructField("lat", DoubleType()),
    StructField("zone_id", StringType()),
])


def _sorted_matches(sorted_keys: np.ndarray,
                    keys: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """(i, j) for every ``keys[i] == sorted_keys[j]``, i ascending, j in
    ``sorted_keys`` order within each i: two ``searchsorted`` calls and a
    flat expansion of the matched ranges."""
    lo = np.searchsorted(sorted_keys, keys, "left")
    cnt = np.searchsorted(sorted_keys, keys, "right") - lo
    i = np.repeat(np.arange(len(keys)), cnt)
    j = (np.arange(len(i)) - np.repeat(np.cumsum(cnt) - cnt, cnt)
         + np.repeat(lo, cnt))
    return i, j


def _group_hits(px: np.ndarray, py: np.ndarray, codes: np.ndarray,
                geom_at: Callable[[int, int], tuple]) -> np.ndarray:
    """Ray-cast hit mask of the candidate rows (px, py) against their zone
    ``codes`` (ints >= 0): the rows are grouped by code once (stable
    argsort) and the kernel runs on each code's contiguous slice.
    ``geom_at(code, row)`` gives the zone's geometry, ``row`` being the
    position of the code's first candidate."""
    order = np.argsort(codes, kind="stable")
    sc = codes[order]
    starts = np.flatnonzero(np.diff(sc, prepend=-1))
    ends = np.append(starts[1:], len(order))
    sx, sy = px[order], py[order]
    hit = np.empty(len(order), dtype=bool)
    for s, e in zip(starts.tolist(), ends.tolist()):
        hit[s:e] = PIPK.points_in_geom(sx[s:e], sy[s:e],
                                       geom_at(sc[s], int(order[s])))
    keep = np.empty(len(order), dtype=bool)
    keep[order] = hit
    return keep


def _refine_by_zone(pdf: pd.DataFrame,
                    geom_at: Callable[[object, int], tuple]) -> pd.DataFrame:
    """The exact PIP refine of one candidate batch of the cover join:
    ``_group_hits`` over the batch's ``zone_id`` codes (one factorize),
    hits kept in batch order. ``geom_at(zone_id, row)`` gives the zone's
    geometry, ``row`` being the position of the zone's first candidate in
    the batch."""
    codes, uniq = pd.factorize(pdf["zone_id"], use_na_sentinel=False)
    keep = _group_hits(pdf["lng"].to_numpy(dtype=np.float64),
                       pdf["lat"].to_numpy(dtype=np.float64), codes,
                       lambda c, row: geom_at(uniq[c], row))
    return pdf[keep][_PIP_COLS]


def _refine_local_cover(names: list, geoms: list, bboxes: list, zoom: int):
    """mapInPandas body of the broadcast PIP join over (point_id, lng,
    lat) batches -> (point_id, lng, lat, zone_id) hits. The zones' cover
    rides in the closure as two cell-sorted arrays (cell, zone index);
    each batch computes its points' cells (``cells.latlng_to_cell``, the
    numpy twin of ``cell_sql``), finds their cover rows by
    ``searchsorted`` and refines them with ``_group_hits``. Points with a
    null, NaN or infinite coordinate are dropped before the lookup: they
    match no zone on the cell-join path either."""
    zone, cells = _cover_index(bboxes, zoom)
    order = np.argsort(cells, kind="stable")
    cov_cell, cov_zone = cells[order], zone[order]
    names = np.asarray(names, dtype=object)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            px = pdf["lng"].to_numpy(dtype=np.float64)
            py = pdf["lat"].to_numpy(dtype=np.float64)
            ok = np.flatnonzero(np.isfinite(px) & np.isfinite(py))
            i, j = _sorted_matches(
                cov_cell, C.latlng_to_cell(px[ok], py[ok], zoom))
            row, z = ok[i], cov_zone[j]
            hit = _group_hits(px[row], py[row], z,
                              lambda c, _row: geoms[c])
            row, z = row[hit], z[hit]
            yield pd.DataFrame({
                "point_id": pdf["point_id"].to_numpy()[row],
                "lng": px[row], "lat": py[row], "zone_id": names[z],
            })

    return run


def _mean_zone_vertices(geoms: list) -> float:
    """Mean ring vertex count per zone (all rings of a zone counted): what
    the ray-cast refine costs per candidate point; 0.0 for no zones."""
    if not geoms:
        return 0.0
    return sum(G.vertex_count(g) for g in geoms) / len(geoms)


def point_in_polygon_join(points: DataFrame, zones: DataFrame,
                          point_id: str = "point_id", lng: str = "lng",
                          lat: str = "lat", zone_id: str = "zone_id",
                          zone_wkb: str = "zone_wkb",
                          zoom: int | str = "auto",
                          broadcast_zones: bool = True) -> DataFrame:
    """Exact PIP join -> (point_id, lng, lat, zone_id). ``zoom='auto'``
    (default) sizes the cell grid to the zones: ``_cover_zoom`` over the
    first 512 zone rows, on either path (see auto_cover_zoom). Points with
    a null or NaN coordinate match no zone.

    Not fully lazy. With ``broadcast_zones`` (the default) the call
    collects the zone table (one Spark job) and builds the cell cover on
    the driver; a zone_id that appears in several rows keeps the geometry
    of its last collected row. The returned frame is one ``mapInPandas``
    over the points' own partitions: no join, no broadcast exchange. Only
    when the zones average ``PIP_SPREAD_MIN_ZONE_VERTICES`` ring vertices
    or more does an under-partitioned point input first get a round-robin
    spread to the task slots (``spread_small_input``, whose partition
    count probe plans the point query on the driver). When the cover would
    exceed ``PIP_DRIVER_MAX_COVER_CELLS`` cells, the call goes on as with
    ``broadcast_zones=False``: a cover DataFrame joined to the points on
    the cell column, the zone WKB joined back per candidate; that join
    repartitions the points itself. On that path ``zoom='auto'`` collects
    the first 512 zone rows (one Spark job). The point side stays lazy
    until the returned frame runs."""
    pts = points.select(
        F.col(point_id).cast("long").alias("point_id"),
        F.col(lng).cast("double").alias("lng"),
        F.col(lat).cast("double").alias("lat"))
    if broadcast_zones:
        zrows = zones.select(F.col(zone_id).cast("string"), zone_wkb).collect()
        ids = [r[0] for r in zrows]
        parsed = [G.from_wkb(bytes(r[1])) for r in zrows]
        bboxes = [G.bbox(g) for g in parsed]
        if zoom == "auto":
            zoom = _cover_zoom(bboxes[:512])
        # a repeated zone_id keeps its last row (dict: first-seen order)
        last = list(dict(zip(ids, range(len(ids)))).values())
        bboxes = [bboxes[i] for i in last]
        geoms = [parsed[i] for i in last]
        if _cover_size(bboxes, zoom) <= PIP_DRIVER_MAX_COVER_CELLS:
            if _mean_zone_vertices(geoms) >= PIP_SPREAD_MIN_ZONE_VERTICES:
                pts = spread_small_input(pts)
            return pts.mapInPandas(
                _refine_local_cover([ids[i] for i in last], geoms, bboxes,
                                    zoom),
                schema=_PIP_SCHEMA)
    elif zoom == "auto":
        zoom = auto_cover_zoom(zones, zone_wkb)

    # the distributed path: join the cover on the cell column, then the wkb
    # back per candidate (zones too large to hold), and refine per zone
    # group within partitions
    cover = polygon_cell_cover(zones, zone_wkb, zone_id, zoom)
    cand = (C.with_cell_column(pts, "lng", "lat", zoom)
            .join(cover, "cell")
            .join(zones.select(F.col(zone_id).alias("zone_id"),
                               F.col(zone_wkb).alias("zone_wkb")), "zone_id")
            .select(*_PIP_COLS, "zone_wkb"))

    def refine(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cache: dict = {}
        for pdf in batches:
            wkbs = pdf["zone_wkb"]

            def geom_at(zid, row):
                g = cache.get(zid)
                if g is None:
                    g = cache[zid] = G.from_wkb(bytes(wkbs.iloc[row]))
                return g

            yield _refine_by_zone(pdf, geom_at)

    return cand.mapInPandas(refine, schema=_PIP_SCHEMA)


# knn_join collect()s the probe side: refuse above this count and point at
# the distributed variant (mirrors similarity.EXACT_PAIRS_MAX_ROWS).
KNN_DRIVER_MAX_PROBES = 10_000


def _disk_pairs(p_cell: np.ndarray, r: int,
                zoom: int) -> tuple[np.ndarray, np.ndarray]:
    """(probe index, cell) pairs of every probe's radius-r grid disk, sorted
    by cell. Pole clamping and antimeridian wrap can alias disk cells, so
    the pairs are deduplicated or a point would match its probe twice."""
    idx, cells = C.grid_disk(p_cell, r, zoom)
    order = np.lexsort((idx, cells))
    idx, cells = idx[order], cells[order]
    keep = np.ones(len(idx), dtype=bool)
    keep[1:] = (idx[1:] != idx[:-1]) | (cells[1:] != cells[:-1])
    return idx[keep], cells[keep]


def _keep_topk_ties(probe: np.ndarray, ids: np.ndarray, d: np.ndarray,
                    k: int) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """The rows whose ``d`` is not above their probe's kth smallest ``d``
    (ties at the kth distance included; a NaN ``d`` sorts last and is kept
    while the probe has fewer than k numbers)."""
    order = np.lexsort((d, probe))
    grp = probe[order]
    starts = np.flatnonzero(np.diff(grp, prepend=-1))
    sizes = np.diff(np.append(starts, len(grp)))
    kth = d[order][starts + np.minimum(sizes, k) - 1]
    # "not above" rather than "<=": a NaN distance stays a candidate
    sel = order[~(d[order] > np.repeat(kth, sizes))]
    return probe[sel], ids[sel], d[sel]


def _ring_candidates(pair_probe: np.ndarray, pair_cell: np.ndarray,
                     p_ids: np.ndarray, p_lng: np.ndarray, p_lat: np.ndarray,
                     k: int, zoom: int):
    """mapInPandas body of one kNN round over (point_id, lng, lat,
    lng_null, lat_null) batches -> (probe_id, point_id, d) rows. Each batch
    computes its points' cells (``cells.latlng_to_sql_cell``: the
    ``cell_sql`` values, null coordinates included) and meets the probes
    whose disk holds the cell (``searchsorted`` over the cell-sorted
    pairs); ``d`` is ``dx*dx + dy*dy``, the same IEEE operations as the
    Catalyst expression of ``knn_join_distributed`` (NaN for a null
    coordinate). The task carries a running top-k per probe across its
    batches (``_keep_topk_ties``) and yields it once, after its last
    batch: a superset of the task's share of the global (d, point_id)
    top-k, so the driver's ranking of every task's rows is exact for any
    id type."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        probe = np.empty(0, dtype=np.int64)
        d = np.empty(0, dtype=np.float64)
        ids = None
        for pdf in batches:
            lng = pdf["lng"].to_numpy(dtype=np.float64)
            lat = pdf["lat"].to_numpy(dtype=np.float64)
            row, pair = _sorted_matches(pair_cell, C.latlng_to_sql_cell(
                lng, lat, zoom, pdf["lng_null"].to_numpy(dtype=bool),
                pdf["lat_null"].to_numpy(dtype=bool)))
            if len(row) == 0:
                continue
            bp = pair_probe[pair]
            dx = lng[row] - p_lng[bp]
            dy = lat[row] - p_lat[bp]
            bid = pdf["point_id"].to_numpy()[row]
            probe, ids, d = _keep_topk_ties(
                np.concatenate([probe, bp]),
                bid if ids is None else np.concatenate([ids, bid]),
                np.concatenate([d, dx * dx + dy * dy]), k)
        if ids is not None:
            yield pd.DataFrame({"probe_id": p_ids[probe], "point_id": ids,
                                "d": d})

    return run


def _rank_topk(cand: pd.DataFrame, k: int) -> pd.DataFrame:
    """The first k (probe_id, point_id, d) rows per probe in Spark's
    ``ORDER BY d, point_id`` (NaN distances last, null ids first; a float
    id's NaN counts as null) -> (probe_id, rnk, point_id, dist), rnk
    1..k: one lexsort, then each probe's leading rows."""
    pid = cand["point_id"].to_numpy()
    null = cand["point_id"].isna().to_numpy()
    key = pid
    if null.any():  # a stand-in of the ids' own type keeps them comparable
        key = pid.copy()
        key[null] = pid[~null][0] if not null.all() else 0
    probe = cand["probe_id"].to_numpy()
    d = cand["d"].to_numpy()
    order = np.lexsort((key, ~null, d, probe))
    n = len(order)
    first = np.ones(n, dtype=bool)
    first[1:] = probe[order[1:]] != probe[order[:-1]]
    starts = np.flatnonzero(first)
    rnk = np.arange(n) - np.repeat(starts, np.diff(np.append(starts, n))) + 1
    top = rnk <= k
    keep = order[top]
    return pd.DataFrame({"probe_id": probe[keep],
                         "rnk": rnk[top].astype(np.int32),
                         "point_id": pid[keep], "dist": d[keep]})


def knn_join(points: DataFrame, probes: DataFrame, k: int,
             point_id: str = "point_id", probe_id: str = "probe_id",
             zoom: int = 7, max_radius: int = 64) -> DataFrame:
    """k nearest points per probe via iterative grid-disk expansion.

    points: (point_id, lng, lat); probes: (probe_id, lng, lat), probe
    ids unique (a duplicated id raises ``ValueError`` before any round).
    Returns (probe_id, rnk, point_id, dist). Distance is squared-degree
    euclidean (matching the brute-force oracle); ties at equal distance
    are ranked by point_id in Spark's order.

    Not lazy: the call collects the probes (at most
    ``KNN_DRIVER_MAX_PROBES``) and runs every round before it returns.
    A round is one ``mapInPandas`` pass over the points' own partitions,
    which computes their cells itself, and one Arrow ``toPandas`` of its
    candidate rows: at most tasks x probes x k of them, plus the rows tied
    at a task's kth distance. The driver ranks them (``_rank_topk``); no
    Window, no exchange. The points are cached only once a second round is
    needed, and released before the call returns or raises. The result is
    a local frame over the last round's rows. A point with a null
    coordinate is placed where the ``cell_sql`` column puts it (the last
    grid column or row) at distance NaN, as in ``knn_join_distributed``'s
    Catalyst cell join.

    Correctness bound: a point whose cell is outside the Chebyshev disk of
    radius r differs from the probe by > (r-1) full cell widths in lng or by
    > (r-1) minimum cell heights in lat, so once the kth candidate distance
    is <= ((r-1) * min_cell_extent)^2 no farther ring can improve the result.
    The search never widens past ``max_radius`` rings (>= 1); a probe still
    unresolved there keeps the top-k found within that disk.
    """
    if max_radius < 1:
        raise ValueError(f"knn_join: max_radius must be >= 1, got {max_radius}")
    # single early-stopping pass: take(cap+1) bounds driver memory AND
    # detects the over-cap case without a separate count() job re-running
    # the probe lineage
    probe_rows = probes.select(probe_id, "lng", "lat").take(
        KNN_DRIVER_MAX_PROBES + 1)
    if len(probe_rows) > KNN_DRIVER_MAX_PROBES:
        raise ValueError(
            f"knn_join: more than {KNN_DRIVER_MAX_PROBES} probes would be "
            "collect()ed to the driver. This is the driver-loop variant "
            "for small probe sets — use knn_join_distributed, which keeps "
            "probes a DataFrame end-to-end."
        )
    p_ids = np.array([int(r[0]) for r in probe_rows], dtype=np.int64)
    uniq, counts = np.unique(p_ids, return_counts=True)
    dup = np.flatnonzero(counts > 1)
    if len(dup):
        # the driver ranks per probe_id: probes sharing an id would share
        # one set of k rows
        raise ValueError(
            f"knn_join: probe_id {int(uniq[dup[0]])} appears "
            f"{int(counts[dup[0]])} times; probe ids must be unique")
    p_lng = np.array([r[1] for r in probe_rows], dtype=np.float64)
    p_lat = np.array([r[2] for r in probe_rows], dtype=np.float64)
    p_cell = C.latlng_to_cell(p_lng, p_lat, zoom)

    cell_w = 360.0 / (1 << zoom)
    # min cell height across the probe latitudes' neighborhood (conservative)
    _, py = T.lng_lat_to_tile_xy(p_lng, p_lat, zoom)
    _, lat_min_c, _, lat_max_c = T.tile_bounds(np.zeros_like(py), py, zoom)
    min_cell_h = float(np.minimum(np.abs(lat_max_c - lat_min_c), cell_w).min(
        initial=cell_w))

    spark = points.sparkSession
    # pandas reads a null coordinate as NaN: the flags keep it apart
    pts = points.select(F.col(point_id).alias("point_id"), "lng", "lat",
                        F.col("lng").isNull().alias("lng_null"),
                        F.col("lat").isNull().alias("lat_null"))
    id_type = pts.schema["point_id"].dataType
    cand_schema = StructType([
        StructField("probe_id", LongType()),
        StructField("point_id", id_type),
        StructField("d", DoubleType()),
    ])
    out_schema = StructType([
        StructField("probe_id", LongType()),
        StructField("rnk", IntegerType(), False),
        StructField("point_id", id_type),
        StructField("dist", DoubleType()),
    ])
    # r starts at 2, not 1 (round 7): the done-bound at radius r is
    # ((r-1)*min_cell_h)^2, which is 0.0 at r=1 — that round can only
    # resolve when the kth distance is exactly 0, and in that case the
    # r=2 top-k is the identical row set (disk(2) contains disk(1) and the
    # ordering tie-breaks on point_id). Starting at 2 removes one full
    # Spark round from every call; max_radius=1 still searches radius 1
    # only, and no round searches past max_radius.
    r = min(2, max_radius)
    cached = False
    try:
        while True:
            pair_probe, pair_cell = _disk_pairs(p_cell, r, zoom)
            # ONE Arrow collect per round: the candidates are the bounded
            # driver payload this variant accepts; the top-k and the
            # resolve stats (count, kth distance) fold out of them
            rows = _rank_topk(
                pts.mapInPandas(_ring_candidates(pair_probe, pair_cell, p_ids,
                                                 p_lng, p_lat, k, zoom),
                                schema=cand_schema).toPandas(), k)
            bound = ((r - 1) * min_cell_h) ** 2
            stats = rows.groupby("probe_id")["dist"].agg(["size", "max"])
            stats = stats.reindex(p_ids)
            done = bool(((stats["size"] >= k) & (stats["max"] <= bound)).all())
            if done or r >= max_radius:
                # built from pandas over Arrow: a LocalRelation, not an RDD
                # of pickled rows
                return spark.createDataFrame(rows, schema=out_schema)
            if not cached:
                # the next round reads the points again: keep them
                pts, cached = pts.cache(), True
            r = min(2 * r, max_radius)
    finally:
        if cached:
            pts.unpersist()


def knn_join_distributed(points: DataFrame, probes: DataFrame, k: int,
                         point_id: str = "point_id", probe_id: str = "probe_id",
                         zoom: int = 7,
                         radii: tuple[int, ...] = (2, 8, 64)) -> DataFrame:
    """Distributed kNN: probes stay a DataFrame end-to-end (no driver
    materialization — the scale path for millions of probes, vs ``knn_join``
    whose driver loop is right for a handful).

    Fixed round schedule ``radii``: each round explodes the still-unresolved
    probes' grid disks in an Arrow batch UDF (the per-probe ring bound is
    computed there too — min cell extent over the disk rows, which for
    Web-Mercator is at the disk row nearest a pole), equi-joins on the int64
    cell key (shuffle hash join — the point table partitions by cell, probes
    by their disk cells; nothing broadcasts, nothing collects), window
    top-k's per probe, and splits resolved/unresolved with pure column
    algebra. The final radius resolves unconditionally (max-radius cap, same
    semantics as ``knn_join``). Per-round flow control reads ONE boolean
    (isEmpty) — O(1) driver traffic per round, bounded rounds.

    The returned DataFrame is materialized into its own cache and every
    intermediate cache is unpersisted before returning (unpersist never
    breaks correctness — lineage reaches back to the inputs — it only
    trades recompute cost on block loss). Callers owning a long-lived
    session should ``result.unpersist()`` when done with the result.
    """
    pts = C.with_cell_column(
        spread_small_input(
            points.select(F.col(point_id).alias("point_id"), "lng", "lat")),
        "lng", "lat", zoom,
    ).cache()
    _persisted: list[DataFrame] = [pts]

    disk_schema = StructType([
        StructField("probe_id", LongType()),
        StructField("probe_lng", DoubleType()),
        StructField("probe_lat", DoubleType()),
        StructField("cell", LongType()),
        StructField("bound", DoubleType()),
    ])

    def make_disk_explode(r: int):
        def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            from ..kernels import tile_math as T

            cell_w = 360.0 / (1 << zoom)
            n_max = (1 << zoom) - 1
            for pdf in batches:
                if len(pdf) == 0:
                    continue
                ids = pdf["probe_id"].to_numpy(dtype=np.int64)
                lngs = pdf["probe_lng"].to_numpy(dtype=np.float64)
                lats = pdf["probe_lat"].to_numpy(dtype=np.float64)
                cell = C.latlng_to_cell(lngs, lats, zoom)
                idx, cells = _disk_pairs(cell, r, zoom)
                # per-probe ring bound: ((r-1) * min cell extent in disk)^2;
                # cell heights shrink poleward, so the min is at an extreme row
                _, cy = C.unpack_cell(cell)
                y_lo = np.clip(cy - r, 0, n_max).astype(np.float64)
                y_hi = np.clip(cy + r, 0, n_max).astype(np.float64)
                zeros = np.zeros_like(y_lo)
                _, lo_min, _, lo_max = T.tile_bounds(zeros, y_lo, zoom)
                _, hi_min, _, hi_max = T.tile_bounds(zeros, y_hi, zoom)
                min_h = np.minimum(np.abs(lo_max - lo_min), np.abs(hi_max - hi_min))
                min_ext = np.minimum(min_h, cell_w)
                bound = (np.maximum(r - 1, 0) * min_ext) ** 2
                yield pd.DataFrame({
                    "probe_id": ids[idx],
                    "probe_lng": lngs[idx],
                    "probe_lat": lats[idx],
                    "cell": cells,
                    "bound": bound[idx],
                })

        return gen

    remaining = probes.select(
        F.col(probe_id).cast("long").alias("probe_id"),
        F.col("lng").alias("probe_lng"),
        F.col("lat").alias("probe_lat"),
    ).cache()
    _persisted.append(remaining)
    dist = (
        (F.col("lng") - F.col("probe_lng")) * (F.col("lng") - F.col("probe_lng"))
        + (F.col("lat") - F.col("probe_lat")) * (F.col("lat") - F.col("probe_lat"))
    )
    w = Window.partitionBy("probe_id").orderBy(F.asc("d"), F.asc("point_id"))
    rounds: list[DataFrame] = []
    for i, r in enumerate(radii):
        last = i == len(radii) - 1
        cand = remaining.mapInPandas(make_disk_explode(r), schema=disk_schema)
        topk = (
            cand.join(pts, "cell")
            .withColumn("d", dist)
            .withColumn("rnk", F.row_number().over(w))
            .where(F.col("rnk") <= k)
            .select("probe_id", "rnk", "point_id", F.col("d").alias("dist"),
                    "bound")
        )
        if last:
            rounds.append(topk.drop("bound"))
            break
        # topk feeds the resolve stats AND this round's result slice; cache
        # it so the disk-explode + cell join + window chain runs once per
        # round instead of once per consumer (round 7; released below with
        # the other intermediates)
        topk = topk.persist()
        _persisted.append(topk)
        stats = (
            topk.groupBy("probe_id")
            .agg(F.count("*").alias("cnt"), F.max("dist").alias("kth"),
                 F.first("bound").alias("bound"))
        )
        resolved = stats.where(
            (F.col("cnt") >= k) & (F.col("kth") <= F.col("bound"))
        ).select("probe_id").cache()
        _persisted.append(resolved)
        rounds.append(
            topk.drop("bound").join(resolved, "probe_id", "left_semi")
        )
        remaining = remaining.join(resolved, "probe_id", "left_anti").cache()
        _persisted.append(remaining)
        if remaining.isEmpty():
            break
    out = rounds[0]
    for extra in rounds[1:]:
        out = out.unionAll(extra)
    # materialize once into the result's own cache, then release every
    # intermediate (storage would otherwise accumulate across rounds and
    # across repeated calls in a long-lived session)
    out = out.cache()
    out.count()
    for df in _persisted:
        df.unpersist()
    return out

"""Spatial joins: point-in-polygon and kNN via cell-ring expansion.

[north-star extensions — cite: BASELINE.json north_star "point-in-polygon
joins, kNN via cell-ring expansion"]. Both are cell-index prefilter +
exact-refine patterns, with no Python loop per key or per row:

* PIP: polygons are covered with grid cells (one row per (cell, zone), one
  vectorized cover call over every zone bbox), points carry their cell as a
  Catalyst expression column; the equi-join on the int64 cell column prunes
  the candidate space, then each Arrow batch is grouped by zone once
  (factorize + stable argsort) and a vectorized ray-casting kernel refines
  each zone's contiguous slice. Small polygon sides are broadcast — no
  shuffle of the point table beyond the cell join.
* kNN (``knn_join``): probes expand grid disks r=2,4,... over the cached,
  cell-indexed points until the kth neighbor distance is provably within
  the ring bound. A round is one narrow Arrow pass: the cell-sorted
  (probe, cell) disk pairs ride in the ``mapInPandas`` closure, each point
  batch finds its probes by ``searchsorted`` on its cell, computes the
  squared distances and keeps, per probe, the rows within its batch-local
  kth distance (ties included); a window top-k over those few rows orders
  (d, point_id) exactly, and its n_probes x k rows come back over Arrow.
"""

from __future__ import annotations

from typing import Callable, Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
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


def _cover_rows(zone_ids, bboxes, zoom: int) -> tuple[np.ndarray, np.ndarray]:
    """(zone_id, cell) cover rows of zones with bboxes (x0, y0, x1, y1):
    one vectorized ``cover_bbox_cells`` call, stably ordered by zone, so the
    rows come out zone by zone exactly as one call per zone gives them."""
    ids = np.asarray(zone_ids, dtype=object)
    if len(ids) == 0:
        return ids, np.empty(0, dtype=np.int64)
    b = np.asarray(bboxes, dtype=np.float64).reshape(-1, 4)
    ridx, cells = C.cover_bbox_cells(b[:, 0], b[:, 1], b[:, 2], b[:, 3], zoom)
    order = np.argsort(ridx, kind="stable")
    return ids[ridx[order]], cells[order]


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
    """Pick the cell-cover zoom from the zones' sizes: cell width ~ the
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


def _refine_by_zone(pdf: pd.DataFrame,
                    geom_at: Callable[[object, int], tuple]) -> pd.DataFrame:
    """The exact PIP refine of one candidate batch: group the rows by
    ``zone_id`` once (factorize + stable argsort), run the ray-casting
    kernel on each zone's contiguous slice, keep the hits in batch order.
    ``geom_at(zone_id, row)`` gives the zone's geometry, ``row`` being the
    position of the zone's first candidate in the batch."""
    codes, uniq = pd.factorize(pdf["zone_id"], use_na_sentinel=False)
    order = np.argsort(codes, kind="stable")
    starts = np.flatnonzero(np.diff(codes[order], prepend=-1))
    ends = np.append(starts[1:], len(order))
    px = pdf["lng"].to_numpy(dtype=np.float64)[order]
    py = pdf["lat"].to_numpy(dtype=np.float64)[order]
    hit = np.empty(len(order), dtype=bool)
    for s, e in zip(starts.tolist(), ends.tolist()):
        first = int(order[s])
        hit[s:e] = PIPK.points_in_geom(
            px[s:e], py[s:e], geom_at(uniq[codes[first]], first))
    keep = np.empty(len(order), dtype=bool)
    keep[order] = hit
    return pdf[keep][_PIP_COLS]


def point_in_polygon_join(points: DataFrame, zones: DataFrame,
                          point_id: str = "point_id", lng: str = "lng",
                          lat: str = "lat", zone_id: str = "zone_id",
                          zone_wkb: str = "zone_wkb",
                          zoom: int | str = "auto",
                          broadcast_zones: bool = True) -> DataFrame:
    """Exact PIP join -> (point_id, lng, lat, zone_id). ``zoom='auto'``
    (default) sizes the cell grid to the zones (see auto_cover_zoom).

    Not fully lazy: with ``broadcast_zones`` (the default) the call
    collects the zone table (one Spark job) to build the cell cover and the
    refine's geometries; with ``broadcast_zones=False`` and
    ``zoom='auto'`` it collects a sample of the zones to pick the zoom.
    The point side stays lazy until the returned frame runs."""
    geoms = None
    if broadcast_zones:
        # the broadcastable-zones path collects the zone table anyway (the
        # refine kernel needs every polygon on every executor) — so build
        # the cell cover driver-side from that ONE collect instead of
        # paying a mapInPandas job for it plus a second collect (round 7;
        # guide §1.2). The cover rows are identical to polygon_cell_cover.
        zrows = zones.select(zone_id, zone_wkb).collect()
        geoms = {r[0]: G.from_wkb(bytes(r[1])) for r in zrows}
        bboxes = [G.bbox(g) for g in geoms.values()]
        if zoom == "auto":
            zoom = _cover_zoom(bboxes[:512])
        ids, cells = _cover_rows(list(geoms), bboxes, zoom)
        cover = F.broadcast(points.sparkSession.createDataFrame(
            pd.DataFrame({"zone_id": pd.Series(ids, dtype=object),
                          "cell": pd.Series(cells, dtype=np.int64)}),
            schema="zone_id string, cell long"))
    else:
        if zoom == "auto":
            zoom = auto_cover_zoom(zones, zone_wkb)
        cover = polygon_cell_cover(zones, zone_wkb, zone_id, zoom)
    # under-partitioned point input (one unsplittable file) would serialize
    # the candidate join AND the ray-cast refine on one core (guide §2.5)
    pts = C.with_cell_column(
        spread_small_input(points.select(point_id, lng, lat)), lng, lat, zoom)
    cand = pts.join(cover, "cell").select(point_id, lng, lat, "zone_id")

    schema = StructType(
        [
            StructField("point_id", LongType()),
            StructField("lng", DoubleType()),
            StructField("lat", DoubleType()),
            StructField("zone_id", StringType()),
        ]
    )

    if geoms is not None:

        def refine(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            for pdf in batches:
                yield _refine_by_zone(pdf, lambda zid, _row: geoms[zid])

        cand = cand.select(
            F.col(point_id).alias("point_id").cast("long"),
            F.col(lng).alias("lng"),
            F.col(lat).alias("lat"),
            "zone_id",
        )
        return cand.mapInPandas(refine, schema=schema)

    # non-broadcast path: join the wkb back per candidate (zones too large to
    # broadcast), refine per (zone) group within partitions
    cand2 = cand.join(zones.select(zone_id, zone_wkb), "zone_id")

    def refine2(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cache: dict = {}
        for pdf in batches:
            wkbs = pdf[zone_wkb]

            def geom_at(zid, row):
                g = cache.get(zid)
                if g is None:
                    g = cache[zid] = G.from_wkb(bytes(wkbs.iloc[row]))
                return g

            yield _refine_by_zone(pdf, geom_at)

    cand2 = cand2.select(
        F.col(point_id).alias("point_id").cast("long"),
        F.col(lng).alias("lng"), F.col(lat).alias("lat"), "zone_id", zone_wkb,
    )
    return cand2.mapInPandas(refine2, schema=schema)


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


def _ring_candidates(pair_probe: np.ndarray, pair_cell: np.ndarray,
                     p_ids: np.ndarray, p_lng: np.ndarray, p_lat: np.ndarray,
                     k: int):
    """mapInPandas body of one kNN round over (point_id, lng, lat, cell)
    batches -> (probe_id, point_id, d) rows. Each point meets the probes
    whose disk holds its cell (``searchsorted`` over the cell-sorted
    pairs); ``d`` is ``dx*dx + dy*dy``, the same IEEE operations as the
    Catalyst expression it replaces. Per probe, a batch keeps the rows
    with ``d`` up to its own kth smallest ``d`` (ties included), a
    superset of that batch's share of the global (d, point_id) top-k, so
    the exact tie-break on point_id stays with Spark for any id type."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            cell = pdf["cell"].to_numpy(dtype=np.int64)
            lo = np.searchsorted(pair_cell, cell, "left")
            cnt = np.searchsorted(pair_cell, cell, "right") - lo
            total = int(cnt.sum())
            if total == 0:
                continue
            row = np.repeat(np.arange(len(cell)), cnt)
            pair = (np.arange(total) - np.repeat(np.cumsum(cnt) - cnt, cnt)
                    + np.repeat(lo, cnt))
            probe = pair_probe[pair]
            dx = pdf["lng"].to_numpy(dtype=np.float64)[row] - p_lng[probe]
            dy = pdf["lat"].to_numpy(dtype=np.float64)[row] - p_lat[probe]
            d = dx * dx + dy * dy
            order = np.lexsort((d, probe))
            grp = probe[order]
            starts = np.flatnonzero(np.diff(grp, prepend=-1))
            sizes = np.diff(np.append(starts, total))
            kth = d[order][starts + np.minimum(sizes, k) - 1]
            # "not above" rather than "<=": a NaN distance stays a candidate
            sel = order[~(d[order] > np.repeat(kth, sizes))]
            yield pd.DataFrame({
                "probe_id": p_ids[probe[sel]],
                "point_id": pdf["point_id"].to_numpy()[row[sel]],
                "d": d[sel],
            })

    return run


def knn_join(points: DataFrame, probes: DataFrame, k: int,
             point_id: str = "point_id", probe_id: str = "probe_id",
             zoom: int = 7, max_radius: int = 64) -> DataFrame:
    """k nearest points per probe via iterative grid-disk expansion.

    points: (point_id, lng, lat); probes: (probe_id, lng, lat).
    Returns (probe_id, rnk, point_id, dist). Distance is squared-degree
    euclidean (matching the brute-force oracle).

    Not lazy: the call collects the probes (at most
    ``KNN_DRIVER_MAX_PROBES``) and runs every round as Spark jobs before
    it returns — a pass over the cached, cell-indexed points, a window
    top-k and an Arrow collect of its n_probes x k rows; the result is a
    local frame over the last round's rows.

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
    pts = C.with_cell_column(
        spread_small_input(
            points.select(F.col(point_id).alias("point_id"), "lng", "lat")),
        "lng", "lat", zoom,
    ).where(F.col("cell").isNotNull()).cache()
    cand_schema = StructType([
        StructField("probe_id", LongType()),
        StructField("point_id", pts.schema["point_id"].dataType),
        StructField("d", DoubleType()),
    ])
    w = Window.partitionBy("probe_id").orderBy(F.asc("d"), F.asc("point_id"))
    # r starts at 2, not 1 (round 7): the done-bound at radius r is
    # ((r-1)*min_cell_h)^2, which is 0.0 at r=1 — that round can only
    # resolve when the kth distance is exactly 0, and in that case the
    # r=2 top-k is the identical row set (disk(2) contains disk(1) and the
    # ordering tie-breaks on point_id). Starting at 2 removes one full
    # Spark round from every call; max_radius=1 still searches radius 1
    # only, and no round searches past max_radius.
    r = min(2, max_radius)
    try:
        while True:
            pair_probe, pair_cell = _disk_pairs(p_cell, r, zoom)
            topk = (
                pts.mapInPandas(_ring_candidates(pair_probe, pair_cell, p_ids,
                                                 p_lng, p_lat, k),
                                schema=cand_schema)
                .withColumn("rnk", F.row_number().over(w))
                .where(F.col("rnk") <= k)
                .select("probe_id", "rnk", "point_id", F.col("d").alias("dist"))
            )
            # ONE Arrow collect per round: the top-k rows themselves are the
            # (n_probes x k)-bounded driver payload this variant accepts, and
            # the resolve stats (count, kth distance) fold out of them
            rows = topk.toPandas()
            bound = ((r - 1) * min_cell_h) ** 2
            stats = rows.groupby("probe_id")["dist"].agg(["size", "max"])
            stats = stats.reindex(p_ids)
            done = bool(((stats["size"] >= k) & (stats["max"] <= bound)).all())
            if done or r >= max_radius:
                # built from pandas over Arrow: a LocalRelation, not an RDD
                # of pickled rows
                return spark.createDataFrame(rows, schema=topk.schema)
            r = min(2 * r, max_radius)
    finally:
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

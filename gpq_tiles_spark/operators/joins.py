"""Spatial joins: point-in-polygon and kNN via cell-ring expansion.

[north-star extensions — cite: BASELINE.json north_star "point-in-polygon
joins, kNN via cell-ring expansion"]. Both are cell-index prefilter +
exact-refine patterns:

* PIP: polygons are covered with grid cells (one row per (cell, zone)),
  points carry their cell as a Catalyst expression column; the equi-join on
  the int64 cell column prunes the candidate space, then a vectorized
  ray-casting kernel refines each (zone, [points]) group. Small polygon
  sides are broadcast — no shuffle of the point table beyond the cell join.
* kNN: probes expand grid disks r=0,1,... joining the indexed points per
  round until the kth neighbor distance is provably within the ring bound;
  final top-k by window.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BooleanType,
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from ..kernels import geom as G
from ..kernels import pip as PIPK
from ..partitioning import spread_small_input
from . import cells as C


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
            ids, cells_out = [], []
            for zid, wkb in zip(pdf[id_col], pdf[wkb_col]):
                g = G.from_wkb(bytes(wkb))
                x0, y0, x1, y1 = G.bbox(g)
                _, cc = C.cover_bbox_cells([x0], [y0], [x1], [y1], zoom)
                ids.extend([zid] * len(cc))
                cells_out.extend(cc.tolist())
            yield pd.DataFrame({"zone_id": ids, "cell": cells_out})

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


def point_in_polygon_join(points: DataFrame, zones: DataFrame,
                          point_id: str = "point_id", lng: str = "lng",
                          lat: str = "lat", zone_id: str = "zone_id",
                          zone_wkb: str = "zone_wkb",
                          zoom: int | str = "auto",
                          broadcast_zones: bool = True) -> DataFrame:
    """Exact PIP join -> (point_id, lng, lat, zone_id). ``zoom='auto'``
    (default) sizes the cell grid to the zones (see auto_cover_zoom)."""
    geoms = None
    if broadcast_zones:
        # the broadcastable-zones path collects the zone table anyway (the
        # refine kernel needs every polygon on every executor) — so build
        # the cell cover driver-side from that ONE collect instead of
        # paying a mapInPandas job for it plus a second collect (round 7;
        # guide §1.2). The cover rows are identical to polygon_cell_cover.
        zrows = zones.select(zone_id, zone_wkb).collect()
        geoms = {r[0]: G.from_wkb(bytes(r[1])) for r in zrows}
        bboxes = {k: G.bbox(g) for k, g in geoms.items()}
        if zoom == "auto":
            zoom = _cover_zoom(list(bboxes.values())[:512])
        ids, cells_out = [], []
        for zid, (x0, y0, x1, y1) in bboxes.items():
            _, cc = C.cover_bbox_cells([x0], [y0], [x1], [y1], zoom)
            ids.extend([zid] * len(cc))
            cells_out.extend(cc.tolist())
        cover = F.broadcast(points.sparkSession.createDataFrame(
            pd.DataFrame({"zone_id": pd.Series(ids, dtype=object),
                          "cell": pd.Series(cells_out, dtype=np.int64)}),
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
                keep = np.zeros(len(pdf), dtype=bool)
                px = pdf["lng"].to_numpy(dtype=np.float64)
                py = pdf["lat"].to_numpy(dtype=np.float64)
                zarr = pdf["zone_id"].to_numpy()
                for zid in pd.unique(zarr):
                    m = zarr == zid
                    keep[m] = PIPK.points_in_geom(px[m], py[m], geoms[zid])
                out = pdf[keep]
                yield out[["point_id", "lng", "lat", "zone_id"]]

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
        cache: dict[str, tuple] = {}
        for pdf in batches:
            keep = np.zeros(len(pdf), dtype=bool)
            px = pdf["lng"].to_numpy(dtype=np.float64)
            py = pdf["lat"].to_numpy(dtype=np.float64)
            zarr = pdf["zone_id"].to_numpy()
            for zid in pd.unique(zarr):
                m = zarr == zid
                g = cache.get(zid)
                if g is None:
                    g = cache[zid] = G.from_wkb(bytes(pdf[zone_wkb][m].iloc[0]))
                keep[m] = PIPK.points_in_geom(px[m], py[m], g)
            out = pdf[keep]
            yield out[["point_id", "lng", "lat", "zone_id"]]

    cand2 = cand2.select(
        F.col(point_id).alias("point_id").cast("long"),
        F.col(lng).alias("lng"), F.col(lat).alias("lat"), "zone_id", zone_wkb,
    )
    return cand2.mapInPandas(refine2, schema=schema)


# knn_join collect()s the probe side: refuse above this count and point at
# the distributed variant (mirrors similarity.EXACT_PAIRS_MAX_ROWS).
KNN_DRIVER_MAX_PROBES = 10_000


def knn_join(points: DataFrame, probes: DataFrame, k: int,
             point_id: str = "point_id", probe_id: str = "probe_id",
             zoom: int = 7, max_radius: int = 64) -> DataFrame:
    """k nearest points per probe via iterative grid-disk expansion.

    points: (point_id, lng, lat); probes: (probe_id, lng, lat).
    Returns (probe_id, rnk, point_id, dist). Distance is squared-degree
    euclidean (matching the brute-force oracle).

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
    pts = C.with_cell_column(
        spread_small_input(
            points.select(F.col(point_id).alias("point_id"), "lng", "lat")),
        "lng", "lat", zoom,
    ).cache()
    p_ids = [r[0] for r in probe_rows]
    p_lng = np.array([r[1] for r in probe_rows])
    p_lat = np.array([r[2] for r in probe_rows])
    p_cell = C.latlng_to_cell(p_lng, p_lat, zoom)

    cell_w = 360.0 / (1 << zoom)
    # min cell height across the probe latitudes' neighborhood (conservative)
    import numpy as _np

    from ..kernels import tile_math as T

    _, py = T.lng_lat_to_tile_xy(p_lng, p_lat, zoom)
    _, lat_min_c, _, lat_max_c = T.tile_bounds(_np.zeros_like(py), py, zoom)
    min_cell_h = float(np.minimum(np.abs(lat_max_c - lat_min_c), cell_w).min())

    spark = points.sparkSession
    # r starts at 2, not 1 (round 7): the done-bound at radius r is
    # ((r-1)*min_cell_h)^2, which is 0.0 at r=1 — that round can only
    # resolve when the kth distance is exactly 0, and in that case the
    # r=2 top-k is the identical row set (disk(2) contains disk(1) and the
    # ordering tie-breaks on point_id). Starting at 2 removes one full
    # join+window+collect Spark round from every call; max_radius=1 still
    # searches radius 1 only, and no round searches past max_radius.
    r = min(2, max_radius)
    while True:
        idx, cells = C.grid_disk(p_cell, r, zoom)
        cand_cells = spark.createDataFrame(
            [(int(p_ids[i]) if isinstance(p_ids[i], (int, np.integer)) else p_ids[i],
              float(p_lng[i]), float(p_lat[i]), int(c))
             for i, c in zip(idx.tolist(), cells.tolist())],
            schema="probe_id long, probe_lng double, probe_lat double, cell long",
        ).dropDuplicates(["probe_id", "cell"])
        joined = F.broadcast(cand_cells).join(pts, "cell")
        dist = (
            (F.col("lng") - F.col("probe_lng")) * (F.col("lng") - F.col("probe_lng"))
            + (F.col("lat") - F.col("probe_lat")) * (F.col("lat") - F.col("probe_lat"))
        )
        w = Window.partitionBy("probe_id").orderBy(F.asc("d"), F.asc("point_id"))
        topk = (
            joined.withColumn("d", dist)
            .withColumn("rnk", F.row_number().over(w))
            .where(F.col("rnk") <= k)
            .select("probe_id", "rnk", "point_id", F.col("d").alias("dist"))
        )
        # ONE collect per round: the top-k rows themselves are the
        # (n_probes x k)-bounded driver payload this variant already
        # accepts, and the resolve stats (count, kth distance) fold out of
        # them driver-side — the separate stats aggregation job is gone
        # (round 7; guide §1.2). Collecting here also releases the points
        # cache as soon as the last round finishes.
        rows = topk.collect()
        bound = ((r - 1) * min_cell_h) ** 2
        cnt: dict = {}
        kth: dict = {}
        for row in rows:
            p = row["probe_id"]
            cnt[p] = cnt.get(p, 0) + 1
            d = row["dist"]
            if p not in kth or d > kth[p]:
                kth[p] = d
        done = all(
            cnt.get(pid, 0) >= k and kth[pid] <= bound
            for pid in (int(p) if isinstance(p, np.integer) else p for p in p_ids)
        )
        if done or r >= max_radius:
            pts.unpersist()
            return spark.createDataFrame(rows, schema=topk.schema)
        r = min(2 * r, max_radius)


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
                idx, cells = C.grid_disk(cell, r, zoom)
                # pole clamping / antimeridian wrap can alias disk cells:
                # dedupe (probe, cell) pairs or the join would duplicate points
                order = np.lexsort((cells, idx))
                idx, cells = idx[order], cells[order]
                keep = np.empty(len(idx), dtype=bool)
                keep[0] = True
                keep[1:] = (idx[1:] != idx[:-1]) | (cells[1:] != cells[:-1])
                idx, cells = idx[keep], cells[keep]
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

"""Cell indexing: XYZ-tile-grid cells with ring expansion (H3/S2-style API).

[north-star extension — cite: BASELINE.json "batched H3/S2 cell encoding",
"kNN via cell-ring expansion"]. The h3 library is not present in this
environment (gated import below); the engine's native cell scheme is the
Web-Mercator tile grid at a fixed zoom, which gives the same algebra H3/S2
provide — point->cell, cell->neighbors, k-rings — with trivially exact
antimeridian wraparound and a direct correspondence to the tiling pyramid.

A cell id packs (x << 32 | y) for a fixed zoom. Ring/disk expansion is pure
numpy; the Spark side only ever joins on the int64 cell column.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructField, StructType

from ..kernels import tile_math as T

try:  # pragma: no cover - optional accelerator, absent in this environment
    import h3  # noqa: F401

    HAS_H3 = True
except ImportError:
    HAS_H3 = False


def pack_cell(x: np.ndarray, y: np.ndarray) -> np.ndarray:
    return (np.asarray(x, dtype=np.int64) << np.int64(32)) | np.asarray(y, dtype=np.int64)


def unpack_cell(cell: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    c = np.asarray(cell, dtype=np.int64)
    return c >> np.int64(32), c & np.int64(0xFFFFFFFF)


def latlng_to_cell(lng: np.ndarray, lat: np.ndarray, zoom: int) -> np.ndarray:
    x, y = T.lng_lat_to_tile_xy(lng, lat, zoom)
    n_max = (1 << zoom) - 1
    return pack_cell(np.clip(x, 0, n_max), np.clip(y, 0, n_max))


def latlng_to_sql_cell(lng: np.ndarray, lat: np.ndarray, zoom: int,
                       lng_null: np.ndarray, lat_null: np.ndarray) -> np.ndarray:
    """The ``cell_sql`` column's value, in numpy, for every input:
    ``latlng_to_cell`` where the two agree (NaN and infinite coordinates
    included), and row or column ``2^zoom - 1`` where ``cell_sql`` meets a
    null. Its ``least``/``greatest`` clamp skips nulls, so a null
    coordinate (``lng_null``/``lat_null``: pandas reads it as NaN) and a
    latitude whose ``ln(tan + sec)`` argument is negative (cosine below
    zero: beyond +-90 degrees) land on the last column or row."""
    x, y = unpack_cell(latlng_to_cell(lng, lat, zoom))
    n_max = (1 << zoom) - 1
    far = np.flatnonzero(np.abs(lat) > 90.0)
    with np.errstate(invalid="ignore"):
        far = far[np.cos(np.deg2rad(lat[far])) < 0.0]
    y[far] = n_max
    return pack_cell(np.where(lng_null, n_max, x), np.where(lat_null, n_max, y))


def cell_sql(lng_expr: str, lat_expr: str, zoom: int) -> str:
    """Catalyst/DuckDB-shared SQL for latlng_to_cell (codegen path for the
    10^12-point case — no Python)."""
    from ..functions.spatial_sql import tile_x_sql, tile_y_sql

    n_max = (1 << zoom) - 1
    x = f"greatest(least({tile_x_sql(lng_expr, zoom)}, {n_max}), 0)"
    y = f"greatest(least({tile_y_sql(lat_expr, zoom)}, {n_max}), 0)"
    return f"(({x}) * 4294967296 + ({y}))"


def grid_disk(cells: np.ndarray, k: int, zoom: int) -> tuple[np.ndarray, np.ndarray]:
    """All cells within Chebyshev distance k (the (2k+1)^2 block), with x
    wraparound at the antimeridian and y clamped at the poles.

    Returns (orig_idx, neighbor_cell) flat arrays.
    """
    x, y = unpack_cell(cells)
    n = 1 << zoom
    offs = np.arange(-k, k + 1, dtype=np.int64)
    dx, dy = np.meshgrid(offs, offs, indexing="ij")
    dx = dx.ravel()
    dy = dy.ravel()
    m = len(dx)
    idx = np.repeat(np.arange(len(x), dtype=np.int64), m)
    nx = (np.repeat(x, m) + np.tile(dx, len(x))) % n  # wrap antimeridian
    ny = np.repeat(y, m) + np.tile(dy, len(y))
    ok = (ny >= 0) & (ny < n)
    return idx[ok], pack_cell(nx[ok], ny[ok])


def grid_ring(cells: np.ndarray, k: int, zoom: int) -> tuple[np.ndarray, np.ndarray]:
    """Cells at exactly Chebyshev distance k (hollow ring)."""
    if k == 0:
        return np.arange(len(cells), dtype=np.int64), np.asarray(cells, dtype=np.int64)
    idx_d, cells_d = grid_disk(cells, k, zoom)
    idx_i, cells_i = grid_disk(cells, k - 1, zoom)
    # ring = disk(k) minus disk(k-1), per origin
    inner = set(zip(idx_i.tolist(), cells_i.tolist()))
    keep = np.fromiter(
        ((i, c) not in inner for i, c in zip(idx_d.tolist(), cells_d.tolist())),
        dtype=bool,
        count=len(idx_d),
    )
    return idx_d[keep], cells_d[keep]


def with_cell_column(df: DataFrame, lng_col: str, lat_col: str, zoom: int,
                     out_col: str = "cell") -> DataFrame:
    """Attach the cell id as a Catalyst expression column (JVM codegen)."""
    return df.withColumn(out_col, F.expr(cell_sql(lng_col, lat_col, zoom)))


def cover_bbox_cells(lng_min, lat_min, lng_max, lat_max, zoom: int):
    """All cells intersecting a bbox (vectorized over rows) ->
    (row_idx, cell)."""
    x0a, x1a, x0b, x1b, y0, y1 = T.tile_ranges_for_bbox(
        np.asarray(lng_min, dtype=np.float64),
        np.asarray(lat_min, dtype=np.float64),
        np.asarray(lng_max, dtype=np.float64),
        np.asarray(lat_max, dtype=np.float64),
        zoom,
    )
    n_rows = len(x0a)
    ridx, xs, ys = T.explode_tile_ranges(
        np.concatenate([x0a, x0b]),
        np.concatenate([x1a, x1b]),
        np.concatenate([y0, y0]),
        np.concatenate([y1, y1]),
    )
    n_max = (1 << zoom) - 1
    xs = np.clip(xs, 0, n_max)
    ys = np.clip(ys, 0, n_max)
    return ridx % n_rows, pack_cell(xs, ys)


# ---------------------------------------------------------------------------
# Real H3 path (T21): active whenever the `h3` package is installed
# ---------------------------------------------------------------------------
#
# The tile-grid scheme above is the engine's native cell algebra and is what
# the oracle-green kNN/PIP operators run on. Its semantics differ from true
# H3 in documented ways (see COVERAGE.md "H3/S2 cells"): square Chebyshev
# neighborhoods instead of hexagonal k-rings, exact antimeridian wraparound
# instead of icosahedron faces, and no pentagon special cases. When the h3
# lib is present the adapters below expose the SAME (idx, cell) API over
# real H3 indexes so cell-join operators can swap schemes; both h3 v3
# (geo_to_h3/k_ring) and v4 (latlng_to_cell/grid_disk) names are handled.


def _h3_funcs():
    if not HAS_H3:
        raise NotImplementedError(
            "the 'h3' package is not installed — pip install h3, or use the "
            "native tile-grid cells (latlng_to_cell/grid_disk)"
        )
    import h3 as _h3

    if hasattr(_h3, "latlng_to_cell"):  # v4 string api
        to_cell = _h3.latlng_to_cell
        disk = _h3.grid_disk
        to_int = _h3.str_to_int if hasattr(_h3, "str_to_int") else int
    else:  # v3 api
        to_cell = _h3.geo_to_h3
        disk = _h3.k_ring
        to_int = (_h3.string_to_h3 if hasattr(_h3, "string_to_h3")
                  else lambda s: int(s, 16))
    return to_cell, disk, to_int


def latlng_to_h3_cell(lng: np.ndarray, lat: np.ndarray, res: int) -> np.ndarray:
    """(lng, lat) arrays -> int64 H3 cell indexes at ``res`` (requires h3).

    H3 cell ints fit in 63 bits (mode/res/base-cell bit fields), so the
    int64 reinterpretation is lossless and joins on the same LongType cell
    column the tile-grid scheme uses."""
    to_cell, _disk, to_int = _h3_funcs()
    lng = np.asarray(lng, dtype=np.float64)
    lat = np.asarray(lat, dtype=np.float64)
    out = np.fromiter(
        (to_int(to_cell(la, lo, res)) for lo, la in zip(lng, lat)),
        dtype=np.uint64, count=len(lng),
    )
    return out.astype(np.int64)


def h3_grid_disk(cells: np.ndarray, k: int) -> tuple[np.ndarray, np.ndarray]:
    """All H3 cells within grid distance k of each input cell ->
    (input_row_idx, cell) pairs — the same contract as ``grid_disk`` so
    ring-expansion joins (kNN candidate generation) are scheme-agnostic.
    Unlike the square grid's fixed (2k+1)^2 fan-out, hex disks hold
    1+3k(k+1) cells (fewer near pentagons, which h3 handles internally)."""
    to_cell, disk, to_int = _h3_funcs()
    import h3 as _h3

    from_int = (_h3.int_to_str if hasattr(_h3, "int_to_str")
                else (_h3.h3_to_string if hasattr(_h3, "h3_to_string")
                      else lambda v: v))
    idx_out: list[int] = []
    cell_out: list[int] = []
    for i, c in enumerate(np.asarray(cells, dtype=np.int64)):
        ring = disk(from_int(np.uint64(c).item()), k)
        for r in ring:
            idx_out.append(i)
            cell_out.append(to_int(r) if isinstance(r, str) else int(r))
    return (np.asarray(idx_out, dtype=np.int64),
            np.asarray(cell_out, dtype=np.uint64).astype(np.int64))


def with_h3_cell_column(df: DataFrame, lng_col: str, lat_col: str, res: int,
                        out_col: str = "cell") -> DataFrame:
    """Attach the real-H3 cell index via an Arrow-batched pandas iterator
    (h3 is a C scalar call; there is no Catalyst twin for it)."""
    if not HAS_H3:
        raise NotImplementedError(
            "the 'h3' package is not installed — use with_cell_column for "
            "the native tile-grid scheme"
        )
    schema = StructType(
        df.schema.fields + [StructField(out_col, LongType(), False)]
    )

    def attach(batches):
        for pdf in batches:
            pdf[out_col] = latlng_to_h3_cell(
                pdf[lng_col].to_numpy(), pdf[lat_col].to_numpy(), res
            )
            yield pdf

    return df.mapInPandas(attach, schema=schema)

"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of ``(size, seed)``: the same seed gives
byte-identical inputs. They write Parquet (or return numpy arrays) and know
nothing about the engine beyond its public input schemas.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from gpq_tiles_spark import fixtures

POLYGON = 3  # WKB / kernels.geom type code

FEATURES_SCHEMA = pa.schema([
    ("feature_id", pa.int64()),
    ("doc_id", pa.string()),
    ("span_offset", pa.int32()),
    ("wkb", pa.binary()),
    ("geom_type", pa.int32()),
    ("lng_min", pa.float64()),
    ("lat_min", pa.float64()),
    ("lng_max", pa.float64()),
    ("lat_max", pa.float64()),
])


def _polygon_wkbs(xs: np.ndarray, ys: np.ndarray, starts: np.ndarray,
                  counts: np.ndarray) -> list[bytes]:
    """One-ring little-endian WKB polygons, each ring closed by repeating
    its first vertex."""
    out = []
    for s, n in zip(starts.tolist(), counts.tolist()):
        ring = np.empty((n + 1, 2), dtype="<f8")
        ring[:n, 0] = xs[s:s + n]
        ring[:n, 1] = ys[s:s + n]
        ring[n] = ring[0]
        out.append(b"\x01" + np.array([POLYGON, 1, n + 1], dtype="<u4").tobytes()
                   + ring.tobytes())
    return out


def adm4_polygons(n: int, seed: int) -> pa.Table:
    """ADM4-like features: 450-650-vertex star-simple rings (harmonic radius
    wiggle plus noise, so always valid and non-convex) scattered over a
    Netherlands-sized box. Schema matches ``extract.FEATURES_SCHEMA``."""
    rng = np.random.default_rng([seed, 4])
    cx = 3.3 + rng.uniform(0, 3.5, n)
    cy = 50.7 + rng.uniform(0, 3.0, n)
    w = rng.uniform(0.001, 0.02, n)
    h = rng.uniform(0.001, 0.02, n)
    vs = rng.integers(450, 651, n)
    total = int(vs.sum())
    starts = np.concatenate(([0], np.cumsum(vs)[:-1]))
    # angles: positive increments, normalised per ring to one full turn
    dt = rng.uniform(0.2, 1.8, total)
    cs = np.cumsum(dt)
    cs -= np.repeat(cs[starts] - dt[starts], vs)
    theta = 2.0 * np.pi * cs / np.repeat(np.add.reduceat(dt, starts), vs)
    p = rng.uniform(0, 2 * np.pi, (3, n))
    r = (1.0
         + 0.18 * np.sin(3 * theta + np.repeat(p[0], vs))
         + 0.12 * np.sin(7 * theta + np.repeat(p[1], vs))
         + 0.07 * np.sin(17 * theta + np.repeat(p[2], vs))
         + rng.normal(0.0, 0.03, total))
    np.clip(r, 0.35, None, out=r)
    xs = np.repeat(cx, vs) + np.repeat(w, vs) * r * np.cos(theta)
    ys = np.repeat(cy, vs) + np.repeat(h, vs) * r * np.sin(theta)
    ids = np.arange(n, dtype=np.int64)
    return pa.table({
        "feature_id": ids,
        "doc_id": pa.array([f"adm4-{i}" for i in range(n)]),
        "span_offset": np.zeros(n, dtype=np.int32),
        "wkb": pa.array(_polygon_wkbs(xs, ys, starts, vs), type=pa.binary()),
        "geom_type": np.full(n, POLYGON, dtype=np.int32),
        "lng_min": np.minimum.reduceat(xs, starts),
        "lat_min": np.minimum.reduceat(ys, starts),
        "lng_max": np.maximum.reduceat(xs, starts),
        "lat_max": np.maximum.reduceat(ys, starts),
    }, schema=FEATURES_SCHEMA)


# one fixture corpus for every seed: at a few hundred documents the corpus's
# geometry mix (its few admin polygons make most of the tiles) varies so
# much with the fixture seed that conversion time spread 0.2 IQR/median
# over five seeds; the seed permutes the documents and renames them instead
CORPUS_SEED = 2


def documents(n_docs: int, seed: int) -> pa.Table:
    """Interleaved text/media/geo documents: the engine's own fixture corpus
    (``fixtures.generate_documents``) in a seeded order under seeded
    document ids, which also reseeds the hashed feature ids."""
    t = fixtures.generate_documents(n_docs, seed=CORPUS_SEED)
    perm = np.random.default_rng([seed, 5]).permutation(n_docs)
    t = t.take(pa.array(perm))
    ids = [f"s{seed}-{d}" for d in t.column("doc_id").to_pylist()]
    return t.set_column(0, "doc_id", pa.array(ids, type=pa.string()))


def zones(n_zones: int) -> pa.Table:
    """Axis-aligned grid zones over the three fixture cities, as WKB."""
    from gpq_tiles_spark.kernels import geom as G

    t = fixtures.generate_zones(n_zones)
    wkbs = [G.to_wkb(G.from_wkt(w)) for w in t.column("zone_wkt").to_pylist()]
    return pa.table({"zone_id": t.column("zone_id"),
                     "zone_wkb": pa.array(wkbs, type=pa.binary())})


def zone_boxes(table: pa.Table) -> np.ndarray:
    """(n, 4) array of x0, y0, x1, y1 per zone, in table order."""
    from gpq_tiles_spark.kernels import geom as G

    return np.array([G.bbox(G.from_wkb(w))
                     for w in table.column("zone_wkb").to_pylist()])


def clustered_points(n: int, seed: int, salt: int = 0,
                     sigma: float = 0.3) -> pa.Table:
    """Points clustered on the three fixture cities (a Gaussian blob each,
    ``sigma`` degrees), ids 0..n-1."""
    rng = np.random.default_rng([seed, 7, salt])
    city = rng.integers(0, len(fixtures.CITIES), n)
    centers = np.array(fixtures.CITIES, dtype=np.float64)[city]
    lng = centers[:, 0] + rng.normal(0.0, sigma, n)
    lat = centers[:, 1] + rng.normal(0.0, sigma, n)
    return pa.table({"point_id": np.arange(n, dtype=np.int64),
                     "lng": lng, "lat": lat})


def probes(n: int, seed: int) -> pa.Table:
    """kNN probe points: the city cores (sigma 0.05 degrees), where the
    points are dense; an independent stream."""
    t = clustered_points(n, seed, salt=1, sigma=0.05)
    return t.rename_columns(["probe_id", "lng", "lat"])


def write(table: pa.Table, path: str, row_group_size: int) -> None:
    pq.write_table(table, path, row_group_size=row_group_size)

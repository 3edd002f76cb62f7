#!/usr/bin/env python
"""Salted against unsalted tiling on a low-zoom mega-tile input.

    PYTHONPATH=. python scripts/measure_megatile.py --work /tmp/mega \\
        [--points 2000000] [--pairs 5] [--max-tile-bytes 500000] \\
        [--cores 4] [--partitions 8] [--seed 1]

Writes ``--points`` seeded points, uniform inside one z6 tile (clear of
its buffered edges, so every zoom 0-6 holds them all in one tile), into
``--partitions`` parquet files under ``--work`` (reused when asked for
again), read back as one partition per file. One ``local[--cores]``
session then runs ``convert_sharded`` z0-6 gzip on them with
``salted=True`` and ``salted=False``: one warm-up run per side, then
``--pairs`` pairs, the side that runs first alternating. At the default
``hot_tile_threshold`` every tile of this input is hot, so the salted
runs take the two-phase bucket encode.

Prints the hot-tile count, one JSON line per run (wall time, tiles,
SHA-256 of the archive) and a summary line: medians per side, the pairs
the salted side won and whether every archive has the same SHA-256.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import statistics
import time

import numpy as np

ZOOM = 6
TILE_X, TILE_Y = 33, 21  # a z6 tile over central Europe


def write_points(work: str, n: int, partitions: int, seed: int) -> str:
    """``n`` point features (the extract's feature schema) inside one z6
    tile, as ``partitions`` parquet files; returns their directory."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from gpq_tiles_spark.kernels import tile_math as T

    path = os.path.join(work, f"points_{n}_{partitions}_{seed}")
    done = os.path.join(path, "_DONE")  # Spark skips "_" files
    if os.path.exists(done):
        return path
    os.makedirs(path, exist_ok=True)
    b = T.tile_bounds(np.array([TILE_X]), np.array([TILE_Y]), ZOOM)
    lng0, lat0, lng1, lat1 = (float(v[0]) for v in b)
    # keep 10% of the tile's width clear of each edge: far outside the
    # 8/4096 buffer, so no point reaches a neighbouring tile at any zoom
    dx, dy = (lng1 - lng0) * 0.1, (lat1 - lat0) * 0.1
    rng = np.random.default_rng(seed)
    lng = rng.uniform(lng0 + dx, lng1 - dx, n)
    lat = rng.uniform(lat0 + dy, lat1 - dy, n)
    wkb = np.zeros(n, dtype=[("order", "u1"), ("type", "<u4"),
                             ("x", "<f8"), ("y", "<f8")])
    wkb["order"], wkb["type"], wkb["x"], wkb["y"] = 1, 1, lng, lat
    size = wkb.dtype.itemsize
    # distinct 63-bit ids spread like hashed ones (an odd multiplier is a
    # bijection mod 2^63)
    with np.errstate(over="ignore"):
        fid = ((np.arange(n, dtype=np.uint64) * np.uint64(0x9E3779B97F4A7C15))
               >> np.uint64(1)).astype(np.int64)
    for part, rows in enumerate(np.array_split(np.arange(n), partitions)):
        m = len(rows)
        offsets = pa.py_buffer((np.arange(m + 1, dtype=np.int32) * size)
                               .tobytes())
        geoms = pa.Array.from_buffers(
            pa.binary(), m, [None, offsets, pa.py_buffer(wkb[rows].tobytes())])
        pq.write_table(pa.table({
            "feature_id": fid[rows],
            "doc_id": pa.array(["megatile"] * m, pa.string()),
            "span_offset": np.zeros(m, dtype=np.int32),
            "wkb": geoms,
            "geom_type": np.ones(m, dtype=np.int32),
            "lng_min": lng[rows], "lat_min": lat[rows],
            "lng_max": lng[rows], "lat_max": lat[rows],
        }), os.path.join(path, f"part-{part:03d}.parquet"))
    open(done, "w").close()
    return path


def _sha256(path: str) -> str:
    h = hashlib.sha256()
    with open(path, "rb") as f:
        for chunk in iter(lambda: f.read(1 << 20), b""):
            h.update(chunk)
    return h.hexdigest()


def main() -> None:
    p = argparse.ArgumentParser()
    p.add_argument("--work", required=True,
                   help="directory for the input and the archives")
    p.add_argument("--points", type=int, default=2_000_000)
    p.add_argument("--pairs", type=int, default=5)
    p.add_argument("--max-tile-bytes", type=int, default=None)
    p.add_argument("--cores", type=int, default=4)
    p.add_argument("--partitions", type=int, default=8)
    p.add_argument("--seed", type=int, default=1)
    args = p.parse_args()

    from gpq_tiles_spark.config import TilerConfig
    from gpq_tiles_spark.pipeline import convert_sharded, detect_hot_tiles
    from gpq_tiles_spark.session import get_spark

    path = write_points(args.work, args.points, args.partitions, args.seed)
    spark = get_spark("measure-megatile", cores=args.cores,
                      shuffle_partitions=args.partitions)
    spark.sparkContext.setLogLevel("ERROR")
    # one input partition per file (Spark would pack several small files
    # into one split)
    spark.conf.set("spark.sql.files.maxPartitionBytes", str(max(
        os.path.getsize(os.path.join(path, f)) for f in os.listdir(path))))
    feats = spark.read.parquet(path)
    cfg = TilerConfig(min_zoom=0, max_zoom=ZOOM,
                      shuffle_partitions=args.partitions,
                      max_tile_bytes=args.max_tile_bytes)
    print(json.dumps({"points": args.points,
                      "input_partitions": feats.rdd.getNumPartitions(),
                      "hot_tiles": len(detect_hot_tiles(feats, cfg)),
                      "max_tile_bytes": args.max_tile_bytes}), flush=True)

    out = os.path.join(args.work, "megatile.pmtiles")

    def run(salted: bool) -> dict:
        t0 = time.perf_counter()
        stats = convert_sharded(feats, out, cfg, salted=salted)
        wall = time.perf_counter() - t0
        return {"salted": salted, "wall_s": round(wall, 3),
                "tiles": stats["tiles"], "sha256": _sha256(out)}

    for salted in (True, False):
        print(json.dumps({"warmup": True, **run(salted)}), flush=True)
    walls: dict[bool, list[float]] = {True: [], False: []}
    shas = set()
    for i in range(args.pairs):
        for salted in ((True, False) if i % 2 == 0 else (False, True)):
            r = run(salted)
            walls[salted].append(r["wall_s"])
            shas.add(r["sha256"])
            print(json.dumps({"pair": i, **r}), flush=True)
    won = sum(s < u for s, u in zip(walls[True], walls[False]))
    print(json.dumps({
        "salted_wall_s_median": statistics.median(walls[True]),
        "unsalted_wall_s_median": statistics.median(walls[False]),
        "salted_faster_pairs": f"{won}/{args.pairs}",
        "same_bytes": len(shas) == 1,
    }))
    os.remove(out)
    spark.stop()


if __name__ == "__main__":
    main()

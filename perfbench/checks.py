"""Output checks. Each returns a list of failure messages (empty = pass).

They use the engine only through ``PMTilesReader``; tile bodies are
scanned by a minimal protobuf walker written here, so a bug in the
engine's own decoder cannot hide a bug in its encoder.
"""

from __future__ import annotations

import hashlib

import numpy as np

from gpq_tiles_spark.kernels.pmtiles import PMTilesReader


def sha256_file(path: str) -> str:
    h = hashlib.sha256()
    with open(path, "rb") as f:
        for chunk in iter(lambda: f.read(1 << 20), b""):
            h.update(chunk)
    return h.hexdigest()


def _varint(buf: bytes, i: int) -> tuple[int, int]:
    v = shift = 0
    while True:
        b = buf[i]
        i += 1
        v |= (b & 0x7F) << shift
        if b < 0x80:
            return v, i
        shift += 7


def _fields(buf: bytes):
    """Yield (field, wire, payload-or-int) for one protobuf message."""
    i, n = 0, len(buf)
    while i < n:
        tag, i = _varint(buf, i)
        field, wire = tag >> 3, tag & 7
        if wire == 0:
            v, i = _varint(buf, i)
            yield field, wire, v
        elif wire == 2:
            ln, i = _varint(buf, i)
            yield field, wire, buf[i:i + ln]
            i += ln
        elif wire == 1:
            yield field, wire, buf[i:i + 8]
            i += 8
        elif wire == 5:
            yield field, wire, buf[i:i + 4]
            i += 4
        else:
            raise ValueError(f"bad wire type {wire}")


def tile_layers(body: bytes) -> list[tuple[str, int]]:
    """(layer name, feature count) per layer of one MVT body."""
    out = []
    for field, wire, layer in _fields(body):
        if field != 3 or wire != 2:
            continue
        name, n = "", 0
        for f, w, v in _fields(layer):
            if f == 1 and w == 2:
                name = bytes(v).decode("utf-8")
            elif f == 2 and w == 2:
                n += 1
        out.append((name, n))
    return out


def check_archive(path: str, stats: dict, layer: str = "features"
                  ) -> tuple[list[str], dict]:
    """Reopen the archive and compare its addressed-tile and feature totals
    with the stats the conversion returned. Also returns archive facts the
    traced run reports (unique blobs, directory bytes)."""
    errs: list[str] = []
    r = PMTilesReader(path)
    try:
        tiles = features = 0
        offsets: set[int] = set()
        for e in r.iter_entries():
            run = max(e.run_length, 1)
            tiles += run
            offsets.add(e.offset)
            body = r.get_tile_bytes(e.tile_id)
            for name, n in tile_layers(body):
                if name != layer:
                    errs.append(f"tile {e.tile_id}: layer {name!r}")
                features += n * run
        h = r.header
        facts = {"unique_blobs": len(offsets),
                 "directory_bytes": h.root_dir_length + h.leaf_dirs_length}
    finally:
        r.close()
    if tiles != stats["tiles"]:
        errs.append(f"archive has {tiles} tiles, stats say {stats['tiles']}")
    if features != stats["features"]:
        errs.append(f"archive has {features} features, "
                    f"stats say {stats['features']}")
    if tiles == 0:
        errs.append("empty archive")
    return errs[:5], facts


def pip_hits(lng: np.ndarray, lat: np.ndarray, boxes: np.ndarray) -> int:
    """Brute-force point-in-box hit count over axis-aligned zones."""
    hits = 0
    x0, y0, x1, y1 = (boxes[:, k][None, :] for k in range(4))
    for s in range(0, len(lng), 8192):
        x = lng[s:s + 8192, None]
        y = lat[s:s + 8192, None]
        hits += int(((x > x0) & (x < x1) & (y > y0) & (y < y1)).sum())
    return hits


def knn_topk(lng: np.ndarray, lat: np.ndarray, plng: np.ndarray,
             plat: np.ndarray, k: int) -> np.ndarray:
    """(probes, k) sorted squared-degree distances, brute force."""
    out = np.empty((len(plng), k))
    for i in range(len(plng)):
        d = (lng - plng[i]) ** 2 + (lat - plat[i]) ** 2
        out[i] = np.sort(np.partition(d, k - 1)[:k])
    return out


def check_knn(rows, probe_ids: np.ndarray, want: np.ndarray) -> list[str]:
    got: dict[int, list[float]] = {}
    for r in rows:
        got.setdefault(int(r["probe_id"]), []).append(float(r["dist"]))
    errs = []
    for i, pid in enumerate(probe_ids.tolist()):
        d = np.sort(np.array(got.get(pid, [])))
        if len(d) != want.shape[1] or not np.allclose(d, want[i], rtol=1e-9,
                                                      atol=1e-15):
            errs.append(f"probe {pid}: knn distances differ")
            if len(errs) >= 5:
                break
    return errs

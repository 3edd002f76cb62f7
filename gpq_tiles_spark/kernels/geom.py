"""Lightweight geometry representation + OGC WKB/WKT codecs (numpy).

No shapely in this environment, so the engine carries geometries as
``(gtype, data)`` tuples with numpy coordinate arrays:

===========  ====  =========================================
kind         code  data
===========  ====  =========================================
Point          1   ndarray shape (2,)
LineString     2   ndarray shape (n, 2)
Polygon        3   list[ndarray (n, 2)]   (ring 0 = exterior)
MultiPoint     4   ndarray shape (n, 2)
MultiLine      5   list[ndarray (n, 2)]
MultiPolygon   6   list[list[ndarray]]
===========  ====  =========================================

The codes are the OGC WKB geometry type codes, so WKB encode/decode is
direct. WKB layout matches the reference's geozero OGC WKB XY output
(/root/reference/crates/core/src/wkb.rs:69-97).
"""

from __future__ import annotations

import struct

import numpy as np

POINT, LINESTRING, POLYGON, MULTIPOINT, MULTILINESTRING, MULTIPOLYGON = 1, 2, 3, 4, 5, 6
GEOMETRYCOLLECTION = 7  # data: list[Geom] (batch_processor.rs:122-125 analog)

Geom = tuple  # (gtype: int, data)

_HDR = struct.Struct("<BI")
_U32 = struct.Struct("<I")
_PT = struct.Struct("<dd")


# ---------------------------------------------------------------------------
# WKB
# ---------------------------------------------------------------------------

def _coords_to_wkb(arr: np.ndarray) -> bytes:
    a = np.ascontiguousarray(np.asarray(arr, dtype="<f8"))
    return _U32.pack(len(a)) + a.tobytes()


def to_wkb(g: Geom) -> bytes:
    t, d = g
    out = [_HDR.pack(1, t)]
    if t == POINT:
        out.append(_PT.pack(float(d[0]), float(d[1])))
    elif t in (LINESTRING,):
        out.append(_coords_to_wkb(d))
    elif t == POLYGON:
        out.append(_U32.pack(len(d)))
        for ring in d:
            out.append(_coords_to_wkb(ring))
    elif t == MULTIPOINT:
        out.append(_U32.pack(len(d)))
        for p in np.asarray(d, dtype=np.float64):
            out.append(_HDR.pack(1, POINT) + _PT.pack(float(p[0]), float(p[1])))
    elif t == MULTILINESTRING:
        out.append(_U32.pack(len(d)))
        for ls in d:
            out.append(_HDR.pack(1, LINESTRING) + _coords_to_wkb(ls))
    elif t == MULTIPOLYGON:
        out.append(_U32.pack(len(d)))
        for rings in d:
            out.append(_HDR.pack(1, POLYGON) + _U32.pack(len(rings)))
            for ring in rings:
                out.append(_coords_to_wkb(ring))
    elif t == GEOMETRYCOLLECTION:
        out.append(_U32.pack(len(d)))
        for part in d:
            out.append(to_wkb(part))
    else:
        raise ValueError(f"unsupported geometry type {t}")
    return b"".join(out)


def _read_coords(buf: memoryview, off: int) -> tuple[np.ndarray, int]:
    (n,) = _U32.unpack_from(buf, off)
    off += 4
    arr = np.frombuffer(buf, dtype="<f8", count=2 * n, offset=off).reshape(n, 2)
    return arr.astype(np.float64), off + 16 * n


def _from_wkb_at(buf: memoryview, off: int) -> tuple[Geom, int]:
    """Parse one geometry starting at `off`; returns (geom, next offset) so
    GeometryCollection can recurse over its parts."""
    bo, t = _HDR.unpack_from(buf, off)
    if bo != 1:
        raise ValueError("big-endian WKB unsupported")
    t &= 0xFF  # strip any 2.5D/SRID flag bits (none expected)
    off += 5
    if t == POINT:
        x, y = _PT.unpack_from(buf, off)
        return (POINT, np.array([x, y])), off + 16
    if t == LINESTRING:
        arr, off = _read_coords(buf, off)
        return (LINESTRING, arr), off
    if t == POLYGON:
        (nr,) = _U32.unpack_from(buf, off)
        off += 4
        rings = []
        for _ in range(nr):
            r, off = _read_coords(buf, off)
            rings.append(r)
        return (POLYGON, rings), off
    if t == MULTIPOINT:
        (np_,) = _U32.unpack_from(buf, off)
        off += 4
        pts = np.empty((np_, 2))
        for i in range(np_):
            off += 5
            pts[i] = _PT.unpack_from(buf, off)
            off += 16
        return (MULTIPOINT, pts), off
    if t == MULTILINESTRING:
        (nl,) = _U32.unpack_from(buf, off)
        off += 4
        lines = []
        for _ in range(nl):
            off += 5
            arr, off = _read_coords(buf, off)
            lines.append(arr)
        return (MULTILINESTRING, lines), off
    if t == MULTIPOLYGON:
        (npoly,) = _U32.unpack_from(buf, off)
        off += 4
        polys = []
        for _ in range(npoly):
            off += 5
            (nr,) = _U32.unpack_from(buf, off)
            off += 4
            rings = []
            for _ in range(nr):
                r, off = _read_coords(buf, off)
                rings.append(r)
            polys.append(rings)
        return (MULTIPOLYGON, polys), off
    if t == GEOMETRYCOLLECTION:
        (ng,) = _U32.unpack_from(buf, off)
        off += 4
        parts = []
        for _ in range(ng):
            part, off = _from_wkb_at(buf, off)
            parts.append(part)
        return (GEOMETRYCOLLECTION, parts), off
    raise ValueError(f"unsupported WKB type {t}")


def from_wkb(wkb: bytes) -> Geom:
    g, _ = _from_wkb_at(memoryview(wkb), 0)
    return g


def flatten(g: Geom) -> list[Geom]:
    """GeometryCollection -> homogeneous parts (recursively); any other
    geometry passes through as [g]. Ingestion flattens collections into one
    feature per part — MVT features are single-typed, so a collection can
    never encode as one feature anyway (the reference normalizes collections
    the same way at its GeoArrow boundary, batch_processor.rs:122-125)."""
    t, d = g
    if t != GEOMETRYCOLLECTION:
        return [g]
    out: list[Geom] = []
    for part in d:
        out.extend(flatten(part))
    return out


# ---------------------------------------------------------------------------
# WKT (fixtures carry geometries as WKT in geo spans)
# ---------------------------------------------------------------------------

def _parse_coord_seq(s: str) -> np.ndarray:
    # numpy's C float parser over the token list (same strtod semantics as
    # python float(), ~6x faster than a per-token Python loop)
    arr = np.array(s.replace(",", " ").split(), dtype=np.float64)
    return arr.reshape(-1, 2)


def _split_rings(body: str) -> list[str]:
    """Split '(...),(...)' at depth-0 commas.

    Ring lists never nest (depth <= 1), so the split points are exactly the
    '),' boundaries — a C-speed str.split instead of a per-character scan.
    Spec-valid WKT may carry whitespace around a depth-0 comma ('(...) , (...)'),
    which the '),', split misses; detect that by checking every fast-path piece
    is paren-free after stripping and fall back to the character scan if not.
    The character-scan fallback also handles non-parenthesized bodies."""
    if "(" in body:
        pieces = [p.strip().lstrip("(").rstrip(")").strip() for p in body.split("),")]
        if not any("(" in p or ")" in p for p in pieces):
            return pieces
        # whitespace-padded ring boundary or other irregular spacing: scan
    parts, depth, start = [], 0, 0
    for i, ch in enumerate(body):
        if ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
        elif ch == "," and depth == 0:
            parts.append(body[start:i])
            start = i + 1
    parts.append(body[start:])
    return [p.strip().lstrip("(").rstrip(")") for p in parts]


def from_wkt(wkt: str) -> Geom:
    s = wkt.strip()
    head, _, rest = s.partition("(")
    head = head.strip().upper()
    body = rest.rsplit(")", 1)[0]
    if head == "POINT":
        return (POINT, _parse_coord_seq(body)[0])
    if head == "LINESTRING":
        return (LINESTRING, _parse_coord_seq(body))
    if head == "POLYGON":
        return (POLYGON, [_parse_coord_seq(r) for r in _split_rings(body)])
    if head == "MULTIPOINT":
        return (MULTIPOINT, _parse_coord_seq(body.replace("(", "").replace(")", "")))
    if head == "MULTILINESTRING":
        return (MULTILINESTRING, [_parse_coord_seq(r) for r in _split_rings(body)])
    if head == "MULTIPOLYGON":
        polys = []
        depth, start = 0, 0
        for i, ch in enumerate(body):
            if ch == "(":
                if depth == 0:
                    start = i + 1
                depth += 1
            elif ch == ")":
                depth -= 1
                if depth == 0:
                    polys.append([_parse_coord_seq(r) for r in _split_rings(body[start:i])])
        return (MULTIPOLYGON, polys)
    if head == "GEOMETRYCOLLECTION":
        # split at depth-0 commas; each piece is a complete WKT geometry
        parts, depth, start = [], 0, 0
        for i, ch in enumerate(body):
            if ch == "(":
                depth += 1
            elif ch == ")":
                depth -= 1
            elif ch == "," and depth == 0:
                parts.append(body[start:i])
                start = i + 1
        parts.append(body[start:])
        return (GEOMETRYCOLLECTION, [from_wkt(p.strip()) for p in parts if p.strip()])
    raise ValueError(f"unsupported WKT: {head}")


def to_wkt(g: Geom) -> str:
    t, d = g

    def seq(a):
        return ", ".join(f"{x:.10g} {y:.10g}" for x, y in np.asarray(a))

    if t == POINT:
        return f"POINT({d[0]:.10g} {d[1]:.10g})"
    if t == LINESTRING:
        return f"LINESTRING({seq(d)})"
    if t == POLYGON:
        return "POLYGON(" + ", ".join(f"({seq(r)})" for r in d) + ")"
    if t == MULTIPOINT:
        return "MULTIPOINT(" + seq(d) + ")"
    if t == MULTILINESTRING:
        return "MULTILINESTRING(" + ", ".join(f"({seq(r)})" for r in d) + ")"
    if t == MULTIPOLYGON:
        return (
            "MULTIPOLYGON("
            + ", ".join("(" + ", ".join(f"({seq(r)})" for r in p) + ")" for p in d)
            + ")"
        )
    if t == GEOMETRYCOLLECTION:
        return "GEOMETRYCOLLECTION(" + ", ".join(to_wkt(p) for p in d) + ")"
    raise ValueError(f"unsupported geometry type {t}")


# ---------------------------------------------------------------------------
# Basic measures
# ---------------------------------------------------------------------------

def _all_coords(g: Geom):
    t, d = g
    if t == POINT:
        yield d.reshape(1, 2)
    elif t in (LINESTRING, MULTIPOINT):
        yield np.asarray(d)
    elif t in (POLYGON, MULTILINESTRING):
        yield from d
    elif t == MULTIPOLYGON:
        for rings in d:
            yield from rings
    elif t == GEOMETRYCOLLECTION:
        for part in d:
            yield from _all_coords(part)
    else:
        raise ValueError(f"unsupported geometry type {t}")


def bbox(g: Geom) -> tuple[float, float, float, float]:
    """(lng_min, lat_min, lng_max, lat_max)."""
    xmin = ymin = np.inf
    xmax = ymax = -np.inf
    for c in _all_coords(g):
        if len(c) == 0:
            continue
        xmin = min(xmin, c[:, 0].min())
        ymin = min(ymin, c[:, 1].min())
        xmax = max(xmax, c[:, 0].max())
        ymax = max(ymax, c[:, 1].max())
    return float(xmin), float(ymin), float(xmax), float(ymax)


def vertex_count(g: Geom) -> int:
    """Coordinates in all of ``g``'s parts and rings."""
    return sum(len(c) for c in _all_coords(g))


def ring_signed_area2(ring: np.ndarray) -> float:
    """Twice the signed shoelace area (positive = CCW)."""
    r = np.asarray(ring, dtype=np.float64)
    if len(r) < 3:
        return 0.0
    x, y = r[:, 0], r[:, 1]
    # shoelace with wrapped neighbors, no np.roll allocation overhead
    s = float(np.dot(x[:-1], y[1:]) - np.dot(x[1:], y[:-1]))
    s += float(x[-1] * y[0] - x[0] * y[-1])
    return s


def polygon_unsigned_area(rings: list[np.ndarray]) -> float:
    """geo::Area::unsigned_area semantics: |sum of signed ring areas as
    stored| — holes in the opposite orientation subtract naturally."""
    if not rings:
        return 0.0
    total = 0.0
    for ring in rings:
        total += ring_signed_area2(ring) / 2.0
    return abs(total)


def centroid(g: Geom) -> tuple[float, float] | None:
    """Representative point for spatial indexing: area/length/point-weighted
    centroid like geo::Centroid; bbox center fallback
    (reference spatial_index.rs:279-300)."""
    t, d = g
    if t == POINT:
        return float(d[0]), float(d[1])
    if t == MULTIPOINT:
        a = np.asarray(d)
        if len(a) == 0:
            return None
        return float(a[:, 0].mean()), float(a[:, 1].mean())
    if t in (LINESTRING, MULTILINESTRING):
        lines = [d] if t == LINESTRING else d
        wsum = np.zeros(2)
        total = 0.0
        for ls in lines:
            a = np.asarray(ls, dtype=np.float64)
            if len(a) < 2:
                continue
            seg = a[1:] - a[:-1]
            ln = np.hypot(seg[:, 0], seg[:, 1])
            mid = (a[1:] + a[:-1]) / 2.0
            wsum += (mid * ln[:, None]).sum(axis=0)
            total += ln.sum()
        if total <= 0:
            x0, y0, x1, y1 = bbox(g)
            return (x0 + x1) / 2.0, (y0 + y1) / 2.0
        return float(wsum[0] / total), float(wsum[1] / total)
    if t == GEOMETRYCOLLECTION:
        x0, y0, x1, y1 = bbox(g)
        if not np.isfinite(x0):
            return None
        return (x0 + x1) / 2.0, (y0 + y1) / 2.0
    if t in (POLYGON, MULTIPOLYGON):
        polys = [d] if t == POLYGON else d
        wsum = np.zeros(2)
        total = 0.0
        for rings in polys:
            for k, ring in enumerate(rings):
                r = np.asarray(ring, dtype=np.float64)
                if len(r) < 3:
                    continue
                x, y = r[:, 0], r[:, 1]
                cross = x * np.roll(y, -1) - np.roll(x, -1) * y
                a2 = cross.sum()
                if a2 == 0:
                    continue
                cx = ((x + np.roll(x, -1)) * cross).sum() / (3.0 * a2)
                cy = ((y + np.roll(y, -1)) * cross).sum() / (3.0 * a2)
                w = abs(a2) / 2.0
                if k > 0:
                    w = -w  # holes subtract
                wsum += np.array([cx, cy]) * w
                total += w
        if total == 0:
            x0, y0, x1, y1 = bbox(g)
            return (x0 + x1) / 2.0, (y0 + y1) / 2.0
        return float(wsum[0] / total), float(wsum[1] / total)
    return None

"""PMTiles v3 archive encoding — header, directory, run-length, metadata.

Byte layouts mirror /root/reference/crates/core/src/pmtiles_writer.rs:
* 127-byte header (pmtiles_writer.rs:111-159): magic "PMTiles", version 3,
  8 u64 offset/length fields, counts, clustered flag, compression codes
  (Unknown=0 None=1 Gzip=2 Brotli=3 Zstd=4, compression.rs:21-30), tile type,
  zooms, bounds as i32 coord*10^7 LE, center.
* Columnar varint directory with delta tile_ids and 0/offset+1 offset
  encoding (pmtiles_writer.rs:264-320).
* Run-length coalescing of consecutive tile_ids sharing one blob
  (pmtiles_writer.rs:654-665).
* JSON metadata {vector_layers:[...], format: "pbf", ...} with fields sorted
  by name (pmtiles_writer.rs:464-493).

Only gzip is available in this environment; zstd/brotli codes are defined but
raise at compress time (gated, like the reference's feature flags).
"""

from __future__ import annotations

import gzip
import io
import json
import shutil
import struct
from dataclasses import dataclass, field
from typing import BinaryIO, Callable

import numpy as np

MAGIC = b"PMTiles"
VERSION = 3
HEADER_SIZE = 127

COMPRESSION_UNKNOWN = 0
COMPRESSION_NONE = 1
COMPRESSION_GZIP = 2
COMPRESSION_BROTLI = 3
COMPRESSION_ZSTD = 4

TILETYPE_MVT = 1

CODEC_BY_NAME = {
    "none": COMPRESSION_NONE,
    "gzip": COMPRESSION_GZIP,
    "brotli": COMPRESSION_BROTLI,
    "zstd": COMPRESSION_ZSTD,
}


# zstd/brotli are import-gated: the reference CLI defaults to zstd
# (cli/main.rs:69, compression.rs:72-119). The `zstandard` package is
# preferred when installed; otherwise a ctypes binding to the SYSTEM
# libzstd (shipped by pyarrow/conda/most distros) activates the codec
# dependency-free — an absent lib raises a clear error, never a bad
# archive.
try:  # pragma: no cover - not installed in this container
    import zstandard as _zstd
except ImportError:
    _zstd = None
from . import zstd_ctypes as _zstd_sys
try:  # pragma: no cover - not installed in this container
    import brotli as _brotli
except ImportError:
    _brotli = None


def compress(data: bytes, codec: int) -> bytes:
    if codec == COMPRESSION_NONE:
        return data
    if codec == COMPRESSION_GZIP:
        # flate2 default level is 6; mtime pinned to 0 for determinism
        return gzip.compress(data, compresslevel=6, mtime=0)
    if codec == COMPRESSION_ZSTD:
        # level 3 matches the reference default (compression.rs:87)
        if _zstd is not None:
            return _zstd.ZstdCompressor(level=3).compress(data)
        if _zstd_sys.available():
            return _zstd_sys.compress(data, level=3)
        raise NotImplementedError(
            "zstd requested but neither the 'zstandard' package nor a "
            "system libzstd is available"
        )
    if codec == COMPRESSION_BROTLI:
        if _brotli is None:
            raise NotImplementedError(
                "brotli requested but the 'brotli' package is not installed"
            )
        return _brotli.compress(data)
    raise NotImplementedError(f"compression codec {codec} not supported")


def codec_backend(codec: int) -> str:
    """Identity string of the stack THIS process would use to compress
    ``codec``. Compressed bytes are only guaranteed identical for the same
    backend + version, so the archive writer captures the driver's
    fingerprint and each executor task asserts it matches before writing
    shard bytes — a heterogeneous cluster image fails fast instead of
    silently writing an archive whose bytes depend on which executor
    compressed which tile.

    The fingerprint ends with a digest of an ACTUAL probe compression, so
    it covers the entire producer stack — e.g. two nodes with identical
    zlib runtime versions can still emit different gzip HEADER bytes
    (CPython's gzip module wrote OS=0xFF through 3.10 while zlib's
    compile-time OS_CODE is platform-dependent); only probing catches
    that. Returns "<codec>:unavailable" when this process cannot compress
    the codec at all (the caller decides whether that is fatal)."""
    import hashlib
    import zlib

    if codec == COMPRESSION_NONE:
        return "none"

    def probed(prefix: str) -> str:
        d = hashlib.sha256(compress(b"gpq-tiles codec probe", codec))
        return f"{prefix}:probe:{d.hexdigest()[:16]}"

    if codec == COMPRESSION_GZIP:
        return probed(f"zlib:{zlib.ZLIB_RUNTIME_VERSION}")
    if codec == COMPRESSION_ZSTD:
        if _zstd is not None:
            libver = ".".join(map(str, getattr(_zstd, "ZSTD_VERSION", ())))
            return probed(f"zstandard:{getattr(_zstd, '__version__', '?')}"
                          f":libzstd:{libver or '?'}")
        if _zstd_sys.available():
            return probed(f"libzstd:{_zstd_sys.version_number()}")
        return "zstd:unavailable"
    if codec == COMPRESSION_BROTLI:
        if _brotli is not None:
            return probed(f"brotli:{getattr(_brotli, '__version__', '?')}")
        return "brotli:unavailable"
    return f"codec:{codec}"


def decompress(data: bytes, codec: int) -> bytes:
    if codec == COMPRESSION_NONE:
        return data
    if codec == COMPRESSION_GZIP:
        return gzip.decompress(data)
    if codec == COMPRESSION_ZSTD:
        if _zstd is not None:
            return _zstd.ZstdDecompressor().decompress(data)
        if _zstd_sys.available():
            return _zstd_sys.decompress(data)
        raise NotImplementedError(
            "zstd archive but neither the 'zstandard' package nor a "
            "system libzstd is available"
        )
    if codec == COMPRESSION_BROTLI:
        if _brotli is None:
            raise NotImplementedError(
                "brotli archive but the 'brotli' package is not installed"
            )
        return _brotli.decompress(data)
    raise NotImplementedError(f"compression codec {codec}")


def encode_varint(value: int, out: bytearray) -> None:
    while value >= 0x80:
        out.append((value & 0x7F) | 0x80)
        value >>= 7
    out.append(value)


def decode_varint(data: bytes, i: int) -> tuple[int, int]:
    res = 0
    shift = 0
    while True:
        b = data[i]
        res |= (b & 0x7F) << shift
        i += 1
        if not b & 0x80:
            return res, i
        shift += 7


@dataclass
class DirEntry:
    tile_id: int
    offset: int
    length: int
    run_length: int = 1


def coalesce_run_lengths(entries: list[DirEntry]) -> list[DirEntry]:
    """Consecutive tile_ids pointing at the same (offset, length) extend
    run_length instead of adding an entry (pmtiles_writer.rs:654-665)."""
    out: list[DirEntry] = []
    for e in entries:
        if (
            out
            and e.offset == out[-1].offset
            and e.length == out[-1].length
            and e.tile_id == out[-1].tile_id + out[-1].run_length
        ):
            out[-1].run_length += e.run_length
        else:
            out.append(DirEntry(e.tile_id, e.offset, e.length, e.run_length))
    return out


def encode_directory(entries: list[DirEntry]) -> bytes:
    """Columnar varint: count, delta tile_ids, run_lengths, lengths, offsets
    (0 when contiguous, else offset+1) (pmtiles_writer.rs:274-320)."""
    out = bytearray()
    encode_varint(len(entries), out)
    if not entries:
        return bytes(out)
    last = 0
    for e in entries:
        encode_varint(e.tile_id - last, out)
        last = e.tile_id
    for e in entries:
        encode_varint(e.run_length, out)
    for e in entries:
        encode_varint(e.length, out)
    expected = 0
    for i, e in enumerate(entries):
        if i > 0 and e.offset == expected:
            encode_varint(0, out)
        else:
            encode_varint(e.offset + 1, out)
        if e.run_length > 0:
            expected = e.offset + e.length
    return bytes(out)


def decode_directory(data: bytes) -> list[DirEntry]:
    n, i = decode_varint(data, 0)
    ids = []
    last = 0
    for _ in range(n):
        d, i = decode_varint(data, i)
        last += d
        ids.append(last)
    runs = []
    for _ in range(n):
        v, i = decode_varint(data, i)
        runs.append(v)
    lengths = []
    for _ in range(n):
        v, i = decode_varint(data, i)
        lengths.append(v)
    offsets = []
    expected = 0
    for k in range(n):
        v, i = decode_varint(data, i)
        if v == 0 and k > 0:
            off = expected
        else:
            off = v - 1
        offsets.append(off)
        if runs[k] > 0:
            expected = off + lengths[k]
    return [DirEntry(ids[k], offsets[k], lengths[k], runs[k]) for k in range(n)]


@dataclass
class Header:
    root_dir_offset: int = HEADER_SIZE
    root_dir_length: int = 0
    json_metadata_offset: int = 0
    json_metadata_length: int = 0
    leaf_dirs_offset: int = 0
    leaf_dirs_length: int = 0
    tile_data_offset: int = 0
    tile_data_length: int = 0
    addressed_tiles_count: int = 0
    tile_entries_count: int = 0
    tile_contents_count: int = 0
    clustered: bool = True
    internal_compression: int = COMPRESSION_GZIP
    tile_compression: int = COMPRESSION_GZIP
    tile_type: int = TILETYPE_MVT
    min_zoom: int = 0
    max_zoom: int = 14
    min_lon: float = -180.0
    min_lat: float = -85.0
    max_lon: float = 180.0
    max_lat: float = 85.0
    center_zoom: int = 0
    center_lon: float = 0.0
    center_lat: float = 0.0

    def to_bytes(self) -> bytes:
        buf = bytearray(HEADER_SIZE)
        buf[0:7] = MAGIC
        buf[7] = VERSION
        struct.pack_into(
            "<8Q", buf, 8,
            self.root_dir_offset, self.root_dir_length,
            self.json_metadata_offset, self.json_metadata_length,
            self.leaf_dirs_offset, self.leaf_dirs_length,
            self.tile_data_offset, self.tile_data_length,
        )
        struct.pack_into(
            "<3Q", buf, 72,
            self.addressed_tiles_count, self.tile_entries_count, self.tile_contents_count,
        )
        buf[96] = 1 if self.clustered else 0
        buf[97] = self.internal_compression
        buf[98] = self.tile_compression
        buf[99] = self.tile_type
        buf[100] = self.min_zoom
        buf[101] = self.max_zoom

        def enc(v: float) -> int:
            return int(v * 10_000_000.0)

        struct.pack_into(
            "<4i", buf, 102, enc(self.min_lon), enc(self.min_lat), enc(self.max_lon), enc(self.max_lat)
        )
        buf[118] = self.center_zoom
        struct.pack_into("<2i", buf, 119, enc(self.center_lon), enc(self.center_lat))
        return bytes(buf)

    @classmethod
    def from_bytes(cls, buf: bytes) -> "Header":
        assert buf[0:7] == MAGIC and buf[7] == VERSION, "not a PMTiles v3 file"
        vals = struct.unpack_from("<8Q", buf, 8)
        counts = struct.unpack_from("<3Q", buf, 72)
        bounds = struct.unpack_from("<4i", buf, 102)
        center = struct.unpack_from("<2i", buf, 119)
        return cls(
            root_dir_offset=vals[0], root_dir_length=vals[1],
            json_metadata_offset=vals[2], json_metadata_length=vals[3],
            leaf_dirs_offset=vals[4], leaf_dirs_length=vals[5],
            tile_data_offset=vals[6], tile_data_length=vals[7],
            addressed_tiles_count=counts[0], tile_entries_count=counts[1],
            tile_contents_count=counts[2],
            clustered=buf[96] == 1,
            internal_compression=buf[97], tile_compression=buf[98],
            tile_type=buf[99], min_zoom=buf[100], max_zoom=buf[101],
            min_lon=bounds[0] / 1e7, min_lat=bounds[1] / 1e7,
            max_lon=bounds[2] / 1e7, max_lat=bounds[3] / 1e7,
            center_zoom=buf[118], center_lon=center[0] / 1e7, center_lat=center[1] / 1e7,
        )


def metadata_json(layer_name: str, min_zoom: int, max_zoom: int,
                  fields: dict[str, str] | None = None,
                  tilestats: dict | None = None) -> bytes:
    """JSON metadata; fields sorted by name for determinism
    (pmtiles_writer.rs:464-493, :1172-1221)."""
    meta = {
        "vector_layers": [
            {
                "id": layer_name,
                "minzoom": min_zoom,
                "maxzoom": max_zoom,
                "fields": dict(sorted((fields or {}).items())),
            }
        ],
        "format": "pbf",
        "generator": "gpq-tiles-spark",
    }
    if tilestats:
        meta["tilestats"] = tilestats
    return json.dumps(meta, separators=(",", ":"), sort_keys=False).encode("utf-8")


class PMTilesAssembler:
    """Driver-side single-file assembler fed tiles in ascending tile_id order.

    Streaming equivalent of the reference's StreamingPmtilesWriter finalize
    (pmtiles_writer.rs:1028-1143): blobs append to the data section as they
    arrive; only 24-byte-equivalent entries stay in memory; duplicate blobs
    (same content hash and raw length) reuse the first offset (X1 dedup,
    pmtiles_writer.rs:528-560).

    A kernel and a test oracle: no library write path uses it (the
    pipeline's archives come from its shard finalize, byte-identical to
    this assembler's).
    """

    def __init__(self, tile_compression: int = COMPRESSION_GZIP,
                 layer_name: str = "features", min_zoom: int = 0, max_zoom: int = 14,
                 fields: dict[str, str] | None = None,
                 leaf_max_entries: int | None = None):
        self.tile_compression = tile_compression
        self.leaf_max_entries = leaf_max_entries
        self.layer_name = layer_name
        self.min_zoom_cfg = min_zoom
        self.max_zoom_cfg = max_zoom
        self.fields = fields or {}
        self.entries: list[DirEntry] = []
        import tempfile

        # Blobs stream straight to a temp file (O(1) driver memory), like the
        # reference's StreamingPmtilesWriter (pmtiles_writer.rs:1000-1019).
        self._tmp = tempfile.TemporaryFile()
        self._n_blobs = 0
        self._by_hash: dict[tuple[int, int], tuple[int, int]] = {}
        self._data_len = 0
        self.addressed = 0
        self.total_features = 0
        self.features_per_zoom: dict[int, int] = {}
        self.bounds = [180.0, 90.0, -180.0, -90.0]
        self._last_tile_id = -1

    def add_tile(self, tile_id: int, z: int, raw_mvt: bytes, content_hash: int,
                 n_features: int, tile_bounds: tuple[float, float, float, float] | None = None):
        if tile_id <= self._last_tile_id:
            raise ValueError(f"tiles must arrive in ascending tile_id order ({tile_id})")
        self._last_tile_id = tile_id
        self.addressed += 1
        self.total_features += n_features
        self.features_per_zoom[z] = self.features_per_zoom.get(z, 0) + n_features
        if tile_bounds is not None:
            self.bounds[0] = min(self.bounds[0], tile_bounds[0])
            self.bounds[1] = min(self.bounds[1], tile_bounds[1])
            self.bounds[2] = max(self.bounds[2], tile_bounds[2])
            self.bounds[3] = max(self.bounds[3], tile_bounds[3])
        # keyed on (hash, raw length), as the shard writer and the sharded
        # finalize are: the length guards the 63-bit hash against silent
        # collisions (same trust model as the reference's XXH3 dedup but
        # with a second independent signal)
        key = (content_hash, len(raw_mvt))
        hit = self._by_hash.get(key)
        if hit is None:
            blob = compress(raw_mvt, self.tile_compression)
            hit = self._by_hash[key] = (self._data_len, len(blob))
            self._tmp.write(blob)
            self._n_blobs += 1
            self._data_len += len(blob)
        off, ln = hit
        # run-coalesce ON ARRIVAL (tiles come in ascending tile_id order,
        # so coalescing is a local check against the last entry): entry
        # memory is O(coalesced runs), not O(tiles) — at 10^8 ocean-heavy
        # tiles the dominant dedup runs collapse as they stream in instead
        # of accumulating one DirEntry per tile until finalize
        last = self.entries[-1] if self.entries else None
        if (last is not None and last.offset == off and last.length == ln
                and tile_id == last.tile_id + last.run_length):
            last.run_length += 1
        else:
            self.entries.append(DirEntry(tile_id, off, ln, 1))

    def finalize(self, path: str) -> Header:
        # add_tile coalesces on arrival with coalesce_run_lengths' exact
        # rule, so self.entries is already the maximal-run form; past
        # ROOT_MAX_ENTRIES the directory splits into spec leaf directories
        # (run_length==0 root pointers into the leaf section) so the root
        # stays ~spec-sized at any tile count; small archives keep the
        # exact root-only bytes of previous rounds
        root_raw, leaf_section, n_ent = build_directories(
            self.entries, leaf_max_entries=self.leaf_max_entries)
        self._tmp.seek(0)
        try:
            return write_archive(
                path, root_raw, leaf_section, n_ent,
                lambda f: shutil.copyfileobj(self._tmp, f, length=1 << 20),
                addressed=self.addressed, n_blobs=self._n_blobs,
                data_len=self._data_len,
                tile_compression=self.tile_compression,
                layer_name=self.layer_name, min_zoom=self.min_zoom_cfg,
                max_zoom=self.max_zoom_cfg, fields=self.fields,
                features_per_zoom=self.features_per_zoom,
                bounds=self.bounds)
        finally:
            self._tmp.close()


def write_archive(path: str, root_raw: bytes, leaves, n_entries: int,
                  write_data: Callable[[BinaryIO], None], *, addressed: int,
                  n_blobs: int, data_len: int, tile_compression: int,
                  layer_name: str, min_zoom: int, max_zoom: int,
                  fields: dict[str, str] | None,
                  features_per_zoom: dict[int, int], bounds) -> Header:
    """The one archive finalize (pmtiles_writer.rs:1028-1143), shared by
    the kernel-level assembler and the pipeline's shard finalize: gzip the
    root directory and the metadata JSON (tilestats per zoom), build the
    header, then write header, root, metadata, the leaf-directory section and —
    through ``write_data(f)`` — the ``data_len`` bytes of tile data.

    ``leaves`` is the leaf section as bytes or as a seekable file (a
    DirectoryBuilder spill). ``features_per_zoom`` has a key for every zoom
    that has tiles; its smallest and largest key are the header's zoom
    range. An archive with no addressed tiles gets world bounds and the
    configured ``min_zoom``/``max_zoom`` instead."""
    if isinstance(leaves, (bytes, bytearray)):
        leaves = io.BytesIO(leaves)
    leaf_len = leaves.seek(0, io.SEEK_END)
    root_dir = compress(root_raw, COMPRESSION_GZIP)
    tilestats = {
        "total_features": sum(features_per_zoom.values()),
        "features_per_zoom": {str(k): v
                              for k, v in sorted(features_per_zoom.items())},
    }
    meta = compress(
        metadata_json(layer_name, min_zoom, max_zoom, fields, tilestats),
        COMPRESSION_GZIP,
    )
    if addressed:
        zooms = (min(features_per_zoom), max(features_per_zoom))
    else:
        bounds, zooms = (-180.0, -85.0, 180.0, 85.0), (min_zoom, max_zoom)
    leaf_base = HEADER_SIZE + len(root_dir) + len(meta)
    hdr = Header(
        root_dir_offset=HEADER_SIZE,
        root_dir_length=len(root_dir),
        json_metadata_offset=HEADER_SIZE + len(root_dir),
        json_metadata_length=len(meta),
        leaf_dirs_offset=leaf_base if leaf_len else 0,
        leaf_dirs_length=leaf_len,
        tile_data_offset=leaf_base + leaf_len,
        tile_data_length=data_len,
        addressed_tiles_count=addressed,
        tile_entries_count=n_entries,
        tile_contents_count=n_blobs,
        clustered=True,
        internal_compression=COMPRESSION_GZIP,
        tile_compression=tile_compression,
        tile_type=TILETYPE_MVT,
        min_zoom=zooms[0],
        max_zoom=zooms[1],
        min_lon=bounds[0],
        min_lat=bounds[1],
        max_lon=bounds[2],
        max_lat=bounds[3],
    )
    with open(path, "wb") as f:
        f.write(hdr.to_bytes())
        f.write(root_dir)
        f.write(meta)
        leaves.seek(0)
        shutil.copyfileobj(leaves, f, length=1 << 20)
        write_data(f)
    return hdr


class PMTilesReader:
    """Lazy two-level archive reader, scale-symmetric with the
    leaf-directory WRITER (DirectoryBuilder): only the ROOT directory is
    decoded at open, so a 10^8-entry archive opens at O(root) — never an
    O(tiles) driver-side structure. Leaf directories (root entries with
    run_length==0, per the PMTiles v3 spec and the reference reader's
    two-level contract, pipeline.rs:1762+) are decoded on demand through a
    small LRU, and get_tile_bytes binary-searches root then leaf: one
    lookup is O(log root + log leaf) plus at most one leaf decompress on a
    cache miss. The file is memory-MAPPED, not slurped — get_tile_bytes
    touches just the pages of the requested blob. For one-shot single-tile
    access without constructing a reader, use ``read_tile``."""

    _LEAF_CACHE_MAX = 32  # decoded leaves kept; ~4K entries each

    def __init__(self, path: str):
        import mmap

        self._f = open(path, "rb")
        try:
            self.data = mmap.mmap(self._f.fileno(), 0,
                                  access=mmap.ACCESS_READ)
        except (ValueError, OSError):
            # zero-length files (mmap rejects them) and filesystems
            # without mmap support (some FUSE/network mounts raise
            # ENODEV): fall back to the plain read
            self.data = self._f.read()
        self.header = Header.from_bytes(self.data[:HEADER_SIZE])
        h = self.header
        root = self.data[h.root_dir_offset : h.root_dir_offset + h.root_dir_length]
        self._root = decode_directory(decompress(root, h.internal_compression))
        self._root_ids = [e.tile_id for e in self._root]
        # (offset, length) -> (entries, tile_ids); insertion-ordered LRU.
        # A lock makes the size bound exact for concurrent readers sharing
        # one instance (ADVICE r6: the unguarded dict could transiently
        # exceed the cap and redundantly re-decode leaves). Decode happens
        # outside the lock; only the dict mutation is serialized.
        import threading

        self._leaf_cache: dict[tuple[int, int],
                               tuple[list[DirEntry], list[int]]] = {}
        self._leaf_lock = threading.Lock()
        self._entries_cache: tuple[DirEntry, ...] | None = None
        meta_raw = self.data[
            h.json_metadata_offset : h.json_metadata_offset + h.json_metadata_length
        ]
        self.metadata = json.loads(decompress(meta_raw, h.internal_compression))

    def close(self) -> None:
        import mmap

        if isinstance(self.data, mmap.mmap):
            self.data.close()
        self._f.close()

    def __del__(self):  # pragma: no cover - GC-timing dependent
        try:
            self.close()
        except Exception:
            pass

    def _leaf(self, offset: int, length: int
              ) -> tuple[list[DirEntry], list[int]]:
        """Decode (or fetch from the LRU) the leaf directory at the given
        leaf-section-relative range. Raises on nested leaves (spec limits
        directories to two levels)."""
        key = (offset, length)
        with self._leaf_lock:
            hit = self._leaf_cache.pop(key, None)
            if hit is not None:
                self._leaf_cache[key] = hit  # re-insert as most recent
                return hit
        h = self.header
        raw = self.data[
            h.leaf_dirs_offset + offset
            : h.leaf_dirs_offset + offset + length
        ]
        leaf = decode_directory(decompress(raw, h.internal_compression))
        if any(le.run_length == 0 for le in leaf):
            raise ValueError(
                "nested leaf directories are not valid PMTiles v3"
            )
        hit = (leaf, [le.tile_id for le in leaf])
        with self._leaf_lock:
            self._leaf_cache[key] = hit
            while len(self._leaf_cache) > self._LEAF_CACHE_MAX:
                self._leaf_cache.pop(next(iter(self._leaf_cache)))
        return hit

    def iter_entries(self):
        """Stream fully-resolved tile entries in tile_id order, decoding
        leaf directories one at a time — O(one leaf) memory regardless of
        archive size. Scale callers iterate this instead of ``entries``."""
        for e in self._root:
            if e.run_length != 0:
                yield e
            else:
                leaf, _ids = self._leaf(e.offset, e.length)
                yield from leaf

    @property
    def entries(self) -> tuple[DirEntry, ...]:
        """Fully-expanded entries (leaf pointers resolved), materialized
        once on first access and cached so repeated reads stay O(1). A
        TUPLE, so callers can't silently mutate the shared cache. This
        MATERIALIZES O(tiles) — fine for small archives and tests; at
        scale use ``iter_entries()`` / ``get_tile_bytes`` instead."""
        if self._entries_cache is None:
            self._entries_cache = tuple(self.iter_entries())
        return self._entries_cache

    def tile_ids(self) -> list[int]:
        out: list[int] = []
        for e in self.iter_entries():
            out.extend(range(e.tile_id, e.tile_id + max(e.run_length, 1)))
        return out

    def _locate(self, tile_id: int) -> DirEntry | None:
        """Binary-search root (and one leaf, decoded lazily) for the data
        entry covering ``tile_id``."""
        e = _bisect_entry(self._root, self._root_ids, tile_id)
        if e is None:
            return None
        if e.run_length == 0:
            leaf, ids = self._leaf(e.offset, e.length)
            e = _bisect_entry(leaf, ids, tile_id)
        return e

    def get_tile_bytes(self, tile_id: int) -> bytes | None:
        e = self._locate(tile_id)
        if e is None:
            return None
        start = self.header.tile_data_offset + e.offset
        raw = self.data[start : start + e.length]
        return decompress(raw, self.header.tile_compression)


def read_tile(path: str, z: int, x: int, y: int,
              decode: bool = False):
    """Public archive-read API (reference ``decode_tile`` entry point
    analog, pipeline.rs:1762): fetch ONE tile's bytes from a .pmtiles
    archive by (z, x, y) using header + root-directory range reads only —
    the archive is never loaded whole, so this works on multi-GB outputs.

    Returns the decompressed MVT bytes (or the decoded feature structure
    when ``decode=True``, via kernels.mvt.decode_tile), or None when the
    tile is absent. Directories written by this engine are root-only
    (clustered, run-length coalesced); foreign archives with leaf
    directories (spec: root entry run_length==0 points into the leaf
    section) are followed one level, matching the spec's two-level limit."""
    import numpy as np

    from .hilbert import tile_id as _tile_id
    from .mvt import decode_tile as _decode

    with open(path, "rb") as f:
        hdr = Header.from_bytes(f.read(HEADER_SIZE))
        f.seek(hdr.root_dir_offset)
        root = f.read(hdr.root_dir_length)
        entries = decode_directory(decompress(root, hdr.internal_compression))
        tid = int(_tile_id(z, np.array([x]), np.array([y]))[0])
        e = _find_entry(entries, tid)
        if e is None:
            return None
        if e.run_length == 0:
            # Leaf-directory pointer: offset is relative to the leaf section.
            f.seek(hdr.leaf_dirs_offset + e.offset)
            leaf = decode_directory(
                decompress(f.read(e.length), hdr.internal_compression)
            )
            e = _find_entry(leaf, tid)
            if e is None:
                return None
            if e.run_length == 0:
                raise ValueError(
                    "nested leaf directories are not valid PMTiles v3"
                )
        f.seek(hdr.tile_data_offset + e.offset)
        raw = decompress(f.read(e.length), hdr.tile_compression)
    return _decode(raw) if decode else raw


def _bisect_entry(entries: list[DirEntry], ids: list[int],
                  tid: int) -> DirEntry | None:
    """Binary-search a sorted directory (``ids`` = precomputed tile_id
    keys) for the entry covering ``tid``.

    run_length==0 entries (leaf pointers) cover [tile_id, next entry's
    tile_id); run_length>=1 entries cover their run (spec directory search,
    same contract as the reference reader pipeline.rs:1762+)."""
    import bisect

    i = bisect.bisect_right(ids, tid) - 1
    if i < 0:
        return None
    e = entries[i]
    if e.run_length == 0:
        return e  # leaf pointer covers everything up to the next entry
    if e.tile_id <= tid < e.tile_id + e.run_length:
        return e
    return None


def _find_entry(entries: list[DirEntry], tid: int) -> DirEntry | None:
    """One-shot variant of ``_bisect_entry`` (computes the key list;
    repeated-lookup callers like PMTilesReader cache the keys instead)."""
    return _bisect_entry(entries, [e.tile_id for e in entries], tid)


# ---------------------------------------------------------------------------
# Leaf directories (round-5: root stays ~spec-sized at any tile count)
# ---------------------------------------------------------------------------

# A root-only directory is kept while it stays small (PMTiles v3 guidance:
# the root should be fetchable in one ~16 KB request). Above
# ROOT_MAX_ENTRIES coalesced entries the writer spills fixed-size entry
# chunks to the leaf section and the root holds one run_length==0 pointer
# per leaf (spec two-level layout; the reference writer is root-only,
# pmtiles_writer.rs:1028-1143 — this exceeds it for the 10^8-tile case
# where a root-only directory would be hundreds of MB).
ROOT_MAX_ENTRIES = 4096
LEAF_MIN_ENTRIES = 4096
# leaf-mode root size target: <= this many run_length==0 pointers. Leaf
# pointer entries encode ~8-12 bytes raw (large tile_id deltas + leaf
# lengths), so 1024 keeps the compressed root comfortably under the
# spec's ~16 KB first-fetch guidance even at 10^8+ coalesced entries
# (where a 4096-pointer root would compress to ~25 KB).
ROOT_LEAF_POINTERS_MAX = 1024


def plan_leaf_size(n_entries: int, leaf_max_entries: int | None = None
                   ) -> int:
    """Entries per leaf for a directory of ``n_entries`` coalesced tile
    entries; 0 means root-only. Deterministic in its INPUTS alone, so the
    kernel-level assembler and the pipeline's shard finalize (given the
    same TilerConfig) split identically and stay byte-identical. Leaf
    count (= root pointers) never exceeds ROOT_LEAF_POINTERS_MAX.

    ``leaf_max_entries`` (TilerConfig escape hatch) replaces the built-in
    LEAF_MIN_ENTRIES target so operators can pick finer leaves for CDN
    range-request patterns; the root-pointer clamp still wins when the
    archive is large enough that honoring it would blow up the root."""
    if n_entries <= ROOT_MAX_ENTRIES:
        return 0
    target = LEAF_MIN_ENTRIES if leaf_max_entries is None else int(leaf_max_entries)
    return max(target, -(-n_entries // ROOT_LEAF_POINTERS_MAX))


def encode_leaf(tid, off, length, run) -> bytes:
    """One leaf directory's uncompressed bytes (vectorized): a standalone
    directory — count prefix, tile_id deltas from 0, absolute data-section
    offsets. Byte-identical to encode_directory over the same entries."""
    head = bytearray()
    encode_varint(len(tid), head)
    t, r, ln, o = encode_dir_columns(tid, off, length, run,
                                     prev_tid=0, prev_expected=0,
                                     first_global=True)
    return bytes(head) + t + r + ln + o


class DirectoryBuilder:
    """Streaming directory writer fed coalesced entries in tile order.

    Callers declare the exact total coalesced entry count up front (it
    fixes the root-vs-leaf mode and the leaf split), then ``add`` numpy
    entry arrays — each internally run-coalesced and globally ordered.
    Runs that continue across ``add`` calls are merged here (the last
    entry is held back until the next call or ``finish``).

    Root mode reproduces ``encode_directory`` byte-for-byte via the same
    vectorized column kernel the round-3 chunk scheme used. Leaf mode
    buffers at most one leaf of entries: each full leaf is varint-encoded,
    compressed, and appended to ``spill`` (any .write()-able) or an
    in-memory buffer, and the root keeps ONE run_length==0 pointer per
    leaf — driver state is O(#leaves), not O(tiles).
    """

    def __init__(self, n_entries: int,
                 internal_compression: int = COMPRESSION_GZIP,
                 spill=None, leaf_max_entries: int | None = None):
        self.n_declared = int(n_entries)
        self.leaf_size = plan_leaf_size(self.n_declared, leaf_max_entries)
        self.codec = internal_compression
        self._held: tuple[int, int, int, int] | None = None
        self.n_written = 0
        if self.leaf_size == 0:
            self._cols = [bytearray(), bytearray(), bytearray(), bytearray()]
            self._prev_tid = 0
            self._prev_exp = 0
            self._first = True
        else:
            self._pend: list[tuple] = []
            self._pend_n = 0
            self._own_spill = spill is None
            self._spill = spill if spill is not None else io.BytesIO()
            self._leaf_off = 0
            self.root_entries: list[DirEntry] = []

    def add(self, tid, off, length, run) -> None:
        tid = np.asarray(tid, dtype=np.int64)
        off = np.asarray(off, dtype=np.int64)
        length = np.asarray(length, dtype=np.int64)
        run = np.asarray(run, dtype=np.int64)
        if len(tid) == 0:
            return
        if self._held is not None:
            h = self._held
            self._held = None
            if (int(off[0]) == h[1] and int(length[0]) == h[2]
                    and int(tid[0]) == h[0] + h[3]):
                # cross-call run merge: extend the held run downward
                tid = tid.copy()
                run = run.copy()
                tid[0] = h[0]
                run[0] += h[3]
            else:
                self._emit(np.array([h[0]]), np.array([h[1]]),
                           np.array([h[2]]), np.array([h[3]]))
        if len(tid) > 1:
            self._emit(tid[:-1], off[:-1], length[:-1], run[:-1])
        self._held = (int(tid[-1]), int(off[-1]), int(length[-1]),
                      int(run[-1]))

    def _emit(self, tid, off, length, run) -> None:
        self.n_written += len(tid)
        if self.leaf_size == 0:
            t, r, ln, o = encode_dir_columns(
                tid, off, length, run,
                prev_tid=self._prev_tid, prev_expected=self._prev_exp,
                first_global=self._first)
            self._first = False
            self._cols[0] += t
            self._cols[1] += r
            self._cols[2] += ln
            self._cols[3] += o
            self._prev_tid = int(tid[-1])
            self._prev_exp = int(off[-1] + length[-1])
            return
        self._pend.append((tid, off, length, run))
        self._pend_n += len(tid)
        if self._pend_n < self.leaf_size:
            return
        # ONE concatenation of the backlog, then full leaves slice off as
        # views — re-concatenating per flush would make a large single
        # add() (the build_directories path) quadratic in entry count
        tid_a, off_a, len_a, run_a = (
            np.concatenate([p[i] for p in self._pend]) for i in range(4)
        )
        pos = 0
        total = len(tid_a)
        while total - pos >= self.leaf_size:
            self._write_leaf(tid_a[pos:pos + self.leaf_size],
                             off_a[pos:pos + self.leaf_size],
                             len_a[pos:pos + self.leaf_size],
                             run_a[pos:pos + self.leaf_size])
            pos += self.leaf_size
        if pos < total:
            self._pend = [(tid_a[pos:], off_a[pos:], len_a[pos:],
                           run_a[pos:])]
            self._pend_n = total - pos
        else:
            self._pend = []
            self._pend_n = 0

    def _write_leaf(self, tid, off, length, run) -> None:
        blob = compress(encode_leaf(tid, off, length, run), self.codec)
        self.root_entries.append(
            DirEntry(int(tid[0]), self._leaf_off, len(blob), 0))
        self._spill.write(blob)
        self._leaf_off += len(blob)

    @property
    def leaf_length(self) -> int:
        """Total compressed leaf-section bytes written so far (0 in root
        mode)."""
        return self._leaf_off if self.leaf_size else 0

    def finish(self) -> tuple[bytes, bytes | None, int]:
        """-> (root bytes UNCOMPRESSED, leaf section bytes, entry count).
        Leaf section is b"" in root mode; None when leaves went to a
        caller-provided spill (read them back from there)."""
        if self._held is not None:
            h = self._held
            self._held = None
            self._emit(np.array([h[0]]), np.array([h[1]]),
                       np.array([h[2]]), np.array([h[3]]))
        if self.n_written != self.n_declared:
            raise ValueError(
                f"DirectoryBuilder: declared {self.n_declared} coalesced "
                f"entries but received {self.n_written} — the leaf split "
                "would diverge between finalize paths")
        if self.leaf_size == 0:
            head = bytearray()
            encode_varint(self.n_written, head)
            return (bytes(head) + bytes(self._cols[0]) + bytes(self._cols[1])
                    + bytes(self._cols[2]) + bytes(self._cols[3]),
                    b"", self.n_written)
        if self._pend_n:
            self._write_leaf(*(
                np.concatenate([p[i] for p in self._pend]) for i in range(4)
            ))
            self._pend = []
            self._pend_n = 0
        root = encode_directory(self.root_entries)
        leaf_section = self._spill.getvalue() if self._own_spill else None
        return root, leaf_section, self.n_written


def build_directories(entries: list[DirEntry],
                      internal_compression: int = COMPRESSION_GZIP,
                      leaf_max_entries: int | None = None,
                      ) -> tuple[bytes, bytes, int]:
    """Coalesced entry list -> (root bytes uncompressed, leaf section
    bytes, tile entry count). Root-only under ROOT_MAX_ENTRIES (bytes
    identical to encode_directory); leaf layout above it."""
    n = len(entries)
    b = DirectoryBuilder(n, internal_compression,
                         leaf_max_entries=leaf_max_entries)
    if n:
        b.add(
            np.fromiter((e.tile_id for e in entries), np.int64, n),
            np.fromiter((e.offset for e in entries), np.int64, n),
            np.fromiter((e.length for e in entries), np.int64, n),
            np.fromiter((e.run_length for e in entries), np.int64, n),
        )
    root, leaf, n_out = b.finish()
    return root, leaf, n_out


# ---------------------------------------------------------------------------
# Vectorized directory columns (the streaming DirectoryBuilder's kernels)
# ---------------------------------------------------------------------------

def varint_array_u64(vals) -> bytes:
    """Vectorized LEB128 for uint64 arrays (numpy; up to 10 bytes/value).
    Byte-identical to encode_varint applied per value."""
    import numpy as np

    v = np.asarray(vals, dtype=np.uint64)
    n = len(v)
    if n == 0:
        return b""
    nb = np.ones(n, dtype=np.int64)
    t = v >> np.uint64(7)
    while t.any():
        nb += (t > 0)
        t >>= np.uint64(7)
    total = int(nb.sum())
    out = np.zeros(total, dtype=np.uint8)
    pos = np.concatenate(([0], np.cumsum(nb)[:-1]))
    cur = v.copy()
    active = np.ones(n, dtype=bool)
    k = 0
    while active.any():
        byte = (cur & np.uint64(0x7F)).astype(np.uint8)
        more = cur >= np.uint64(0x80)
        byte[more] |= 0x80
        idx = pos[active] + k
        out[idx] = byte[active]
        cur >>= np.uint64(7)
        active = active & more
        k += 1
    return out.tobytes()


def coalesce_runs_arrays(tid, off, length):
    """Vectorized run-length coalesce for run_length==1 entry arrays sorted
    by tile_id: same (offset, length) on consecutive tile_ids merge. Returns
    (tid, off, length, run) arrays — identical output to
    coalesce_run_lengths over the equivalent DirEntry list."""
    import numpy as np

    tid = np.asarray(tid, dtype=np.int64)
    off = np.asarray(off, dtype=np.int64)
    length = np.asarray(length, dtype=np.int64)
    if len(tid) == 0:
        z = np.empty(0, dtype=np.int64)
        return z, z, z, z
    new = np.ones(len(tid), dtype=bool)
    new[1:] = (
        (off[1:] != off[:-1]) | (length[1:] != length[:-1])
        | (tid[1:] != tid[:-1] + 1)
    )
    starts = np.flatnonzero(new)
    runs = np.diff(np.append(starts, len(tid)))
    return tid[starts], off[starts], length[starts], runs


def encode_dir_columns(tid, off, length, run, prev_tid: int,
                       prev_expected: int, first_global: bool):
    """Columnar varint sections for a coalesced entry slice, given the
    stream state before it (previous entry's tile_id and expected data
    offset). Returns (tid_bytes, run_bytes, len_bytes, off_bytes) —
    byte-identical to the corresponding slice of encode_directory."""
    import numpy as np

    tid = np.asarray(tid, dtype=np.int64)
    off = np.asarray(off, dtype=np.int64)
    length = np.asarray(length, dtype=np.int64)
    run = np.asarray(run, dtype=np.int64)
    if len(tid) == 0:
        return b"", b"", b"", b""
    prev = np.empty(len(tid), dtype=np.int64)
    prev[0] = prev_tid
    prev[1:] = tid[:-1]
    expected = np.empty(len(tid), dtype=np.int64)
    expected[0] = prev_expected
    expected[1:] = off[:-1] + length[:-1]  # run_length >= 1 always
    off_enc = np.where((off == expected), 0, off + 1).astype(np.uint64)
    if first_global:
        off_enc[0] = off[0] + 1  # entry 0 of the directory never uses 0
    return (
        varint_array_u64((tid - prev).astype(np.uint64)),
        varint_array_u64(run.astype(np.uint64)),
        varint_array_u64(length.astype(np.uint64)),
        varint_array_u64(off_enc),
    )

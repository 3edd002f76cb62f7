"""Leaf-directory WRITER tests (round-5: the last 100x-scale item).

Past ROOT_MAX_ENTRIES coalesced entries the writer spills fixed-size
entry chunks to the PMTiles leaf section (root entries with
run_length==0 — the spec two-level layout the round-4 READER already
consumes). These tests pin: spec invariants on our own leaf archive,
read_tile/PMTilesReader round-trips, byte-identity between the
single-writer and the sharded sink's finalize in leaf mode, and bounded
driver memory on a 10^6-entry synthetic archive.
"""

import gzip
import os
import time

import numpy as np
import pytest

from gpq_tiles_spark.config import TilerConfig
from gpq_tiles_spark.kernels import hilbert as H
from gpq_tiles_spark.kernels import mvt_fast
from gpq_tiles_spark.kernels.hashes import content_hash64
from gpq_tiles_spark.kernels.pmtiles import (
    COMPRESSION_GZIP,
    HEADER_SIZE,
    ROOT_MAX_ENTRIES,
    Header,
    PMTilesAssembler,
    PMTilesReader,
    decode_directory,
    decompress,
    read_tile,
)
from gpq_tiles_spark.pipeline import _finalize_entry_files
from tests.child_memory import run_measured


def _make_tiles(n: int, z: int = 8):
    """n distinct single-point MVT tiles on a grid at zoom z, in ascending
    tile_id order: (tile_id, z, x, y, mvt, content_hash) tuples."""
    side = int(np.ceil(np.sqrt(n)))
    xs, ys = np.meshgrid(np.arange(side), np.arange(side))
    xs, ys = xs.ravel()[:n], ys.ravel()[:n]
    tids = H.tile_id(z, xs, ys)
    order = np.argsort(tids)
    head, tail = mvt_fast.layer_head_tail("features", 4096)
    out = []
    for i in order:
        # distinct point per tile -> distinct blob -> no run coalescing
        msg = mvt_fast._point_feature_bytes(
            int(tids[i]) & 0x7FFF, int(xs[i]) % 4096, int(ys[i]) % 4096)
        mvt = mvt_fast.wrap_layer(head, [msg], tail)
        out.append((int(tids[i]), z, int(xs[i]), int(ys[i]), mvt,
                    content_hash64(mvt) & 0x7FFF_FFFF_FFFF_FFFF))
    return out


N_LEAF = ROOT_MAX_ENTRIES + 1904  # 6000: comfortably past the threshold


@pytest.fixture(scope="module")
def leaf_archive(tmp_path_factory):
    tiles = _make_tiles(N_LEAF)
    path = str(tmp_path_factory.mktemp("leafarch") / "leaf.pmtiles")
    asm = PMTilesAssembler(layer_name="features", min_zoom=0, max_zoom=8)
    for tid, z, x, y, mvt, h in tiles:
        asm.add_tile(tid, z, mvt, h, 1)
    asm.bounds = [-10.0, -10.0, 10.0, 10.0]
    asm.finalize(path)
    return path, tiles


def test_leaf_archive_spec_invariants(leaf_archive):
    """The golden-archive invariant suite, applied to OUR leaf archive."""
    path, tiles = leaf_archive
    data = open(path, "rb").read()
    hdr = Header.from_bytes(data[:HEADER_SIZE])
    assert hdr.leaf_dirs_length > 0
    assert hdr.leaf_dirs_offset == (
        hdr.json_metadata_offset + hdr.json_metadata_length)
    assert hdr.tile_data_offset == hdr.leaf_dirs_offset + hdr.leaf_dirs_length
    root = decode_directory(decompress(
        data[hdr.root_dir_offset:hdr.root_dir_offset + hdr.root_dir_length],
        hdr.internal_compression))
    # root holds ONLY leaf pointers, stays spec-small, and its encoded
    # form is far under the ~16 KB root guidance
    assert all(e.run_length == 0 for e in root)
    assert len(root) <= ROOT_MAX_ENTRIES
    assert hdr.root_dir_length < 16 * 1024
    # leaf pointers: ascending tile_ids, back-to-back byte ranges
    off = 0
    for a, b in zip(root, root[1:]):
        assert a.tile_id < b.tile_id
    entries = []
    for e in root:
        assert e.offset == off, "leaf blobs must be contiguous"
        off += e.length
        leaf = decode_directory(decompress(
            data[hdr.leaf_dirs_offset + e.offset:
                 hdr.leaf_dirs_offset + e.offset + e.length],
            hdr.internal_compression))
        assert all(le.run_length >= 1 for le in leaf)  # no nested leaves
        assert leaf[0].tile_id == e.tile_id
        entries.extend(leaf)
    assert off == hdr.leaf_dirs_length
    # expanded entries: the full, strictly-increasing tile set with header
    # bookkeeping intact (tile_entries_count counts TILE entries)
    assert len(entries) == hdr.tile_entries_count == N_LEAF
    assert sum(e.run_length for e in entries) == hdr.addressed_tiles_count
    for a, b in zip(entries, entries[1:]):
        assert a.tile_id + max(a.run_length, 1) <= b.tile_id
    seen = {}
    last_off = -1
    for e in entries:
        assert e.offset + e.length <= hdr.tile_data_length
        if (e.offset, e.length) not in seen:
            assert e.offset >= last_off
            last_off = e.offset
            seen[(e.offset, e.length)] = None
    assert len(seen) == hdr.tile_contents_count == N_LEAF


def test_leaf_archive_roundtrips_both_readers(leaf_archive):
    path, tiles = leaf_archive
    rdr = PMTilesReader(path)
    assert len(rdr.tile_ids()) == N_LEAF
    # sample across leaves (first, boundary-adjacent, last)
    for idx in (0, 1, 4095, 4096, 4097, N_LEAF // 2, N_LEAF - 1):
        tid, z, x, y, mvt, _h = tiles[idx]
        got = read_tile(path, z, x, y)
        assert got == mvt, f"read_tile mismatch at idx {idx}"
        assert rdr.get_tile_bytes(tid) == mvt
    # absent tile inside the id range -> None (not a wrong blob)
    absent_zxy = H.tile_id_to_zxy(tiles[-1][0] + 1)
    assert read_tile(path, *absent_zxy) is None


def test_reader_is_lazy_on_leaf_archives(leaf_archive):
    """Round-6 scale symmetry: opening a leaf archive decodes ONLY the
    root (O(root), never O(tiles)); leaves resolve on demand through the
    LRU and get_tile_bytes binary-searches root then leaf."""
    path, tiles = leaf_archive
    rdr = PMTilesReader(path)
    # open touched no leaf: the root is all leaf pointers, cache empty
    assert all(e.run_length == 0 for e in rdr._root)
    assert rdr._leaf_cache == {}
    # one lookup decodes exactly one leaf
    tid0, z, x, y, mvt0, _h = tiles[0]
    assert rdr.get_tile_bytes(tid0) == mvt0
    assert len(rdr._leaf_cache) == 1
    # a lookup in the same leaf is a cache hit, not a second decode
    tid1 = tiles[1][0]
    assert rdr.get_tile_bytes(tid1) == tiles[1][4]
    assert len(rdr._leaf_cache) == 1
    # a lookup in the LAST leaf decodes a second one
    tidN, _z, _x, _y, mvtN, _h = tiles[-1]
    assert rdr.get_tile_bytes(tidN) == mvtN
    assert len(rdr._leaf_cache) == 2
    # absent ids (inside the range but unaddressed, and past the end)
    present = {t[0] for t in tiles}
    gap = next(t for t in range(tiles[0][0], tiles[-1][0])
               if t not in present)
    assert rdr.get_tile_bytes(gap) is None
    assert rdr.get_tile_bytes(tiles[-1][0] + 10_000) is None
    rdr.close()


def test_reader_every_tile_via_binary_search(leaf_archive):
    """get_tile_bytes must return the right blob for EVERY tile across
    leaf boundaries (bisect correctness), and iter_entries must stream
    the same expansion tile_ids() materializes."""
    path, tiles = leaf_archive
    rdr = PMTilesReader(path)
    for tid, _z, _x, _y, mvt, _h in tiles:
        assert rdr.get_tile_bytes(tid) == mvt
    assert rdr.tile_ids() == sorted(t[0] for t in tiles)
    assert [e.tile_id for e in rdr.iter_entries()] == [
        e.tile_id for e in rdr.entries]
    rdr.close()


def test_reader_leaf_cache_is_bounded(leaf_archive, monkeypatch):
    """The leaf LRU never exceeds its cap: probing one tile per leaf with
    a cap of 1 keeps at most 1 decoded leaf resident."""
    path, tiles = leaf_archive
    rdr = PMTilesReader(path)
    monkeypatch.setattr(PMTilesReader, "_LEAF_CACHE_MAX", 1)
    leaf_starts = [e.tile_id for e in rdr._root]
    assert len(leaf_starts) >= 2
    for tid in leaf_starts:
        assert rdr.get_tile_bytes(tid) is not None
        assert len(rdr._leaf_cache) <= 1
    # most-recently-used leaf survives; the first one was evicted
    keys = list(rdr._leaf_cache)
    last = rdr._root[-1]
    assert keys[-1] == (last.offset, last.length)
    assert (rdr._root[0].offset, rdr._root[0].length) not in rdr._leaf_cache
    rdr.close()


def test_leaf_small_archive_bytes_unchanged(tmp_path):
    """At <= ROOT_MAX_ENTRIES entries the archive must stay root-only —
    byte-identical layout to previous rounds (no leaf section)."""
    tiles = _make_tiles(64)
    path = str(tmp_path / "small.pmtiles")
    asm = PMTilesAssembler(layer_name="features", min_zoom=0, max_zoom=8)
    for tid, z, x, y, mvt, h in tiles:
        asm.add_tile(tid, z, mvt, h, 1)
    asm.finalize(path)
    hdr = Header.from_bytes(open(path, "rb").read(HEADER_SIZE))
    assert hdr.leaf_dirs_offset == 0 and hdr.leaf_dirs_length == 0
    assert hdr.tile_data_offset == (
        hdr.json_metadata_offset + hdr.json_metadata_length)


def test_leaf_max_entries_knob(tmp_path):
    """TilerConfig.leaf_max_entries (round-6 escape hatch): finer leaves
    on request, root pointer clamp still wins, root-only threshold and
    default plan unchanged, archives stay readable at any setting."""
    from gpq_tiles_spark.config import TilerConfig
    from gpq_tiles_spark.kernels.pmtiles import (ROOT_LEAF_POINTERS_MAX,
                                                 plan_leaf_size)

    # planner semantics
    assert plan_leaf_size(100, leaf_max_entries=64) == 0  # root-only wins
    assert plan_leaf_size(N_LEAF) == plan_leaf_size(N_LEAF, None)
    assert plan_leaf_size(N_LEAF, leaf_max_entries=512) == 512
    # clamp: honoring a tiny leaf at huge n would blow up the root
    big = 10_000_000
    assert plan_leaf_size(big, leaf_max_entries=512) == -(
        -big // ROOT_LEAF_POINTERS_MAX)
    # config validation
    with pytest.raises(ValueError):
        TilerConfig(leaf_max_entries=4).validate()
    TilerConfig(leaf_max_entries=512).validate()

    # a real archive with finer leaves: more root pointers, same tiles
    tiles = _make_tiles(N_LEAF)
    path = str(tmp_path / "fine.pmtiles")
    asm = PMTilesAssembler(layer_name="features", min_zoom=0, max_zoom=8,
                           leaf_max_entries=512)
    for tid, z, x, y, mvt, h in tiles:
        asm.add_tile(tid, z, mvt, h, 1)
    asm.finalize(path)
    rdr = PMTilesReader(path)
    assert len(rdr._root) == -(-N_LEAF // 512)  # one pointer per 512-leaf
    for idx in (0, 511, 512, N_LEAF - 1):
        tid, z, x, y, mvt, _h = tiles[idx]
        assert rdr.get_tile_bytes(tid) == mvt
        assert read_tile(path, z, x, y) == mvt
    assert len(rdr.tile_ids()) == N_LEAF
    rdr.close()


def test_leaf_max_entries_byte_parity_across_finalize_paths(tmp_path):
    """Single-writer and sharded finalize must stay byte-identical
    when the knob moves the split."""
    from gpq_tiles_spark.config import TilerConfig
    from gpq_tiles_spark.kernels.pmtiles import COMPRESSION_GZIP, compress
    from gpq_tiles_spark.pipeline import _finalize_entry_files

    tiles = _make_tiles(N_LEAF)
    single = str(tmp_path / "single.pmtiles")
    asm = PMTilesAssembler(layer_name="features", min_zoom=0, max_zoom=8,
                           leaf_max_entries=1000)
    for tid, z, x, y, mvt, h in tiles:
        asm.add_tile(tid, z, mvt, h, 1)
    asm.bounds = [-10.0, -10.0, 10.0, 10.0]
    asm.finalize(single)
    shard_dir = str(tmp_path / "shards")
    pids = _synthetic_entries(
        tiles, shard_dir, lambda m: compress(m, COMPRESSION_GZIP))
    out = str(tmp_path / "dist.pmtiles")
    cfg = TilerConfig(min_zoom=0, max_zoom=8, shuffle_partitions=8,
                      leaf_max_entries=1000)
    _finalize_entry_files(shard_dir, pids, out, (-10.0, -10.0, 10.0, 10.0),
                          cfg, COMPRESSION_GZIP)
    assert open(single, "rb").read() == open(out, "rb").read()


def _synthetic_entries(tiles, shard_dir, codec_blobs, pids=None):
    """Shard and entry files reproducing what _make_shard_writer would
    write for these tiles (tile ``i`` in shard ``pids[i]``, default all
    in shard 0): each shard in tile order, deduped on (content_hash,
    raw_len) within the shard. Returns the shard ids written."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from gpq_tiles_spark.pipeline import (_entries_arrow_schema,
                                          _entries_path, _shard_path)

    os.makedirs(shard_dir, exist_ok=True)
    pids = [0] * len(tiles) if pids is None else pids
    for pid in sorted(set(pids)):
        rows, seen, local_off = [], {}, 0
        with open(_shard_path(shard_dir, pid), "wb") as f:
            for (tid, z, x, y, mvt, h), p in zip(tiles, pids):
                if p != pid:
                    continue
                hit = seen.get((h, len(mvt)))
                if hit is None:
                    blob = codec_blobs(mvt)
                    f.write(blob)
                    hit = seen[(h, len(mvt))] = (local_off, len(blob))
                    local_off += len(blob)
                rows.append((tid, z, h, len(mvt), *hit, 1, pid))
        cols = list(zip(*rows))
        schema = _entries_arrow_schema()
        pq.write_table(pa.table(
            {f.name: pa.array(c, f.type) for f, c in zip(schema, cols)},
            schema=schema), _entries_path(shard_dir, pid))
    return sorted(set(pids))


@pytest.mark.parametrize("pids", [[0, 0, 0], [0, 1, 0]])
def test_assembler_and_sharded_finalize_dedup_on_hash_and_length(
        tmp_path, pids):
    """One content hash on two blobs of different raw length: tiles h/A,
    h/B, h/A are two blobs to the single-writer assembler and to the
    sharded finalize alike, so both write the same bytes (the assembler
    once keyed on the hash alone, and wrote A twice)."""
    from gpq_tiles_spark.config import TilerConfig
    from gpq_tiles_spark.kernels.pmtiles import COMPRESSION_GZIP, compress
    from gpq_tiles_spark.pipeline import _finalize_entry_files

    head, tail = mvt_fast.layer_head_tail("features", 4096)
    pts = [mvt_fast._point_feature_bytes(i, 10 * i, 20 * i) for i in (1, 2)]
    a = mvt_fast.wrap_layer(head, pts[:1], tail)
    b = mvt_fast.wrap_layer(head, pts, tail)
    assert len(a) != len(b)
    h = 12345
    tiles = [(int(H.tile_id(8, np.array([x]), np.array([0]))[0]), 8, x, 0,
              mvt, h) for x, mvt in zip((0, 1, 2), (a, b, a))]
    tiles.sort()
    single = str(tmp_path / "single.pmtiles")
    asm = PMTilesAssembler(layer_name="features", min_zoom=0, max_zoom=8)
    for tid, z, x, y, mvt, hh in tiles:
        asm.add_tile(tid, z, mvt, hh, 1)
    asm.bounds = [-10.0, -10.0, 10.0, 10.0]
    assert asm.finalize(single).tile_contents_count == 2
    shard_dir = str(tmp_path / "shards")
    written = _synthetic_entries(
        tiles, shard_dir, lambda m: compress(m, COMPRESSION_GZIP), pids)
    out = str(tmp_path / "sharded.pmtiles")
    stats = _finalize_entry_files(
        shard_dir, written, out, (-10.0, -10.0, 10.0, 10.0),
        TilerConfig(min_zoom=0, max_zoom=8), COMPRESSION_GZIP)
    assert stats["unique_blobs"] == 2
    assert open(single, "rb").read() == open(out, "rb").read()
    for tid, z, x, y, mvt, hh in tiles:
        assert read_tile(out, z, x, y) == mvt


@pytest.mark.parametrize("seed,shards,read_rows,n", [
    (1, 3, 7, 6000), (2, 5, 64, 6000), (3, 2, 1, 300), (4, 1, 5, 300)])
def test_sharded_finalize_matches_assembler_across_windows(
        tmp_path, monkeypatch, seed, shards, read_rows, n):
    """Entry files read a few rows at a time: runs of one blob cross the
    merge windows and chain through one-entry windows, and blobs repeat
    across shards. The coalesced count and the archive still equal the
    single-writer assembler's, in leaf mode and root-only."""
    from gpq_tiles_spark import pipeline as P
    from gpq_tiles_spark.config import TilerConfig
    from gpq_tiles_spark.kernels.pmtiles import COMPRESSION_GZIP, compress

    rng = np.random.default_rng(seed)
    tids = (4 ** 8 - 1) // 3 + np.cumsum(rng.choice([1, 1, 1, 2], n))
    blob = np.repeat(rng.integers(0, 30, n), rng.integers(1, 60, n))[:n]
    tiles = [(int(t), 8, 0, 0, b"blob%03d" % g + b"." * int(g), int(g))
             for t, g in zip(tids, blob)]
    single = str(tmp_path / "single.pmtiles")
    asm = PMTilesAssembler(layer_name="features", min_zoom=0, max_zoom=8)
    for tid, z, x, y, mvt, h in tiles:
        asm.add_tile(tid, z, mvt, h, 1)
    asm.bounds = [-10.0, -10.0, 10.0, 10.0]
    asm.finalize(single)
    shard_dir = str(tmp_path / "shards")
    pids = _synthetic_entries(
        tiles, shard_dir, lambda m: compress(m, COMPRESSION_GZIP),
        rng.integers(0, shards, n).tolist())
    monkeypatch.setattr(P, "ENTRY_READ_ROWS", read_rows)
    out = str(tmp_path / "sharded.pmtiles")
    P._finalize_entry_files(shard_dir, pids, out, (-10.0, -10.0, 10.0, 10.0),
                            TilerConfig(min_zoom=0, max_zoom=8),
                            COMPRESSION_GZIP)
    assert open(single, "rb").read() == open(out, "rb").read()


def test_sharded_finalize_rejects_entry_file_out_of_tile_order(tmp_path):
    """The merge needs each entry file in tile_id order, as the writer's
    sorted reduce input leaves it; a file out of order fails loudly
    instead of writing a mis-sorted directory."""
    from gpq_tiles_spark.config import TilerConfig
    from gpq_tiles_spark.kernels.pmtiles import COMPRESSION_GZIP, compress
    from gpq_tiles_spark.pipeline import _finalize_entry_files

    tiles = _make_tiles(8)[::-1]
    shard_dir = str(tmp_path / "shards")
    pids = _synthetic_entries(
        tiles, shard_dir, lambda m: compress(m, COMPRESSION_GZIP))
    with pytest.raises(RuntimeError, match="out of tile_id order"):
        _finalize_entry_files(shard_dir, pids, str(tmp_path / "x.pmtiles"),
                              (-10.0, -10.0, 10.0, 10.0), TilerConfig(),
                              COMPRESSION_GZIP)


def test_distributed_finalize_matches_single_writer_in_leaf_mode(
        tmp_path, leaf_archive):
    """_finalize_entry_files must produce the BYTE-identical archive to
    PMTilesAssembler at leaf scale (same deterministic split)."""
    from gpq_tiles_spark.config import TilerConfig
    from gpq_tiles_spark.kernels.pmtiles import COMPRESSION_GZIP, compress
    from gpq_tiles_spark.pipeline import _finalize_entry_files

    single_path, tiles = leaf_archive
    shard_dir = str(tmp_path / "shards")
    pids = _synthetic_entries(
        tiles, shard_dir, lambda m: compress(m, COMPRESSION_GZIP))
    out = str(tmp_path / "dist.pmtiles")
    cfg = TilerConfig(min_zoom=0, max_zoom=8, shuffle_partitions=8)
    _finalize_entry_files(shard_dir, pids, out, (-10.0, -10.0, 10.0, 10.0),
                          cfg, COMPRESSION_GZIP)
    a = open(single_path, "rb").read()
    b = open(out, "rb").read()
    assert a == b, "leaf-mode archives differ between finalize paths"


def _finalize_million(shard_dir: str, out: str):
    """The 10^6-entry finalize below, run in a child process: (the stats
    the test checks, wall seconds). Its imports are module-level, so the
    child makes them before its first RSS reading."""
    cfg = TilerConfig(min_zoom=0, max_zoom=10, shuffle_partitions=32)
    t0 = time.perf_counter()
    stats = _finalize_entry_files(
        shard_dir, [0], out, (-10.0, -10.0, 10.0, 10.0), cfg,
        COMPRESSION_GZIP)
    elapsed = time.perf_counter() - t0
    return ({"tiles": int(stats["tiles"]),
             "unique_blobs": int(stats["unique_blobs"])}, elapsed)


def test_million_entry_finalize_streams_and_stays_bounded(tmp_path):
    """10^6 directory entries through _finalize_entry_files: the leaf
    path engages, the archive round-trips, and driver peak RSS stays
    bounded (entry bytes never accumulate on the driver). The finalize
    runs in a fresh process, whose VmHWM growth is the finalize's own."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from gpq_tiles_spark.pipeline import _entries_arrow_schema, _entries_path

    n = 1_000_000
    n_blobs = 64
    blobs = [gzip.compress(b"blob%05d" % k, mtime=0) for k in range(n_blobs)]
    offs = np.concatenate(([0], np.cumsum([len(b) for b in blobs])[:-1]))
    shard_dir = str(tmp_path / "shards1m")
    os.makedirs(shard_dir)
    with open(os.path.join(shard_dir, "shard_00000.bin"), "wb") as f:
        for b in blobs:
            f.write(b)
    raw_len = len(b"blob%05d" % 0)
    tid = np.arange(n, dtype=np.int64)
    k = tid % n_blobs
    pq.write_table(pa.table({
        "tile_id": tid,
        "z": np.full(n, 10, dtype=np.int32),
        "content_hash": k,
        "raw_len": np.full(n, raw_len, dtype=np.int64),
        "local_off": offs[k].astype(np.int64),
        "blob_len": np.array([len(b) for b in blobs], dtype=np.int64)[k],
        "n_features": np.ones(n, dtype=np.int64),
        "pid": np.zeros(n, dtype=np.int32),
    }, schema=_entries_arrow_schema()), _entries_path(shard_dir, 0))
    del tid, k
    out = str(tmp_path / "million.pmtiles")
    (stats, elapsed), growth_mib = run_measured(
        "tests.test_leaf_directories:_finalize_million", shard_dir, out)
    assert stats["tiles"] == n
    assert stats["unique_blobs"] == n_blobs
    hdr = Header.from_bytes(open(out, "rb").read(HEADER_SIZE))
    assert hdr.leaf_dirs_length > 0, "leaf path must engage at 10^6 entries"
    assert hdr.addressed_tiles_count == n
    assert hdr.tile_entries_count == n  # distinct neighbors: no coalescing
    assert hdr.root_dir_length < 16 * 1024
    # spot-read across the id space (leaf lookups through read_tile)
    for tid in (0, 4096, 500_000, n - 1):
        z, x, y = H.tile_id_to_zxy(tid)
        got = read_tile(out, z, x, y)
        assert got == b"blob%05d" % (tid % n_blobs)
    # bounded driver growth: 10^6 40-byte entries is ~40 MB of payload;
    # the stream must not hold the expanded entry/Row forms (which cost
    # >10x that) all at once. The bound is deliberately loose — it exists
    # to catch a reintroduced collect(), not to measure.
    assert growth_mib < 1200, f"driver RSS grew {growth_mib} MiB"
    assert elapsed < 60, f"finalize took {elapsed:.1f}s"


def test_full_pipeline_leaf_scale_byte_identical(spark, tmp_path):
    """Capstone: the REAL pipeline (extract-less point corpus -> fan-out ->
    shuffle -> encode -> sink) at a tile count past ROOT_MAX_ENTRIES must
    produce, through ``convert`` and ``convert_sharded``, the driver-side
    reference archive's bytes in leaf mode, readable."""
    from gpq_tiles_spark.config import TilerConfig
    from gpq_tiles_spark.pipeline import convert, convert_sharded
    from tests.reference_tiles import reference_archive

    n = 6000
    rng = np.random.default_rng(11)
    lng = rng.uniform(-40.0, 40.0, n)
    lat = rng.uniform(-40.0, 40.0, n)
    rows = []
    from gpq_tiles_spark.kernels import geom as G

    for i in range(n):
        wkb = G.to_wkb((G.POINT, (float(lng[i]), float(lat[i]))))
        rows.append((i, str(i), 0, bytearray(wkb), G.POINT,
                     float(lng[i]), float(lat[i]),
                     float(lng[i]), float(lat[i])))
    feats = spark.createDataFrame(
        rows,
        "feature_id long, doc_id string, span_offset int, wkb binary, "
        "geom_type int, lng_min double, lat_min double, lng_max double, "
        "lat_max double")
    cfg = TilerConfig(min_zoom=9, max_zoom=9, shuffle_partitions=8)
    p1 = str(tmp_path / "single_leaf.pmtiles")
    p2 = str(tmp_path / "sharded_leaf.pmtiles")
    s1 = convert(feats, p1, cfg)
    s2 = convert_sharded(feats, p2, cfg)
    assert s1["tiles"] == s2["tiles"] > ROOT_MAX_ENTRIES
    a = open(p1, "rb").read()
    assert a == open(p2, "rb").read()
    assert a == reference_archive(feats, cfg, str(tmp_path / "ref.pmtiles"))
    hdr = Header.from_bytes(a[:HEADER_SIZE])
    assert hdr.leaf_dirs_length > 0
    r = PMTilesReader(p1)
    assert len(r.tile_ids()) == s1["tiles"]


def test_reader_entries_property_cached(leaf_archive):
    """entries materializes once and caches — repeated access must not
    re-decompress every leaf (round-6 review) — and it is an immutable
    TUPLE so no caller can corrupt the shared cache in place."""
    path, _tiles = leaf_archive
    rdr = PMTilesReader(path)
    e1 = rdr.entries
    assert rdr.entries is e1
    assert isinstance(e1, tuple)
    assert len(e1) == N_LEAF


def test_reader_concurrent_lookups_through_lru(leaf_archive):
    """Threads sharing one reader hammer get_tile_bytes across leaf
    boundaries with a tiny LRU — eviction must never raise (round-6
    review: pop with default + guarded eviction) and every lookup must
    return the right bytes."""
    import threading

    path, tiles = leaf_archive
    rdr = PMTilesReader(path)
    rdr._LEAF_CACHE_MAX = 1  # force constant eviction churn
    idxs = [0, 1, 4095, 4096, 4097, N_LEAF // 2, N_LEAF - 1]
    errors = []

    def worker(seed):
        try:
            for k in range(120):
                tid, z, x, y, mvt, _h = tiles[idxs[(seed + k) % len(idxs)]]
                got = rdr.get_tile_bytes(tid)
                assert got == mvt
        except Exception as e:  # pragma: no cover - failure path
            errors.append(e)

    threads = [threading.Thread(target=worker, args=(i,)) for i in range(8)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert errors == []

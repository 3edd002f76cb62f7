"""Round-6 zstd codec: ctypes binding to the system libzstd.

The reference CLI's DEFAULT tile compression is zstd level 3
(crates/cli/src/main.rs:69, compression.rs:72-119); until this round the
sandbox could only produce gzip archives (spec-legal but not the
reference default). The binding uses only the public stable libzstd ABI,
so the codec activates on any host carrying the shared library — no pip
package needed.

Cross-checks run against the REAL zstd CLI when one is on PATH (both
directions, plus a piped frame that omits the content-size header to
force the streaming decode path).
"""

import os
import shutil
import subprocess

import pytest

from gpq_tiles_spark.kernels import pmtiles as P
from gpq_tiles_spark.kernels import zstd_ctypes as Z

pytestmark = pytest.mark.skipif(
    not Z.available(), reason="no system libzstd on this host")

ZSTD_CLI = shutil.which("zstd")


def test_round_trip_and_determinism():
    data = os.urandom(4096) + b"B" * 100_000 + bytes(range(256)) * 64
    c = Z.compress(data, level=3)
    assert len(c) < len(data)
    assert Z.decompress(c) == data
    assert Z.compress(data, level=3) == c  # deterministic
    assert Z.decompress(Z.compress(b"")) == b""


def test_codec_dispatcher_routes_to_ctypes_backend():
    data = b"tile blob " * 500
    c = P.compress(data, P.COMPRESSION_ZSTD)
    assert P.decompress(c, P.COMPRESSION_ZSTD) == data
    if P._zstd is None:
        # container state: package absent -> bytes must be the ctypes path
        assert c == Z.compress(data, level=3)
    # zstd frame magic (little-endian 0xFD2FB528)
    assert c[:4] == b"\x28\xb5\x2f\xfd"


def test_not_a_frame_raises():
    with pytest.raises(ValueError):
        Z.decompress(b"definitely not zstd")


@pytest.mark.skipif(ZSTD_CLI is None, reason="no zstd CLI on this host")
def test_foreign_cli_cross_decode(tmp_path):
    data = os.urandom(2000) + b"Z" * 30_000
    # ours -> foreign
    out = subprocess.run([ZSTD_CLI, "-d", "-c"], input=Z.compress(data),
                         capture_output=True)
    assert out.returncode == 0 and out.stdout == data
    # foreign (file mode: content size in header) -> ours
    src = tmp_path / "a.bin"
    src.write_bytes(data)
    dst = tmp_path / "a.zst"
    subprocess.run([ZSTD_CLI, "-f", "-q", str(src), "-o", str(dst)],
                   check=True)
    assert Z.decompress(dst.read_bytes()) == data


@pytest.mark.skipif(ZSTD_CLI is None, reason="no zstd CLI on this host")
def test_streaming_decode_of_unknown_content_size_frame():
    data = b"stream me " * 20_000
    # piping through the CLI leaves the frame's content size UNKNOWN,
    # which forces the ZSTD_decompressStream fallback
    p = subprocess.run([ZSTD_CLI, "-c"], input=data, capture_output=True)
    assert p.returncode == 0
    lib = Z._load()
    assert lib.ZSTD_getFrameContentSize(p.stdout, len(p.stdout)) in (
        Z._CONTENTSIZE_UNKNOWN,)
    assert Z.decompress(p.stdout) == data


def test_zstd_archive_end_to_end(spark, docs_table, tmp_path):
    """Full convert with tile_compression='zstd' (the reference default):
    ``convert`` and ``convert_sharded`` write the driver-side reference
    archive's bytes, the header records codec 4, and every tile decodes
    back through both readers."""
    from gpq_tiles_spark.config import TilerConfig
    from gpq_tiles_spark.extract import extract_features
    from gpq_tiles_spark.kernels.pmtiles import read_tile
    from gpq_tiles_spark.pipeline import convert, convert_sharded
    from tests.reference_tiles import reference_archive

    feats = extract_features(spark.read.parquet(docs_table))
    cfg = TilerConfig(min_zoom=0, max_zoom=6, shuffle_partitions=4,
                      tile_compression="zstd")
    p1 = str(tmp_path / "single.pmtiles")
    p2 = str(tmp_path / "sharded.pmtiles")
    s1 = convert(feats, p1, cfg)
    s2 = convert_sharded(feats, p2, cfg)
    assert s1["tiles"] == s2["tiles"] > 0
    expected = reference_archive(feats, cfg, str(tmp_path / "ref.pmtiles"))
    with open(p1, "rb") as f1, open(p2, "rb") as f2:
        assert f1.read() == f2.read() == expected
    hdr = P.Header.from_bytes(open(p1, "rb").read(P.HEADER_SIZE))
    assert hdr.tile_compression == P.COMPRESSION_ZSTD
    # the stored blobs really are zstd frames (first clustered tile sits
    # at tile_data_offset)
    with open(p1, "rb") as f:
        f.seek(hdr.tile_data_offset)
        assert f.read(4) == b"\x28\xb5\x2f\xfd"
    r = P.PMTilesReader(p1)
    tids = list(r.tile_ids())
    assert len(tids) == s1["tiles"]
    total = 0
    for tid in tids:
        mvt = r.get_tile_bytes(tid)  # reader decompresses via the header
        assert mvt[:1] == b"\x1a"  # MVT layer tag
        total += len(mvt)
    # read_tile agrees with the reader on a sample tile
    from gpq_tiles_spark.kernels.hilbert import tile_id_to_zxy
    mid = tids[len(tids) // 2]
    z, x, y = tile_id_to_zxy(mid)
    assert read_tile(p1, z, x, y) == r.get_tile_bytes(mid)
    r.close()
    assert total > 0

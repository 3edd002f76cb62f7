"""Round-7 optimization equivalence tests.

Every optimization this round must leave results bit-identical; these
tests pin the risky ones differentially:

* the archive writer's driver finalize vs the driver-side reference
  encode (``tests/reference_tiles.py``) — byte-identical archives, with
  and without leaf directories (the test names are older than the one
  archive writer);
* the vectorized raster grid fast path vs the per-tile loop;
* spread_small_input's no-op guarantee on well-partitioned input.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from gpq_tiles_spark.config import TilerConfig
from gpq_tiles_spark.fixtures import write_fixture
from gpq_tiles_spark.extract import extract_features
from gpq_tiles_spark.pipeline import convert_sharded

from tests.reference_tiles import reference_archive


@pytest.fixture(scope="module")
def fixture_features(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("r7fix") / "docs.parquet")
    write_fixture(path, n_docs=300, seed=7)
    return extract_features(spark.read.parquet(path))


def _convert_both(feats, tmp_path, cfg, tag):
    """(``convert_sharded``'s archive, the reference archive) bytes."""
    out_sharded = str(tmp_path / f"sharded_{tag}.pmtiles")
    convert_sharded(feats, out_sharded, cfg)
    with open(out_sharded, "rb") as a:
        return a.read(), reference_archive(
            feats, cfg, str(tmp_path / f"reference_{tag}.pmtiles"))


def test_driver_finalize_matches_distributed(fixture_features, tmp_path):
    cfg = TilerConfig(min_zoom=0, max_zoom=6, shuffle_partitions=4)
    a, b = _convert_both(fixture_features, tmp_path, cfg, "plain")
    assert a == b


def test_driver_finalize_matches_distributed_with_leaves(fixture_features,
                                                         tmp_path):
    # leaf_max_entries small enough to force a two-level directory, so the
    # sharded finalize's window-by-window DirectoryBuilder.add covers the
    # leaf-spill path too
    cfg = TilerConfig(min_zoom=0, max_zoom=6, shuffle_partitions=4,
                      leaf_max_entries=16)
    a, b = _convert_both(fixture_features, tmp_path, cfg, "leaves")
    assert a == b


def test_raster_grid_fast_path_matches_loop():
    from gpq_tiles_spark.kernels import geom as G
    from gpq_tiles_spark.kernels.hilbert import tile_id as zxy_to_tile_id
    from gpq_tiles_spark.operators.raster import _grid_chunk

    rng = np.random.default_rng(11)
    zoom = 4
    rows = []
    for tx, ty in [(3, 5), (3, 6), (7, 2)]:
        tid = int(zxy_to_tile_id(zoom, np.array([tx]), np.array([ty]))[0])
        n = int(rng.integers(5, 40))
        lng0 = -180.0 + tx * (360.0 / 16)
        lat_hi = 60.0 - ty * 10.0
        for _ in range(n):
            lng = lng0 + float(rng.uniform(0, 20))
            lat = lat_hi - float(rng.uniform(0, 9))
            wkb = G.to_wkb((G.POINT, (lng, lat)))
            rows.append((tid, wkb))
    pdf = pd.DataFrame(rows, columns=["tile_id", "wkb"]).sort_values(
        "tile_id", kind="stable").reset_index(drop=True)

    fast = _grid_chunk(pdf, 64)
    # force the slow path by appending one non-21-byte wkb row (a
    # LINESTRING is skipped by the loop and contributes no counts)
    line = G.to_wkb((G.LINESTRING, np.array([[0.0, 0.0], [1.0, 1.0]])))
    pdf_slow = pd.concat(
        [pdf, pd.DataFrame([(int(pdf["tile_id"].iloc[-1]), line)],
                           columns=["tile_id", "wkb"])],
        ignore_index=True)
    slow = _grid_chunk(pdf_slow, 64)

    assert list(fast["tile_id"]) == list(slow["tile_id"])
    for ga, gb in zip(fast["grid"], slow["grid"]):
        assert np.array_equal(np.asarray(ga), np.asarray(gb))
    assert [int(v) for v in fast["z"]] == [zoom] * 3


def test_spread_small_input_noop_when_wide(spark):
    from gpq_tiles_spark.partitioning import spread_small_input

    df = spark.range(1000).repartition(64)
    assert spread_small_input(df) is df


def _rand_props(rng, kinds=("color", "size", "name", "rank")):
    from gpq_tiles_spark.kernels.mvt import encode_value

    n = int(rng.integers(0, 4))
    items = []
    for _ in range(n):
        k = kinds[int(rng.integers(0, len(kinds)))]
        v = [lambda: int(rng.integers(0, 5)),
             lambda: f"s{int(rng.integers(0, 4))}",
             lambda: float(rng.integers(0, 3)),
             lambda: bool(rng.integers(0, 2))][int(rng.integers(0, 4))]()
        items.append({"key": k, "val": encode_value(v)})
    return items


@pytest.mark.parametrize("max_tile_bytes", [None, 60])
def test_props_chunk_batched_matches_per_tile(max_tile_bytes):
    """The round-7 chunk-batched props encoder must emit the exact bytes
    of per-tile _encode_props_tile on every tile — including dead records,
    empty/None props, repeated values across tiles, and the budget-capped
    fallback."""
    from gpq_tiles_spark.pipeline import (
        _encode_props_tile,
        _encode_props_tiles_chunk,
    )

    rng = np.random.default_rng(99)
    head, tail = b"\x0a\x01x", b"\x28\x80\x20\x78\x02"
    live_msg = b"\x12\x04\x08\x01\x18\x01"

    tid_l, fid_l, msgs, props = [], [], [], []
    t = 100
    for _ in range(50):
        t += int(rng.integers(1, 3))
        for f in range(int(rng.integers(1, 5))):
            tid_l.append(t)
            fid_l.append(len(fid_l) * 3)
            dead = rng.random() < 0.2
            msgs.append(b"" if dead else live_msg)
            r = rng.random()
            props.append(None if r < 0.15
                         else ([] if r < 0.25 else _rand_props(rng)))
    tid = np.asarray(tid_l, dtype=np.int64)
    fid = np.asarray(fid_l, dtype=np.int64)
    starts = np.flatnonzero(np.concatenate(([True], tid[1:] != tid[:-1])))
    ends = np.append(starts[1:], len(tid))

    for prop_filter in (None, lambda items: [i for i in items
                                             if i["key"] != "color"]):
        cap_a: list = [0, 0]
        got_mvts, got_n = _encode_props_tiles_chunk(
            tid, fid, msgs, props, starts, ends, prop_filter,
            head, tail, max_tile_bytes, cap_a)
        cap_b: list = [0, 0]
        want = [
            _encode_props_tile(int(tid[s]), fid[s:e], msgs[s:e],
                               props[s:e], prop_filter, head, tail,
                               max_tile_bytes, cap_b)
            for s, e in zip(starts, ends)
        ]
        assert got_mvts == [w[0] for w in want]
        assert got_n == [w[1] for w in want]
        assert cap_a == cap_b

"""Salted two-phase encode must be byte-identical to the single-phase path."""

import numpy as np
import pytest

from gpq_tiles_spark.config import TilerConfig
from gpq_tiles_spark.extract import extract_features
from gpq_tiles_spark.kernels import simplify as SK
from gpq_tiles_spark.pipeline import (
    convert,
    detect_hot_tiles,
    encode_tiles_premerge,
    encode_tiles_salted,
    fanout_records,
)

from tests.reference_tiles import reference_tiles


def _tile_bytes(tiles) -> dict:
    return {int(t.tile_id): (bytes(t.mvt), int(t.n_features)) for t in tiles}


def test_salted_matches_single_phase(spark, docs_table):
    feats = extract_features(spark.read.parquet(docs_table))
    cfg = TilerConfig(min_zoom=0, max_zoom=7, shuffle_partitions=8,
                      hot_tile_threshold=5, salt_buckets=4)  # force salting
    records = fanout_records(feats, cfg).cache()

    hot = detect_hot_tiles(feats, cfg)
    assert hot, "low threshold must flag hot tiles"

    plain = _tile_bytes(reference_tiles(feats, cfg).itertuples())
    salted = _tile_bytes(
        encode_tiles_salted(records, cfg, hot_tile_ids=hot).collect())

    assert set(plain) == set(salted)
    diff = [t for t in plain if plain[t] != salted[t]]
    assert diff == [], f"byte mismatch for tiles {diff[:5]}"
    records.unpersist()


def test_salted_without_hot_tiles_matches_unsalted(spark, docs_table,
                                                   tmp_path):
    """With no hot tile, ``salted=True`` writes the unsalted archive, and
    the salted encode over an empty hot list (every tile salt 0) gives
    the premerge tiles."""
    feats = extract_features(spark.read.parquet(docs_table))
    cfg = TilerConfig(min_zoom=0, max_zoom=6, shuffle_partitions=4,
                      hot_tile_threshold=10**9)
    assert detect_hot_tiles(feats, cfg) == []

    p_plain = str(tmp_path / "plain.pmtiles")
    p_salted = str(tmp_path / "salted.pmtiles")
    convert(feats, p_plain, cfg)
    convert(feats, p_salted, cfg, salted=True)
    with open(p_plain, "rb") as a, open(p_salted, "rb") as b:
        assert a.read() == b.read()

    cold = _tile_bytes(encode_tiles_salted(fanout_records(feats, cfg), cfg,
                                           hot_tile_ids=[]).collect())
    assert cold == _tile_bytes(encode_tiles_premerge(feats, cfg).collect())


def test_simplify_in_tile_coords():
    import numpy as np

    from gpq_tiles_spark.kernels import geom as G

    # a wiggle smaller than 1px at this tile size disappears; larger survives
    bounds = (0.0, 0.0, 10.0, 10.0)
    px_deg = 10.0 / 4096  # one pixel in degrees
    line = np.array(
        [[1.0, 1.0], [2.0, 1.0 + 0.4 * px_deg], [3.0, 1.0],
         [4.0, 1.0 + 50 * px_deg], [5.0, 1.0]]
    )
    out = SK.simplify_in_tile_coords((G.LINESTRING, line), *bounds, 4096, 1.0)
    assert len(out[1]) == 4  # tiny wiggle gone, big one kept
    np.testing.assert_allclose(out[1][0], [1.0, 1.0], atol=1e-12)
    np.testing.assert_allclose(out[1][-1], [5.0, 1.0], atol=1e-12)


def _mega_tile_records(n: int = 400):
    """One tile of ``n`` point records plus two small neighbor tiles,
    tile_id/feature_id sorted, as the reduce side receives them."""
    import pandas as pd

    from gpq_tiles_spark.kernels import geom as G
    from gpq_tiles_spark.kernels import tile_math as T
    from gpq_tiles_spark.kernels.hilbert import tile_id

    rng = np.random.default_rng(5)
    rows = []
    for x, count in ((20, 3), (21, n), (22, 2)):
        tid = int(tile_id(6, np.array([x]), np.array([25]))[0])
        b = [float(v[0]) for v in T.tile_bounds(np.array([x]), np.array([25]), 6)]
        for _ in range(count):
            pt = (float(rng.uniform(b[0], b[2])), float(rng.uniform(b[1], b[3])))
            rows.append((tid, len(rows) * 3, G.to_wkb((G.POINT, pt))))
    pdf = pd.DataFrame(rows, columns=["tile_id", "feature_id", "wkb"])
    return pdf.sort_values(["tile_id", "feature_id"], kind="stable",
                           ignore_index=True)


@pytest.mark.parametrize("encoder", ["premerge", "salted_merge"])
def test_run_carry_one_row_batches_match_one_batch(encoder):
    """A multi-hundred-record tile arriving as 1-row Arrow batches encodes
    to the same bytes as the whole tile in one batch, on the premerge wrap
    encoder (whose input rows are the map-side messages) and on the salted
    merge encoder (whose input rows are the per-salt partials of phase A)."""
    import pandas as pd

    from gpq_tiles_spark.pipeline import (
        make_merge_encoder,
        make_msg_encoder,
        make_partial_encoder,
        make_wrap_encoder,
    )

    cfg = TilerConfig(min_zoom=0, max_zoom=6, salt_buckets=512)
    pdf = _mega_tile_records()
    if encoder == "premerge":
        pdf = pd.concat(list(make_msg_encoder(cfg)(iter([pdf]))),
                        ignore_index=True)
        encode = make_wrap_encoder(cfg)
    else:
        # one salt bucket per feature: the mega tile reaches phase B as
        # hundreds of single-record partials
        pdf["salt"] = pdf["feature_id"] % cfg.salt_buckets
        pdf = pdf.sort_values(["tile_id", "salt", "feature_id"],
                              kind="stable", ignore_index=True)
        pdf = pd.concat(list(make_partial_encoder(cfg)(iter([pdf]))),
                        ignore_index=True)
        assert len(pdf) > 300
        encode = make_merge_encoder(cfg)

    def tiles(batches):
        out = pd.concat(list(encode(batches)), ignore_index=True)
        return [(int(t), bytes(m), int(n)) for t, m, n in
                zip(out["tile_id"], out["mvt"], out["n_features"])]

    whole = tiles(iter([pdf]))
    assert len(whole) == 3
    assert tiles(pdf.iloc[i:i + 1] for i in range(len(pdf))) == whole

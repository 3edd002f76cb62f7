"""Salted two-phase encode must be byte-identical to the single-phase path."""

import numpy as np
import pytest

from gpq_tiles_spark.config import TilerConfig
from gpq_tiles_spark.extract import extract_features
from gpq_tiles_spark.kernels import simplify as SK
from gpq_tiles_spark.pipeline import (
    detect_hot_tiles,
    encode_tiles,
    encode_tiles_salted,
    fanout_records,
)


def test_salted_matches_single_phase(spark, docs_table):
    feats = extract_features(spark.read.parquet(docs_table))
    cfg = TilerConfig(min_zoom=0, max_zoom=7, shuffle_partitions=8,
                      hot_tile_threshold=5, salt_buckets=4)  # force salting
    records = fanout_records(feats, cfg).cache()

    hot = detect_hot_tiles(feats, cfg)
    assert hot, "low threshold must flag hot tiles"

    plain = {r.tile_id: (bytes(r.mvt), r.n_features)
             for r in encode_tiles(records, cfg).collect()}
    salted = {r.tile_id: (bytes(r.mvt), r.n_features)
              for r in encode_tiles_salted(records, cfg, hot_tile_ids=hot).collect()}

    assert set(plain) == set(salted)
    diff = [t for t in plain if plain[t] != salted[t]]
    assert diff == [], f"byte mismatch for tiles {diff[:5]}"
    records.unpersist()


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


@pytest.mark.parametrize("encoder", ["wkb", "salted_merge"])
def test_run_carry_one_row_batches_match_one_batch(encoder):
    """A multi-hundred-record tile arriving as 1-row Arrow batches encodes
    to the same bytes as the whole tile in one batch, on the WKB encoder
    and on the salted merge encoder (whose input rows are the per-salt
    partials of phase A)."""
    import pandas as pd

    from gpq_tiles_spark.pipeline import (
        make_encoder,
        make_merge_encoder,
        make_partial_encoder,
    )

    cfg = TilerConfig(min_zoom=0, max_zoom=6, salt_buckets=512)
    pdf = _mega_tile_records()
    if encoder == "wkb":
        encode = make_encoder(cfg)
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

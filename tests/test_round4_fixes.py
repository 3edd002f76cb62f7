"""Round-4 robustness fixes (VERDICT/ADVICE r3)."""

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F


@settings(max_examples=200, deadline=None)
@given(
    st.lists(
        st.tuples(st.integers(0, 2**40), st.integers(0, 500)),
        min_size=1, max_size=60, unique_by=lambda t: t[0],
    ),
    st.integers(1, 4000),
    st.integers(0, 2**30),
)
def test_tile_budget_keep_mask_properties(recs, budget, tile_id):
    """Invariants of the byte-budget rule: (a) under-budget keeps all;
    (b) kept live bytes fit the budget OR exactly one live record is kept;
    (c) zero-length records always kept; (d) order-independent (the kept
    fid SET survives a permutation); (e) deterministic."""
    from gpq_tiles_spark.kernels.drop import tile_budget_keep_mask

    fids = np.array([r[0] for r in recs], dtype=np.int64)
    lens = np.array([r[1] for r in recs], dtype=np.int64)
    m = tile_budget_keep_mask(fids, lens, tile_id, budget)
    if lens.sum() <= budget:
        assert m.all()
        return
    assert m[lens == 0].all()
    kept_live = lens[m & (lens > 0)]
    assert kept_live.sum() <= budget or len(kept_live) == 1
    perm = np.random.default_rng(0).permutation(len(fids))
    m2 = tile_budget_keep_mask(fids[perm], lens[perm], tile_id, budget)
    assert set(fids[m]) == set(fids[perm][m2])
    m3 = tile_budget_keep_mask(fids, lens, tile_id, budget)
    assert (m == m3).all()


def test_knn_join_probe_guard(spark, monkeypatch):
    """knn_join collect()s probes: above the cap it must fail fast and point
    at knn_join_distributed (VERDICT r3 'what's wrong' item 1)."""
    import gpq_tiles_spark.operators.joins as J

    pts = spark.createDataFrame(
        [(i, float(i % 10), float(i // 10)) for i in range(50)],
        "point_id long, lng double, lat double",
    )
    probes = spark.createDataFrame(
        [(i, float(i), 0.5) for i in range(30)],
        "probe_id long, lng double, lat double",
    )
    monkeypatch.setattr(J, "KNN_DRIVER_MAX_PROBES", 10)
    with pytest.raises(ValueError, match="knn_join_distributed"):
        J.knn_join(pts, probes, k=3)
    # under the cap the driver-loop variant still works
    small = probes.where(F.col("probe_id") < 3)
    out = J.knn_join(pts, small, k=3)
    assert out.groupBy("probe_id").count().count() == 3


def test_max_tile_bytes_caps_mega_tile(spark, docs_table, tmp_path):
    """VERDICT r3 item 5: an oversized low-zoom tile is deterministically
    thinned to the byte budget, the cap is recorded in metrics, the archive
    still decodes, and the single-writer, sharded and salted phase-B
    archives equal the driver-side WKB encode byte for byte."""
    from gpq_tiles_spark.config import TilerConfig
    from gpq_tiles_spark.extract import extract_features
    from gpq_tiles_spark.kernels.mvt import decode_tile
    from gpq_tiles_spark.kernels.pmtiles import PMTilesReader, read_tile
    from gpq_tiles_spark.pipeline import convert, convert_sharded
    from tests.reference_tiles import reference_archive

    feats = extract_features(spark.read.parquet(docs_table)).cache()
    budget = 2048

    def cfg(**kw):
        return TilerConfig(min_zoom=0, max_zoom=4, shuffle_partitions=4,
                           max_tile_bytes=budget, **kw)

    p_unc = str(tmp_path / "uncapped.pmtiles")
    stats_unc = convert(feats, p_unc,
                        TilerConfig(min_zoom=0, max_zoom=4,
                                    shuffle_partitions=4))
    raw_unc = read_tile(p_unc, 0, 0, 0)
    assert len(raw_unc) > budget  # non-vacuous: z0 really is over budget
    assert stats_unc["metrics"]["tiles_capped"] == 0

    p_pm = str(tmp_path / "pm.pmtiles")
    p_sh = str(tmp_path / "sh.pmtiles")
    p_sa = str(tmp_path / "sa.pmtiles")
    stats = convert(feats, p_pm, cfg())
    convert_sharded(feats, p_sh, cfg())
    convert(feats, p_sa, cfg(hot_tile_threshold=1, salt_buckets=4),
            salted=True)

    assert stats["metrics"]["tiles_capped"] >= 1
    assert stats["metrics"]["records_capped"] >= 1
    b = reference_archive(feats, cfg(), str(tmp_path / "wkb.pmtiles"))
    assert b == open(p_pm, "rb").read()
    assert b == open(p_sh, "rb").read()
    assert b == open(p_sa, "rb").read()

    raw = read_tile(p_pm, 0, 0, 0)
    # layer head/tail overhead on top of the record-body budget is ~30 B
    assert len(raw) <= budget + 64
    r = PMTilesReader(p_pm)
    n_feats = 0
    for tid in r.tile_ids():
        lay = decode_tile(r.get_tile_bytes(tid))[0]
        n_feats += len(lay["features"])
    assert n_feats > 0
    feats.unpersist()

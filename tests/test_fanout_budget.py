"""The map side's working-set budget (``pipeline.FANOUT_BUDGET_BYTES``).

The fan-out drains its pending records into a frame at the budget, and
the message encoder encodes any larger frame in row slices of at most the
budget. Frame boundaries must never reach the archive, and the budget
must keep one task's fan-out + encode peak small.
"""

import numpy as np
import pandas as pd
import pytest

from gpq_tiles_spark import pipeline as P
from gpq_tiles_spark.config import TilerConfig
from gpq_tiles_spark.extract import extract_features
from gpq_tiles_spark.kernels import geom as G
from tests.child_memory import run_measured

TINY_BUDGET = 1024  # every zoom drains and the encoder slices every frame


def _dense_polygons(n: int, seed: int) -> pd.DataFrame:
    """``n`` ADM4-like fan-out rows: 450-650-vertex star-simple rings
    (harmonic radius wiggle plus noise, so valid and non-convex),
    0.001-0.02 degrees across, scattered over a Netherlands-sized box."""
    rng = np.random.default_rng([seed, 4])
    rows = []
    for i in range(n):
        k = int(rng.integers(450, 651))
        dt = rng.uniform(0.2, 1.8, k)
        th = 2.0 * np.pi * (np.cumsum(dt) - dt[0]) / dt.sum()
        p = rng.uniform(0, 2 * np.pi, 3)
        r = (1.0 + 0.18 * np.sin(3 * th + p[0]) + 0.12 * np.sin(7 * th + p[1])
             + 0.07 * np.sin(17 * th + p[2]) + rng.normal(0.0, 0.03, k))
        np.clip(r, 0.35, None, out=r)
        cx, cy = 3.3 + rng.uniform(0, 3.5), 50.7 + rng.uniform(0, 3.0)
        w, h = rng.uniform(0.001, 0.02, 2)
        ring = np.column_stack([cx + w * r * np.cos(th), cy + h * r * np.sin(th)])
        ring = np.vstack([ring, ring[:1]])
        rows.append({
            "feature_id": i, "wkb": G.to_wkb((G.POLYGON, [ring])),
            "geom_type": G.POLYGON,
            "lng_min": float(ring[:, 0].min()), "lat_min": float(ring[:, 1].min()),
            "lng_max": float(ring[:, 0].max()), "lat_max": float(ring[:, 1].max()),
        })
    return pd.DataFrame(rows)


def _fanout_frames(feats: pd.DataFrame, cfg: TilerConfig) -> list[pd.DataFrame]:
    return list(P.make_fanout_encoded(cfg)(iter([feats[list(P.FANOUT_COLS)]])))


def _sorted_records(frames: list[pd.DataFrame]) -> list[tuple[int, int, bytes]]:
    return sorted(
        (int(t), int(f), bytes(m))
        for fr in frames
        for t, f, m in zip(fr["tile_id"], fr["feature_id"], fr["msg"]))


def _fanout_peak(n: int, seed: int, max_zoom: int) -> dict:
    """One task's fused fan-out + encode over one ``n``-polygon batch, run
    in a child process: frames and records yielded."""
    feats = _dense_polygons(n, seed)
    frames = rows = 0
    for fr in P.make_fanout_encoded(TilerConfig(min_zoom=0, max_zoom=max_zoom))(
            iter([feats[list(P.FANOUT_COLS)]])):
        frames += 1
        rows += len(fr)
    return {"frames": frames, "rows": rows}


def test_fanout_task_peak_stays_bounded():
    """200 vertex-dense polygons through z0-14 in one batch, as one
    benchmark task receives them: the fan-out + encode grows the process
    by well under 100 MiB. It grew ~58 MiB at the 4 MiB budget and ~194
    MiB with one 32 MiB drain buffer and one encode per frame (4-CPU
    container)."""
    out, growth_mib = run_measured(
        "tests.test_fanout_budget:_fanout_peak", 200, 2, 14)
    assert growth_mib < 100, f"fan-out + encode grew RSS by {growth_mib} MiB"
    assert out["rows"] > 3000 and out["frames"] > 1


def test_fanout_large_batch_peak_stays_bounded():
    """2,048 vertex-dense polygons (~18 MB of WKB) in one Arrow batch: the
    fan-out walks the batch in budget slices, so its per-feature caches
    and clip arrays never cover the whole batch. The process grew ~160
    MiB (the input frame included) and ~368 MiB when the fan-out prepared
    the whole batch at once (4-CPU container)."""
    out, growth_mib = run_measured(
        "tests.test_fanout_budget:_fanout_peak", 2048, 2, 14)
    assert growth_mib < 230, f"fan-out + encode grew RSS by {growth_mib} MiB"
    assert out["rows"] > 40000


def test_budget_slices_cover_rows_in_order():
    wkbs = np.array([b"x" * n for n in (0, 10, 100, 5, 3000, 0, 7)], dtype=object)
    # 24 B per row + payload: a row over budget stands alone
    assert P._budget_slices(wkbs, 150) == [(0, 2), (2, 3), (3, 4), (4, 5),
                                           (5, 7)]
    assert P._budget_slices(wkbs, 1 << 20) == [(0, 7)]
    assert P._budget_slices(wkbs[:0], 150) == []


def test_budget_leaves_fanout_records_unchanged(monkeypatch):
    """Spark-free: the sorted (tile_id, feature_id, msg) records of the
    fused fan-out + encode are the same at a 1 KiB budget, which yields
    many more frames, each within the budget unless it is one row."""
    feats = _dense_polygons(12, seed=5)
    cfg = TilerConfig(min_zoom=0, max_zoom=12)
    default = _fanout_frames(feats, cfg)
    monkeypatch.setattr(P, "FANOUT_BUDGET_BYTES", TINY_BUDGET)
    tiny = _fanout_frames(feats, cfg)
    assert len(tiny) > 10 * len(default)
    assert _sorted_records(tiny) == _sorted_records(default)
    # a frame holds one record or fits the budget (24 B per row + WKB)
    assert all(len(fr) == 1 or len(fr) * 24 <= TINY_BUDGET for fr in tiny)


def _dense_features(spark):
    pdf = _dense_polygons(30, seed=9)
    pdf["doc_id"] = pdf["feature_id"].astype(str)
    pdf["span_offset"] = 0
    return spark.createDataFrame(pdf)


@pytest.mark.parametrize("source", ["docs", "dense"])
def test_budget_archives_byte_identical(spark, docs_table, tmp_path,
                                        monkeypatch, source):
    """convert_sharded and convert write the same archive bytes at a 1 KiB
    budget as at the default one, on the document fixture and on
    vertex-dense polygons; the small budget really yields more frames."""
    if source == "docs":
        feats = extract_features(spark.read.parquet(docs_table))
        cfg = TilerConfig(min_zoom=0, max_zoom=8, shuffle_partitions=4)
    else:
        feats = _dense_features(spark)
        cfg = TilerConfig(min_zoom=0, max_zoom=11, shuffle_partitions=4)
    local = feats.select(*P.FANOUT_COLS).toPandas()

    def run(tag: str) -> tuple[int, bytes, bytes]:
        frames = len(_fanout_frames(local, cfg))
        arch = []
        for sink in (P.convert_sharded, P.convert):
            path = str(tmp_path / f"{tag}_{sink.__name__}.pmtiles")
            sink(feats, path, cfg)
            with open(path, "rb") as f:
                arch.append(f.read())
        return frames, arch[0], arch[1]

    frames0, sharded0, single0 = run("default")
    monkeypatch.setattr(P, "FANOUT_BUDGET_BYTES", TINY_BUDGET)
    frames1, sharded1, single1 = run("tiny")
    assert frames1 > frames0
    assert sharded0 == single0
    assert sharded1 == sharded0
    assert single1 == single0

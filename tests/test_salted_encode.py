"""Salted two-phase encode must be byte-identical to the single-phase path."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from gpq_tiles_spark import pipeline as P
from gpq_tiles_spark.config import TilerConfig
from gpq_tiles_spark.extract import extract_features
from gpq_tiles_spark.kernels import simplify as SK
from gpq_tiles_spark.pipeline import (
    convert,
    detect_hot_tiles,
    encode_tiles_premerge,
    encode_tiles_salted,
)

from tests.reference_tiles import reference_tiles


def _tile_bytes(tiles) -> dict:
    return {int(t.tile_id): (bytes(t.mvt), int(t.n_features)) for t in tiles}


def _salted_config(**kw) -> TilerConfig:
    # a low threshold and few buckets make the 400-doc fixture salt
    return TilerConfig(min_zoom=0, max_zoom=6, shuffle_partitions=4,
                       hot_tile_threshold=5, salt_buckets=4, **kw)


def test_salted_matches_single_phase(spark, docs_table):
    feats = extract_features(spark.read.parquet(docs_table))
    cfg = TilerConfig(min_zoom=0, max_zoom=7, shuffle_partitions=8,
                      hot_tile_threshold=5, salt_buckets=4)  # force salting

    hot = detect_hot_tiles(feats, cfg)
    assert hot, "low threshold must flag hot tiles"

    plain = _tile_bytes(reference_tiles(feats, cfg).itertuples())
    salted = _tile_bytes(encode_tiles_salted(feats, cfg).collect())

    assert set(plain) == set(salted)
    diff = [t for t in plain if plain[t] != salted[t]]
    assert diff == [], f"byte mismatch for tiles {diff[:5]}"


def test_salted_without_hot_tiles_matches_unsalted(spark, docs_table,
                                                   tmp_path):
    """With no hot tile, ``salted=True`` writes the unsalted archive, and
    the salted encode (every tile salt 0) gives the premerge tiles."""
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

    cold = _tile_bytes(encode_tiles_salted(feats, cfg).collect())
    assert cold == _tile_bytes(encode_tiles_premerge(feats, cfg).collect())


@pytest.mark.parametrize("max_tile_bytes", [None, 20_000])
def test_megatile_input_salts_every_tile(spark, tmp_path, max_tile_bytes):
    """The low-zoom mega-tile input that salting is kept for
    (``scripts/measure_megatile.py``, BENCH.md "Skew handling"), scaled
    down: every z0-6 tile is hot, and the salted archive has the unsalted
    bytes, with and without a tile budget that thins the mega tiles."""
    import importlib.util
    import os

    script = os.path.join(os.path.dirname(__file__), "..", "scripts",
                          "measure_megatile.py")
    spec = importlib.util.spec_from_file_location("measure_megatile", script)
    mega = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mega)

    feats = spark.read.parquet(mega.write_points(str(tmp_path), 20_000, 4, 1))
    cfg = TilerConfig(min_zoom=0, max_zoom=mega.ZOOM, shuffle_partitions=4,
                      hot_tile_threshold=1_000, salt_buckets=4,
                      max_tile_bytes=max_tile_bytes)
    assert len(detect_hot_tiles(feats, cfg)) == mega.ZOOM + 1

    p_plain = str(tmp_path / "plain.pmtiles")
    p_salted = str(tmp_path / "salted.pmtiles")
    stats = convert(feats, p_plain, cfg)
    convert(feats, p_salted, cfg, salted=True)
    assert stats["tiles"] == mega.ZOOM + 1
    if max_tile_bytes is not None:
        assert stats["metrics"]["tiles_capped"] > 0
    with open(p_plain, "rb") as a, open(p_salted, "rb") as b:
        assert a.read() == b.read()

def test_detect_hot_tiles_explicit_zero_threshold(spark, docs_table):
    """``threshold=0`` flags every tile holding a feature center; it is not
    replaced by the config default."""
    feats = extract_features(spark.read.parquet(docs_table))
    cfg = TilerConfig(min_zoom=0, max_zoom=3)  # default threshold 200,000
    assert detect_hot_tiles(feats, cfg) == []
    hot = detect_hot_tiles(feats, cfg, threshold=0)
    assert 0 in hot  # the z0 tile
    assert len(hot) >= 4  # at least one tile per zoom


@pytest.mark.parametrize("field, value",
                         [("salt_buckets", 0), ("hot_tile_threshold", -1)])
def test_salting_fields_rejected_before_any_job(spark, docs_table, tmp_path,
                                                field, value):
    feats = extract_features(spark.read.parquet(docs_table))
    events = []
    with pytest.raises(ValueError, match=field):
        convert(feats, str(tmp_path / "x.pmtiles"),
                TilerConfig(min_zoom=0, max_zoom=4, **{field: value}),
                salted=True, progress=events.append)
    assert events == []


@pytest.mark.parametrize("mode", ["hash", "rownum"])
def test_hot_tile_records_reach_several_buckets(spark, docs_table, mode):
    """A hot tile's records spread over more than one salt bucket on hash
    ids and on dense row-number ids; cold tiles stay in bucket 0."""
    feats = extract_features(spark.read.parquet(docs_table),
                             feature_id_mode=mode)
    cfg = _salted_config()
    ranges = P._hot_tile_ranges(feats, cfg)
    assert ranges
    assert all(lo <= hi for _, lo, hi in ranges)
    salted = P._salt_records(P._premerge_records(feats, cfg), cfg, ranges)
    buckets = {
        r["tile_id"]: (r["lo"], r["hi"])
        for r in salted.groupBy("tile_id")
        .agg(F.min("salt").alias("lo"), F.max("salt").alias("hi")).collect()
    }
    hot = {t for t, _, _ in ranges}
    assert all(buckets[t][0] < buckets[t][1] for t in hot), mode
    assert all(buckets[t] == (0, 0) for t in buckets if t not in hot)


def _narrow(ranges, case):
    """Rewrite detected (tile_id, lo, hi) ranges so ids fall on or outside
    the range edges."""
    if case == "lo_eq_hi":
        return [(t, lo, lo) for t, lo, _ in ranges]
    # the middle quarter of each range: ids on both sides fall outside it
    return [(t, lo + (hi - lo) * 3 // 8, lo + (hi - lo) * 5 // 8)
            for t, lo, hi in ranges]


@pytest.mark.parametrize("case", ["lo_eq_hi", "ids_outside", "negative_ids"])
def test_salted_bytes_under_degenerate_ranges(spark, docs_table, case):
    """The bucket rule is monotone in feature_id for any range, so the
    salted tiles equal the premerge tiles when lo == hi, when ids lie
    outside [lo, hi] (clamped to the first/last bucket), and on negative
    ids such as an ``id_col`` can carry."""
    feats = extract_features(spark.read.parquet(docs_table))
    if case == "negative_ids":
        feats = feats.withColumn("feature_id", -F.col("feature_id") - 1)
    cfg = _salted_config()
    ranges = P._hot_tile_ranges(feats, cfg)
    assert ranges
    if case == "negative_ids":
        assert all(hi < 0 for _, _, hi in ranges)
    else:
        ranges = _narrow(ranges, case)
    msgs = P._premerge_records(feats, cfg)
    salts = {r["salt"] for r in P._salt_records(msgs, cfg, ranges)
             .select("salt").distinct().collect()}
    assert salts >= {0, cfg.salt_buckets - 1}, salts

    salted = _tile_bytes(
        P._encode(P._salted_stage(msgs, cfg, ranges)).collect())
    assert salted == _tile_bytes(encode_tiles_premerge(feats, cfg).collect())


def _tile_exchanges(df) -> list[tuple[str, list[str]]]:
    """(partitioning, output columns) of every shuffle exchange of ``df``'s
    physical plan that partitions on tile_id."""
    plan = df._jdf.queryExecution().executedPlan()
    if plan.nodeName() == "AdaptiveSparkPlan":
        plan = plan.executedPlan()
    found, stack = [], [plan]
    while stack:
        node = stack.pop()
        if node.nodeName() == "Exchange":
            part = node.outputPartitioning().toString()
            out = node.output()
            if "tile_id" in part:
                found.append((part, [out.apply(i).name()
                                     for i in range(out.size())]))
        kids = node.children()
        stack.extend(kids.apply(i) for i in range(kids.size()))
    return found


def test_salted_exchanges_carry_no_wkb(spark, docs_table):
    """Both exchanges of the salted plan move message bytes: the records'
    framed messages, then the bucket bodies — never WKB."""
    feats = extract_features(spark.read.parquet(docs_table))
    exchanges = _tile_exchanges(encode_tiles_salted(feats, _salted_config()))
    assert len(exchanges) == 2, exchanges
    cols = sorted(tuple(sorted(c)) for _, c in exchanges)
    assert cols == sorted([
        ("feature_id", "msg", "salt", "tile_id"),
        ("body", "fids", "lens", "n_records", "salt", "tile_id"),
    ]), exchanges
    assert all("wkb" not in c for _, c in exchanges)


def test_salted_convert_runs_bucket_encoder_once(spark, docs_table, tmp_path,
                                                 monkeypatch):
    """``convert(salted=True)`` range-exchanges the bucket rows, and the
    range sampling reads them: the phase-A encoder must still see each
    salted record exactly once (its rows are what gets persisted), and the
    archive must stay the unsalted one."""
    feats = extract_features(spark.read.parquet(docs_table))
    cfg = _salted_config()
    assert detect_hot_tiles(feats, cfg)
    seen = spark.sparkContext.accumulator(0)
    real = P.make_bucket_encoder

    def counting_bucket_encoder():
        enc = real()

        def run(batches):
            def counted():
                for pdf in batches:
                    seen.add(len(pdf))
                    yield pdf

            return enc(counted())

        return run

    monkeypatch.setattr(P, "make_bucket_encoder", counting_bucket_encoder)
    persisted = spark.sparkContext._jsc.sc().getPersistentRDDs().size()
    p_salted = str(tmp_path / "salted.pmtiles")
    p_plain = str(tmp_path / "plain.pmtiles")
    convert(feats, p_salted, cfg, salted=True)
    n_records = P._premerge_records(feats, cfg).count()
    assert n_records > 0
    assert seen.value == n_records
    assert spark.sparkContext._jsc.sc().getPersistentRDDs().size() == persisted
    convert(feats, p_plain, cfg)
    with open(p_plain, "rb") as a, open(p_salted, "rb") as b:
        assert a.read() == b.read()


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


def _one_row_batches(pdf):
    return (pdf.iloc[i:i + 1] for i in range(len(pdf)))


def _encoded_tiles(encode, batches):
    out = pd.concat(list(encode(batches)), ignore_index=True)
    return [(int(t), bytes(m), int(n)) for t, m, n in
            zip(out["tile_id"], out["mvt"], out["n_features"])]


@pytest.mark.parametrize("encoder", ["premerge", "salted_merge"])
def test_run_carry_one_row_batches_match_one_batch(encoder):
    """A multi-hundred-record tile arriving as 1-row Arrow batches encodes
    to the premerge bytes of the whole tile in one batch, on the premerge
    wrap encoder (whose input rows are the map-side messages) and through
    the salted phase-A bucket encoder and phase-B merge encoder, with and
    without a byte budget that caps the mega tile."""
    from gpq_tiles_spark.pipeline import (
        make_bucket_encoder,
        make_bucket_merge_encoder,
        make_msg_encoder,
        make_wrap_encoder,
    )

    for budget in (None, 2048):
        cfg = TilerConfig(min_zoom=0, max_zoom=6, max_tile_bytes=budget)
        msgs = pd.concat(
            list(make_msg_encoder(cfg)(iter([_mega_tile_records()]))),
            ignore_index=True)
        whole = _encoded_tiles(make_wrap_encoder(cfg), iter([msgs]))
        assert len(whole) == 3
        assert (max(n for *_, n in whole) < 400) == (budget is not None)
        if encoder == "premerge":
            pdf, encode = msgs, make_wrap_encoder(cfg)
        else:
            # buckets of 7 records: bucket runs span several 1-row batches
            msgs["salt"] = (msgs.groupby("tile_id").cumcount() // 7
                            ).astype(np.int32)
            pdf = pd.concat(list(make_bucket_encoder()(
                _one_row_batches(msgs))), ignore_index=True)
            assert len(pdf) == msgs.groupby(["tile_id", "salt"]).ngroups
            assert int(pdf["n_records"].sum()) == len(msgs)
            encode = make_bucket_merge_encoder(cfg)
            assert _encoded_tiles(encode, iter([pdf])) == whole
        assert _encoded_tiles(encode, _one_row_batches(pdf)) == whole

"""The sharded sink's fused reduce stage, the shared layout dispatcher and
the input-spread guard.

``convert_sharded`` runs each layout's reduce-side encoder and the shard
writer in ONE mapInPandas (``writer(encoder(batches))``), with the shard
named by the task's partition id. These tests pin the archive bytes of
every layout on both sinks against one single-writer ``convert``
reference and against the driver-side WKB encode, on input that arrives
with fewer partitions than task slots; the single Python map node after
the tile exchange, the release of every persisted frame when a sink
fails, and the slot-count rule of ``spread_small_input``.
"""

import pytest

from gpq_tiles_spark import pipeline as P
from gpq_tiles_spark.config import TilerConfig
from gpq_tiles_spark.extract import extract_features
from gpq_tiles_spark.partitioning import spread_small_input

from tests.reference_tiles import reference_archive

# layout -> (write_properties, salted)
LAYOUTS = {
    "premerge": (False, False),
    "premerge_props": (True, False),
    "salted": (False, True),
}
# the sink's non-salted archive against the driver-side WKB encode
# (``reference_archive``) -> write_properties
WKB_REFERENCE = {"wkb": False, "wkb_props": True}


def _config(write_properties: bool) -> TilerConfig:
    # hot_tile_threshold/salt_buckets make the salted layout actually salt
    # (they do not affect any other layout's bytes)
    return TilerConfig(min_zoom=0, max_zoom=6, shuffle_partitions=4,
                       hot_tile_threshold=5, salt_buckets=4,
                       write_properties=write_properties)


@pytest.fixture(scope="module")
def two_part_features(spark, docs_table):
    """Extracted features with a props column, on 2 partitions — half the
    4-slot test session's parallelism."""
    feats = extract_features(spark.read.parquet(docs_table))
    feats = P.encode_props_column(feats, ["doc_id", "span_offset"])
    feats = feats.repartition(2).cache()
    assert feats.rdd.getNumPartitions() == 2
    assert spark.sparkContext.defaultParallelism == 4
    yield feats
    feats.unpersist()


@pytest.fixture(scope="module")
def reference_archives(two_part_features, tmp_path_factory):
    """Single-writer ``convert`` archive bytes, with and without props."""
    out = {}
    d = tmp_path_factory.mktemp("ref")
    for props in (False, True):
        path = str(d / f"ref_{props}.pmtiles")
        P.convert(two_part_features, path, _config(props))
        with open(path, "rb") as f:
            out[props] = f.read()
    return out


@pytest.fixture(scope="module")
def wkb_reference_archives(two_part_features, tmp_path_factory):
    """Driver-side WKB encode archive bytes, with and without props."""
    d = tmp_path_factory.mktemp("wkb_ref")
    return {props: reference_archive(two_part_features, _config(props),
                                     str(d / f"wkb_{props}.pmtiles"))
            for props in (False, True)}


@pytest.mark.parametrize("sink, layout", [
    pytest.param(sink, layout,
                 id=layout if sink == "convert_sharded" else f"{sink}-{layout}")
    for sink in ("convert_sharded", "convert")
    for layout in sorted([*LAYOUTS, *WKB_REFERENCE])
])
def test_sharded_layout_byte_identical_on_under_split_input(
        two_part_features, reference_archives, wkb_reference_archives,
        tmp_path, sink, layout):
    if layout in WKB_REFERENCE:
        props, salted = WKB_REFERENCE[layout], False
        expected = wkb_reference_archives[props]
    else:
        props, salted = LAYOUTS[layout]
        expected = reference_archives[props]
    path = str(tmp_path / f"{layout}.pmtiles")
    stats = getattr(P, sink)(two_part_features, path, _config(props),
                             salted=salted)
    assert stats["tiles"] > 0
    with open(path, "rb") as f:
        assert f.read() == expected, layout


@pytest.mark.parametrize("layout", sorted(LAYOUTS))
def test_sharded_plan_has_one_python_map_after_tile_exchange(
        two_part_features, tmp_path, monkeypatch, layout):
    """Encoder and shard writer share one Python map node: nothing between
    the last tile_id exchange and the shard summaries crosses back to the
    JVM."""
    captured = {}

    def capture(summaries, *args, **kwargs):
        captured["plan"] = (summaries._jdf.queryExecution()
                            .executedPlan().toString())
        return {}

    monkeypatch.setattr(P, "_finalize_shards", capture)
    props, salted = LAYOUTS[layout]
    P.convert_sharded(two_part_features, str(tmp_path / "x.pmtiles"),
                      _config(props), salted=salted)
    plan = captured["plan"]
    head, sep, exchange = plan.partition("Exchange ")
    assert sep, plan
    assert exchange.split("\n", 1)[0].count("tile_id"), plan
    assert head.count("MapInPandas") == 1, plan
    assert "spark_partition_id" not in head.lower(), plan


def _persistent_rdds(spark) -> int:
    return spark.sparkContext._jsc.getPersistentRDDs().size()


@pytest.mark.parametrize("finalize", ["driver", "distributed"])
def test_sharded_finalize_releases_persisted_frames_on_error(
        spark, two_part_features, tmp_path, monkeypatch, finalize):
    """A failing finalize must unpersist the entry rows (and the winner
    table of the distributed path) on its way out."""
    def boom(*args, **kwargs):
        raise RuntimeError("injected finalize failure")

    if finalize == "driver":
        monkeypatch.setattr(P, "_finalize_entries_driver", boom)
    else:
        monkeypatch.setattr(P, "DRIVER_FINALIZE_MAX_ENTRIES", 0)
        monkeypatch.setattr(P, "_assemble_directory_stream", boom)
    before = _persistent_rdds(spark)
    with pytest.raises(RuntimeError, match="injected"):
        P.convert_sharded(two_part_features, str(tmp_path / "x.pmtiles"),
                          _config(False))
    assert _persistent_rdds(spark) == before


@pytest.mark.parametrize("fail_in", ["progress", "add_tile"])
def test_convert_releases_map_side_cache_on_error(
        two_part_features, tmp_path, monkeypatch, fail_in):
    """Every frame ``convert`` persists is unpersisted when the run fails,
    before the tile stream starts (a progress callback raising on the
    first 'fanout' event) or during it."""
    from gpq_tiles_spark.kernels.pmtiles import PMTilesAssembler

    def boom(*args, **kwargs):
        raise RuntimeError("injected failure")

    def progress(ev):
        if ev.phase == "fanout":
            boom()

    persisted = []
    frame_cls = type(two_part_features)
    persist = frame_cls.persist

    def recording_persist(self, *args, **kwargs):
        persisted.append(persist(self, *args, **kwargs))
        return persisted[-1]

    monkeypatch.setattr(frame_cls, "persist", recording_persist)
    if fail_in == "add_tile":
        monkeypatch.setattr(PMTilesAssembler, "add_tile", boom)
    with pytest.raises(RuntimeError, match="injected"):
        P.convert(two_part_features, str(tmp_path / "x.pmtiles"),
                  _config(False),
                  progress=progress if fail_in == "progress" else None)
    assert persisted
    assert not any(df.is_cached for df in persisted)


def test_spread_small_input_fires_below_slot_count(spark):
    slots = spark.sparkContext.defaultParallelism
    assert slots >= 2
    half = spark.range(1000).repartition(slots // 2)
    spread = spread_small_input(half)
    assert spread is not half
    assert spread.rdd.getNumPartitions() == slots
    assert sorted(r.id for r in spread.collect()) == list(range(1000))


@pytest.mark.parametrize("factor", [1, 2])
def test_spread_small_input_identity_at_slot_count(spark, factor):
    slots = spark.sparkContext.defaultParallelism
    df = spark.range(1000).repartition(slots * factor)
    assert spread_small_input(df) is df

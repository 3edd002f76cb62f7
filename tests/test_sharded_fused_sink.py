"""The sharded sink's fused reduce stage, the shared layout dispatcher and
the input-spread guard.

The archive writer behind ``convert`` and ``convert_sharded`` runs each
layout's reduce-side encoder and the shard writer in ONE mapInPandas
(``writer(encoder(batches))``), with the shard named by the task's
partition id. These tests pin the archive bytes of every layout through
both entry points against one ``convert`` archive and against the
driver-side WKB encode, on input that arrives
with fewer partitions than task slots; the single Python map node after
the tile exchange, the release of every persisted frame, temp dir and
poller thread when a conversion fails, the shards shipped through the
driver when it cannot read the executors' files, and the slot-count rule
of ``spread_small_input``.
"""

import os

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


def test_sharded_finalize_releases_persisted_frames_on_error(
        spark, two_part_features, tmp_path, monkeypatch):
    """A failing finalize must leave no persisted frame behind."""
    def boom(*args, **kwargs):
        raise RuntimeError("injected finalize failure")

    monkeypatch.setattr(P, "_finalize_entry_files", boom)
    before = _persistent_rdds(spark)
    with pytest.raises(RuntimeError, match="injected"):
        P.convert_sharded(two_part_features, str(tmp_path / "x.pmtiles"),
                          _config(False))
    assert _persistent_rdds(spark) == before


@pytest.mark.parametrize("fail_in", ["progress", "add_tile"])
def test_convert_releases_map_side_cache_on_error(
        spark, two_part_features, tmp_path, monkeypatch, fail_in):
    """A run that fails before the action (a progress callback raising on
    the first 'fanout' event) or after it (in the archive finalize; the
    ``add_tile`` id is older than the one writer) leaves no persisted
    frame, no temp shard dir and no progress poller behind."""
    import tempfile
    import threading

    def boom(*args, **kwargs):
        raise RuntimeError("injected failure")

    def progress(ev):
        if fail_in == "progress" and ev.phase == "fanout":
            boom()

    made = []
    mkdtemp = tempfile.mkdtemp

    def recording_mkdtemp(*args, **kwargs):
        made.append(mkdtemp(*args, **kwargs))
        return made[-1]

    monkeypatch.setattr(tempfile, "mkdtemp", recording_mkdtemp)
    if fail_in == "add_tile":
        monkeypatch.setattr(P, "_finalize_entry_files", boom)
    before = _persistent_rdds(spark)
    with pytest.raises(RuntimeError, match="injected"):
        P.convert(two_part_features, str(tmp_path / "x.pmtiles"),
                  _config(False), progress=progress, progress_poll_sec=0.01)
    assert _persistent_rdds(spark) == before
    assert made and not any(os.path.exists(d) for d in made)
    assert not any(t.name == "gpq-progress-poller"
                   for t in threading.enumerate())


def _executor_local_dirs(spark) -> list[str]:
    """The block manager's local dirs: SPARK_LOCAL_DIRS of the Python
    workers, under which a streaming reduce task makes its temp dir."""
    dm = spark.sparkContext._jsc.sc().env().blockManager().diskBlockManager()
    return [f.getPath() for f in dm.localDirs()]


@pytest.mark.parametrize("layout", sorted(LAYOUTS))
def test_convert_streams_shards_through_driver(
        spark, two_part_features, wkb_reference_archives, tmp_path,
        monkeypatch, layout):
    """Where the driver cannot read the executors' files (forced here on
    the local master through the private predicate), ``convert`` ships
    each shard's files through the driver and writes the driver-side
    reference's bytes, on every layout (salted with hot tiles); the
    executors' temp shard dirs are gone afterwards."""
    props, salted = LAYOUTS[layout]
    if salted:
        assert P.detect_hot_tiles(two_part_features, _config(props))
    received = []
    receive = P._receive_shards

    def recording_receive(rows, shard_dir):
        received.extend(receive(rows, shard_dir))
        return received

    monkeypatch.setattr(P, "_driver_reads_executor_files", lambda spark: False)
    monkeypatch.setattr(P, "_receive_shards", recording_receive)
    path = str(tmp_path / f"{layout}.pmtiles")
    stats = P.convert(two_part_features, path, _config(props), salted=salted)
    assert len(received) > 1
    assert stats["tiles"] == sum(entries for _, entries, _ in received)
    with open(path, "rb") as f:
        assert f.read() == wkb_reference_archives[props], layout
    for d in _executor_local_dirs(spark):
        assert not [n for n in os.listdir(d) if n.startswith("gpq_shard_")]
    with pytest.raises(ValueError, match="shard_dir"):
        P.convert_sharded(two_part_features, path, _config(props))


def test_ship_round_trips_shard_files(tmp_path, monkeypatch):
    """Spark-free: a shard's two committed files shipped in small chunks
    are rewritten byte for byte on the receiving side, with the writer's
    summary."""
    import numpy as np
    import pandas as pd

    from gpq_tiles_spark.kernels import pmtiles as PM

    n = 50
    tiles = pd.DataFrame({
        "tile_id": np.arange(n, dtype=np.int64),
        "z": np.full(n, 5, dtype=np.int32),
        "n_features": np.ones(n, dtype=np.int64),
        "mvt": [b"\x1a\x03t%02d" % (i % 7) for i in range(n)],
        "content_hash": np.arange(n, dtype=np.int64) % 7,
    })
    src, dst = tmp_path / "executor", tmp_path / "driver"
    src.mkdir()
    dst.mkdir()
    monkeypatch.setattr(P, "SHIP_CHUNK_BYTES", 64)
    write = P._make_shard_writer(str(src), PM.COMPRESSION_GZIP)
    rows = pd.concat(list(P._ship(str(src), write(iter([tiles])))),
                     ignore_index=True)
    assert len(rows) > 2
    assert P._receive_shards(rows.itertuples(index=False), str(dst)) == [
        (0, n, n)]
    for name in ("shard_00000.bin", "entries_00000.parquet"):
        assert (dst / name).read_bytes() == (src / name).read_bytes()


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

"""Archive bounds from the fan-out, and the archive writer's single action.

The fan-out adds each batch's bbox extremes to a min/max accumulator
(``PipelineMetrics.bounds``), so neither ``convert`` nor
``convert_sharded`` scans the features for the header bounds. The fused
reduce writes each shard's entry rows to ``entries_{pid}.parquet`` beside
the shard and returns one summary row per shard; collecting those
summaries is the writer's only Spark action, and the driver finalizes
from the entry files.
"""

import os
import uuid

import numpy as np
import pandas as pd
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from gpq_tiles_spark import pipeline as P
from gpq_tiles_spark.config import TilerConfig
from gpq_tiles_spark.extract import FEATURES_SCHEMA, extract_features
from gpq_tiles_spark.kernels import geom as G

SINKS = ("convert", "convert_sharded")
NULLABLE_FEATURES = ("feature_id long, doc_id string, span_offset int, "
                     "wkb binary, geom_type int, lng_min double, "
                     "lat_min double, lng_max double, lat_max double")


def _config() -> TilerConfig:
    return TilerConfig(min_zoom=0, max_zoom=5, shuffle_partitions=4)


@pytest.fixture(scope="module")
def feats(spark, docs_table):
    df = extract_features(spark.read.parquet(docs_table)).repartition(2).cache()
    df.count()
    yield df
    df.unpersist()


def _with_bad_bbox(spark, feats, value):
    """``feats`` plus one point whose lng_min/lng_max are ``value``."""
    wkb = bytearray(G.to_wkb((G.POINT, (10.0, 10.0))))
    extra = spark.createDataFrame(
        [(1, "bad", 0, wkb, G.POINT, value, 10.0, value, 10.0)],
        NULLABLE_FEATURES)
    return feats.unionByName(extra)


def _agg_bounds(df) -> tuple:
    row = df.agg(F.min("lng_min"), F.min("lat_min"), F.max("lng_max"),
                 F.max("lat_max")).collect()[0]
    return P.WORLD_BOUNDS if row[0] is None else tuple(row)


def _run(sink, df, path, **kwargs) -> tuple[dict, bytes]:
    stats = getattr(P, sink)(df, str(path), _config(), **kwargs)
    with open(path, "rb") as f:
        return stats, f.read()


def _in_group(sc, fn):
    """Run ``fn`` under a fresh job group -> (result, the group's jobs as
    lists of stage names)."""
    group = f"one-action-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    tr = sc.statusTracker()
    jobs = []
    for jid in sorted(tr.getJobIdsForGroup(group)):
        stages = [tr.getStageInfo(s) for s in tr.getJobInfo(jid).stageIds]
        jobs.append([s.name for s in stages if s is not None])
    return out, jobs


def _python_call_sites(jobs) -> set[str]:
    """Distinct driver call sites ("collect at .../pipeline.py:N") of the
    jobs' stages; stages AQE submits on its own carry a JVM call site."""
    return {name for stages in jobs for name in stages if ".py:" in name}


@pytest.mark.parametrize("sink", SINKS)
def test_bounds_match_agg_with_null_bbox(spark, feats, tmp_path, sink):
    df = _with_bad_bbox(spark, feats, None)
    stats, _ = _run(sink, df, tmp_path / "a.pmtiles")
    assert stats["bounds"] == _agg_bounds(df)
    stats, _ = _run(sink, feats, tmp_path / "b.pmtiles")
    assert stats["bounds"] == _agg_bounds(feats)


@pytest.mark.parametrize("sink", SINKS)
def test_nan_bbox_is_skipped_like_null(spark, feats, tmp_path, sink):
    """A NaN bbox value is skipped as a null one is (a null arrives in the
    fan-out as NaN): same bounds, same archive. Spark's own ``max`` would
    rank NaN largest and give the header a NaN bound."""
    null_stats, null_bytes = _run(sink, _with_bad_bbox(spark, feats, None),
                                  tmp_path / "null.pmtiles")
    nan_stats, nan_bytes = _run(sink, _with_bad_bbox(spark, feats, np.nan),
                                tmp_path / "nan.pmtiles")
    assert nan_stats["bounds"] == null_stats["bounds"] == _agg_bounds(feats)
    assert nan_bytes == null_bytes


@pytest.mark.parametrize("sink", SINKS)
def test_empty_input_gives_world_bounds(spark, tmp_path, sink):
    empty = spark.createDataFrame([], schema=FEATURES_SCHEMA)
    stats, _ = _run(sink, empty, tmp_path / "empty.pmtiles")
    assert stats["tiles"] == 0
    assert stats["bounds"] == P.WORLD_BOUNDS


@pytest.mark.parametrize("sink", SINKS)
def test_no_bounds_job(spark, feats, tmp_path, sink):
    """Bounds cost no Spark job: a run that settles them from the fan-out
    runs the same jobs as one with caller-given bounds, and those bypass
    the accumulator."""
    sc = spark.sparkContext
    given = (-1.0, -2.0, 3.0, 4.0)
    _run(sink, feats, tmp_path / "warm.pmtiles")
    (own, _), own_jobs = _in_group(
        sc, lambda: _run(sink, feats, tmp_path / "own.pmtiles"))
    (stats, _), given_jobs = _in_group(
        sc, lambda: _run(sink, feats, tmp_path / "given.pmtiles",
                         bounds=given))
    assert own["bounds"] == _agg_bounds(feats)
    assert stats["bounds"] == given
    assert len(given_jobs) == len(own_jobs)


def test_sharded_small_path_runs_one_action(spark, feats, tmp_path):
    """On a local master the summaries' collect is each sink's only
    action: no bounds agg, no finalize agg, no toPandas, no tile stream."""
    for sink in SINKS:
        _, jobs = _in_group(spark.sparkContext, lambda: _run(
            sink, feats, tmp_path / f"{sink}.pmtiles"))
        sites = _python_call_sites(jobs)
        assert len(sites) == 1, (sink, sites)
        assert next(iter(sites)).startswith("collect at "), (sink, sites)


def test_convert_bounds_event_brackets_tile_stream(feats, tmp_path):
    events = []
    stats = P.convert(feats, str(tmp_path / "x.pmtiles"), _config(),
                      progress=events.append)
    phases = [(e.phase, e.kind) for e in events]
    assert phases[0] == ("bounds", "start")
    assert (phases.index(("tiles", "complete"))
            < phases.index(("bounds", "complete"))
            < phases.index(("archive", "start")))
    done = events[phases.index(("bounds", "complete"))]
    assert done.info["bounds"] == stats["bounds"] == _agg_bounds(feats)


def test_convert_sharded_returns_metrics(feats, tmp_path):
    stats, _ = _run("convert_sharded", feats, tmp_path / "x.pmtiles")
    m = stats["metrics"]
    assert m["features_in"] == feats.count()
    assert m["tiles_out"] == stats["tiles"] > 0
    assert m["records_out"] >= m["tiles_out"]


def _tiles_frame(n: int) -> pd.DataFrame:
    return pd.DataFrame({
        "tile_id": np.arange(n, dtype=np.int64),
        "z": np.full(n, 3, dtype=np.int32),
        "n_features": np.arange(1, n + 1, dtype=np.int64),
        "mvt": [b"\x1a\x02tile%d" % (i % 2) for i in range(n)],
        "content_hash": np.arange(n, dtype=np.int64) % 2,
    })


def test_shard_writer_commits_entry_file_with_summary(tmp_path):
    from gpq_tiles_spark.kernels import pmtiles as PM

    write = P._make_shard_writer(str(tmp_path), PM.COMPRESSION_GZIP)
    out = pd.concat(list(write(iter([_tiles_frame(3), _tiles_frame(2)]))))
    assert out.to_dict("records") == [
        {"pid": 0, "entries": 5, "features": 6 + 3}]
    assert sorted(os.listdir(tmp_path)) == ["entries_00000.parquet",
                                            "shard_00000.bin"]
    ent = pq.read_table(tmp_path / "entries_00000.parquet")
    assert ent.schema == P._entries_arrow_schema()
    assert ent.column("tile_id").to_pylist() == [0, 1, 2, 0, 1]
    # in-shard dedup: the two distinct blobs are written once each
    assert len(set(ent.column("local_off").to_pylist())) == 2


def test_failed_reduce_attempt_commits_no_entry_file(tmp_path):
    """An attempt whose encoder raises after some batches leaves neither
    the shard, nor the entry file, nor a temp file, and returns no
    summary row."""
    from gpq_tiles_spark.kernels import pmtiles as PM

    def failing():
        yield _tiles_frame(3)
        raise RuntimeError("injected encoder failure")

    write = P._make_shard_writer(str(tmp_path), PM.COMPRESSION_GZIP)
    rows = []
    with pytest.raises(RuntimeError, match="injected"):
        for r in write(failing()):
            rows.append(r)
    assert rows == []
    assert os.listdir(tmp_path) == []


def test_stale_entry_files_do_not_change_archive(spark, feats, tmp_path):
    """A reused shard_dir holding another run's entry and shard files
    under pids this run does not write: only the summarized pids' files
    are read, so the archive equals the single-writer one."""
    shard_dir = tmp_path / "shards"
    shard_dir.mkdir()
    stale = _tiles_frame(4)
    stale["mvt"] = [b"stale"] * 4
    from gpq_tiles_spark.kernels import pmtiles as PM

    list(P._make_shard_writer(str(shard_dir), PM.COMPRESSION_GZIP)(
        iter([stale])))
    for name in ("entries", "shard"):
        ext = "parquet" if name == "entries" else "bin"
        os.replace(shard_dir / f"{name}_00000.{ext}",
                   shard_dir / f"{name}_00097.{ext}")
    _, expected = _run("convert", feats, tmp_path / "single.pmtiles")
    for reuse in range(2):
        _, got = _run("convert_sharded", feats,
                      tmp_path / f"sharded{reuse}.pmtiles",
                      shard_dir=str(shard_dir))
        assert got == expected
    assert (shard_dir / "entries_00097.parquet").exists()


def test_distributed_finalize_reads_entry_files_by_posix_path(
        spark, feats, tmp_path):
    """The finalize reads the entry files by the paths the shard writers
    used, not through Hadoop: a ``shard_dir`` whose name Hadoop would
    expand as a glob (``[x]`` matches ``x``) still gives the
    single-writer bytes."""
    shard_dir = tmp_path / "run[x]"
    shard_dir.mkdir()
    (tmp_path / "runx").mkdir()  # what the glob would resolve to
    _, expected = _run("convert", feats, tmp_path / "single.pmtiles")
    stats, got = _run("convert_sharded", feats, tmp_path / "sharded.pmtiles",
                      shard_dir=str(shard_dir))
    assert stats["tiles"] > 0
    assert got == expected

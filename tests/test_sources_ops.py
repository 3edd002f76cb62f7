"""GeoParquet source, quality assessment, raster ops, property filter,
checkpoint/resume."""

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from gpq_tiles_spark.kernels import geom as G
from gpq_tiles_spark.kernels import mvt as M


@pytest.fixture(scope="module")
def geoparquet_file(tmp_path_factory):
    rng = np.random.default_rng(42)
    wkbs = []
    for i in range(300):
        x, y = rng.uniform(-10, 10), rng.uniform(40, 50)
        if i % 3 == 0:
            g = (G.POINT, np.array([x, y]))
        else:
            d = 0.01
            ring = np.array([[x, y], [x + d, y], [x + d, y + d], [x, y + d], [x, y]])
            g = (G.POLYGON, [ring])
        wkbs.append(G.to_wkb(g))
    t = pa.Table.from_pydict(
        {
            "id": list(range(300)),
            "name": [f"f{i}" for i in range(300)],
            "rank": [float(i) for i in range(300)],
            "flag": [i % 2 == 0 for i in range(300)],
            "geometry": wkbs,
        }
    )
    path = str(tmp_path_factory.mktemp("gpq") / "test.parquet")
    pq.write_table(t, path, row_group_size=50,
                   )
    return path


def test_read_geoparquet(spark, geoparquet_file):
    from gpq_tiles_spark.sources.geoparquet import dataset_bbox, read_geoparquet

    feats = read_geoparquet(spark, geoparquet_file, id_col="id")
    rows = feats.collect()
    assert len(rows) == 300
    assert {r.feature_id for r in rows} == set(range(300))
    bb = dataset_bbox(feats)
    assert -10 <= bb[0] <= bb[2] <= 10.02 and 40 <= bb[1] <= bb[3] <= 50.02


def test_field_metadata_and_property_filter(spark, geoparquet_file):
    from gpq_tiles_spark.operators.properties import (
        apply_property_filter,
        filter_field_metadata,
    )
    from gpq_tiles_spark.sources.geoparquet import field_metadata

    df = spark.read.parquet(geoparquet_file)
    fields = field_metadata(df)
    assert fields == {"id": "Number", "name": "String", "rank": "Number", "flag": "Boolean"}
    assert filter_field_metadata(fields, include=["name"]) == {"name": "String"}
    assert filter_field_metadata(fields, exclude=["name"]) == {
        "id": "Number", "rank": "Number", "flag": "Boolean"}
    assert filter_field_metadata(fields, exclude_all=True) == {}
    assert set(apply_property_filter(df, include=["name"]).columns) == {"geometry", "name"}
    assert "name" not in apply_property_filter(df, exclude=["name"]).columns
    assert set(apply_property_filter(df, exclude_all=True).columns) == {"geometry"}


def test_assess_quality(geoparquet_file, tmp_path):
    from gpq_tiles_spark.sources.geoparquet import assess_quality

    q = assess_quality(geoparquet_file)
    assert not q.has_geo_metadata  # plain parquet, no geo key
    assert q.n_row_groups == 6
    assert not q.rows_per_group_ok  # 50 rows/group < 100 threshold
    # unsorted random input should not look hilbert-sorted
    assert q.hilbert_sorted_sample is False


def test_assess_quality_tiny_rowgroups(tmp_path):
    from gpq_tiles_spark.sources.geoparquet import assess_quality

    from gpq_tiles_spark.kernels import hilbert as H
    from gpq_tiles_spark.kernels import tile_math as T

    rng = np.random.default_rng(42)
    lng = rng.uniform(-10, 10, 200)
    lat = rng.uniform(40, 50, 200)
    wx, wy = T.lng_lat_to_world(lng, lat)
    order = np.argsort(H.encode_hilbert(wx, wy))
    wkbs = [G.to_wkb((G.POINT, np.array([lng[i], lat[i]]))) for i in order]
    t = pa.Table.from_pydict({"geometry": wkbs})
    p = str(tmp_path / "tiny.parquet")
    pq.write_table(t, p, row_group_size=10)
    q = assess_quality(p)
    assert not q.rows_per_group_ok
    assert any("row group" in w for w in q.warnings)
    # input is genuinely hilbert-sorted -> sample check should say so
    assert q.hilbert_sorted_sample is True


def test_raster_roundtrip(spark):
    from gpq_tiles_spark.config import TilerConfig
    from gpq_tiles_spark.operators.raster import rasterize_points, vectorize_density
    from gpq_tiles_spark.pipeline import fanout_records

    rng = np.random.default_rng(42)
    rows = []
    for i in range(500):
        x = float(rng.uniform(-0.5, 0.5))
        y = float(rng.uniform(44.5, 45.5))
        rows.append((i, "", 0, G.to_wkb((G.POINT, np.array([x, y]))), G.POINT, x, y, x, y))
    feats = spark.createDataFrame(
        rows,
        schema="feature_id long, doc_id string, span_offset int, wkb binary, "
        "geom_type int, lng_min double, lat_min double, lng_max double, lat_max double",
    )
    cfg = TilerConfig(min_zoom=6, max_zoom=6, shuffle_partitions=4)
    records = fanout_records(feats, cfg)
    grids = rasterize_points(records, zoom=6, grid_size=32)
    grows = grids.collect()
    assert sum(sum(r.grid) for r in grows) == records.count()
    vec = vectorize_density(grids, threshold=1).collect()
    assert len(vec) == len(grows)
    for v in vec:
        if v.n_polygons:
            layers = M.decode_tile(bytes(v.mvt))
            assert layers[0]["name"] == "density"
            assert len(layers[0]["features"]) == v.n_polygons


def test_checkpoint_resume(spark, docs_table, tmp_path):
    from gpq_tiles_spark.checkpoint import CheckpointedRun, convert_with_checkpoints
    from gpq_tiles_spark.config import TilerConfig
    from gpq_tiles_spark.kernels.pmtiles import PMTilesReader

    wd = str(tmp_path / "ckpt")
    out = str(tmp_path / "out.pmtiles")
    cfg = TilerConfig(min_zoom=0, max_zoom=6, shuffle_partitions=4)
    m1 = convert_with_checkpoints(spark, docs_table, out, wd, cfg)
    assert m1["stages"]["archive"]["done"]
    n_tiles = m1["stages"]["archive"]["tiles"]
    assert PMTilesReader(out).header.addressed_tiles_count == n_tiles
    assert any(l["stage"] == "records" for l in m1["lineage"])
    assert m1["stages"]["records"]["rows_per_sec"] is not None

    # delete the archive; resume must redo ONLY the archive stage
    os.remove(out)
    m2 = dict(m1)
    m2["stages"] = dict(m1["stages"])
    del m2["stages"]["archive"]
    import json

    with open(os.path.join(wd, "manifest.json"), "w") as f:
        json.dump(m2, f)
    m3 = convert_with_checkpoints(spark, docs_table, out, wd, cfg)
    assert m3["stages"]["archive"]["tiles"] == n_tiles
    assert os.path.exists(out)
    # stage outputs were reused (same row counts, marked done)
    assert m3["stages"]["records"]["rows"] == m1["stages"]["records"]["rows"]
    # the archive rebuilt from the checkpointed tiles is convert's
    from gpq_tiles_spark.extract import extract_features
    from gpq_tiles_spark.pipeline import convert

    plain = str(tmp_path / "plain.pmtiles")
    convert(extract_features(spark.read.parquet(docs_table)), plain, cfg)
    with open(out, "rb") as f1, open(plain, "rb") as f2:
        assert f1.read() == f2.read()


def test_checkpointed_equals_plain_convert(spark, docs_table, tmp_path):
    """Checkpointed (staged, resumable) conversion must produce the same
    archive bytes as the direct pipeline — the reference's streaming-vs-
    nonstreaming equivalence (pipeline.rs:2065-2143) analog."""
    from gpq_tiles_spark.checkpoint import convert_with_checkpoints
    from gpq_tiles_spark.config import TilerConfig
    from gpq_tiles_spark.extract import extract_features
    from gpq_tiles_spark.pipeline import convert

    cfg = TilerConfig(min_zoom=0, max_zoom=6, shuffle_partitions=4)
    p1 = str(tmp_path / "plain.pmtiles")
    p2 = str(tmp_path / "ckpt.pmtiles")
    convert(extract_features(spark.read.parquet(docs_table)), p1, cfg)
    convert_with_checkpoints(spark, docs_table, p2, str(tmp_path / "wd"), cfg)
    with open(p1, "rb") as f1, open(p2, "rb") as f2:
        assert f1.read() == f2.read()


def test_checkpointed_archive_carries_layer_fields(spark, docs_table,
                                                  tmp_path):
    """``config.layer_fields`` reaches the checkpointed archive's metadata
    as it reaches ``convert``'s, so the two archives are byte-identical."""
    from gpq_tiles_spark.checkpoint import convert_with_checkpoints
    from gpq_tiles_spark.config import TilerConfig
    from gpq_tiles_spark.extract import extract_features
    from gpq_tiles_spark.pipeline import convert

    cfg = TilerConfig(min_zoom=0, max_zoom=6, shuffle_partitions=4,
                      layer_fields={"name": "String", "pop": "Number"})
    p1 = str(tmp_path / "plain.pmtiles")
    p2 = str(tmp_path / "ckpt.pmtiles")
    convert(extract_features(spark.read.parquet(docs_table)), p1, cfg)
    convert_with_checkpoints(spark, docs_table, p2, str(tmp_path / "wd"), cfg)
    with open(p1, "rb") as f1, open(p2, "rb") as f2:
        assert f1.read() == f2.read()


def test_property_filter_applies_to_metadata_fields(spark, docs_table,
                                                   tmp_path):
    """-y/-x/-X filter the archive's ``vector_layers[].fields`` as they
    filter the tags (pipeline.rs:483-490), on ``convert`` and on the
    checkpointed run."""
    from gpq_tiles_spark.checkpoint import convert_with_checkpoints
    from gpq_tiles_spark.config import TilerConfig
    from gpq_tiles_spark.extract import extract_features
    from gpq_tiles_spark.kernels.pmtiles import PMTilesReader
    from gpq_tiles_spark.pipeline import convert

    fields = {"name": "String", "height": "Number"}
    feats = extract_features(spark.read.parquet(docs_table))
    for i, (flt, want) in enumerate([
        ({"include_properties": ["name"]}, {"name": "String"}),
        ({"exclude_properties": ["name"]}, {"height": "Number"}),
        ({"exclude_all_properties": True}, {}),
    ]):
        cfg = TilerConfig(min_zoom=0, max_zoom=3, shuffle_partitions=4,
                          layer_fields=fields, **flt)
        out = str(tmp_path / f"filtered{i}.pmtiles")
        convert(feats, out, cfg)
        got = PMTilesReader(out).metadata["vector_layers"][0]["fields"]
        assert got == want, flt
    ckpt = str(tmp_path / "ckpt.pmtiles")
    convert_with_checkpoints(
        spark, docs_table, ckpt, str(tmp_path / "wd"),
        TilerConfig(min_zoom=0, max_zoom=3, shuffle_partitions=4,
                    layer_fields=fields, include_properties=["name"]))
    got = PMTilesReader(ckpt).metadata["vector_layers"][0]["fields"]
    assert got == {"name": "String"}
    assert fields == {"name": "String", "height": "Number"}  # not mutated

def _group_jobs(sc, fn) -> list[list[str]]:
    """Run ``fn`` under a fresh job group -> its jobs' stage names."""
    import uuid

    group = f"ckpt-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    tr = sc.statusTracker()
    return [[tr.getStageInfo(s).name for s in tr.getJobInfo(j).stageIds
             if tr.getStageInfo(s) is not None]
            for j in sorted(tr.getJobIdsForGroup(group))]


def test_checkpoint_resumed_after_shards_runs_no_spark_work(
        spark, docs_table, tmp_path):
    """The shards stage records one (pid, entries, features) lineage row
    per shard it wrote and the records stage the archive bounds, so a run
    resumed after the shards starts no job that runs the fan-out or the
    shard writer: its only jobs are the ones reading the input's schema."""
    import json

    from gpq_tiles_spark.checkpoint import convert_with_checkpoints
    from gpq_tiles_spark.config import TilerConfig
    from gpq_tiles_spark.extract import extract_features

    wd = str(tmp_path / "ckpt")
    out = str(tmp_path / "out.pmtiles")
    cfg = TilerConfig(min_zoom=0, max_zoom=6, shuffle_partitions=4)
    m1 = convert_with_checkpoints(spark, docs_table, out, wd, cfg)
    shards = [r for r in m1["lineage"] if r["stage"] == "shards"]
    assert len(shards) > 1
    assert all(set(r) == {"stage", "pid", "entries", "features"}
               for r in shards)
    assert sorted(os.listdir(os.path.join(wd, "shards"))) == sorted(
        f"{name}_{r['pid']:05d}.{ext}" for r in shards
        for name, ext in (("shard", "bin"), ("entries", "parquet")))
    assert sum(r["entries"] for r in shards) == m1["stages"]["archive"]["tiles"]
    assert len(m1["stages"]["records"]["bounds"]) == 4
    with open(out, "rb") as f:
        expected = f.read()

    os.remove(out)
    del m1["stages"]["archive"]
    with open(os.path.join(wd, "manifest.json"), "w") as f:
        json.dump(m1, f)
    sc = spark.sparkContext
    resumed = _group_jobs(sc, lambda: convert_with_checkpoints(
        spark, docs_table, out, wd, cfg))
    schema_only = _group_jobs(sc, lambda: extract_features(
        spark.read.parquet(docs_table)).columns)
    assert not any(".py:" in name for job in resumed for name in job), resumed
    assert resumed == schema_only
    with open(out, "rb") as f:
        assert f.read() == expected


@pytest.mark.parametrize("bad, match", [
    ({"write_properties": True}, "props"),
    ({"min_zoom": 5, "max_zoom": 2}, "zoom range"),
], ids=["write_properties", "zoom_range"])
def test_checkpointed_rejects_what_convert_rejects(spark, docs_table,
                                                   tmp_path, bad, match):
    """An invalid config, and ``write_properties`` on documents that have
    no ``props`` column, raise before any stage runs."""
    from gpq_tiles_spark.checkpoint import convert_with_checkpoints
    from gpq_tiles_spark.config import TilerConfig

    wd = tmp_path / "wd"
    with pytest.raises(ValueError, match=match):
        convert_with_checkpoints(spark, docs_table,
                                 str(tmp_path / "x.pmtiles"), str(wd),
                                 TilerConfig(**bad))
    assert not wd.exists()


def test_iceberg_option_wiring_with_fake_reader(spark):
    """S10 (runtime jars absent in-container): pin the reader contract —
    format, snapshot-id / start/end-snapshot-id option names, table, and
    the (doc_id, spans) projection — against a fake reader chain, so the
    wiring is asserted without the Iceberg runtime; plus the real-session
    gate raises the documented error."""
    from types import SimpleNamespace

    import pytest

    from gpq_tiles_spark.sources import iceberg as I

    log = {}

    class FakeDF:
        def select(self, *cols):
            log["select"] = cols
            return self

    class FakeReader:
        def format(self, f):
            log["format"] = f
            return self

        def option(self, k, v):
            log.setdefault("options", {})[k] = v
            return self

        def load(self, t):
            log["table"] = t
            return FakeDF()

    jvm = SimpleNamespace(org=SimpleNamespace(apache=SimpleNamespace(
        iceberg=SimpleNamespace(Table=object))))
    fake = SimpleNamespace(read=FakeReader(), _jvm=jvm)

    I.read_documents(fake, "cat.db.docs", snapshot_id=42)
    assert log == {"format": "iceberg", "options": {"snapshot-id": "42"},
                   "table": "cat.db.docs", "select": ("doc_id", "spans")}

    log.clear()
    I.read_appended_documents(fake, "cat.db.docs", from_snapshot=7,
                              to_snapshot=9)
    assert log["options"] == {"start-snapshot-id": "7",
                              "end-snapshot-id": "9"}
    assert log["select"] == ("doc_id", "spans")

    # the real in-container session has no runtime: gate must trip clearly
    if not I.iceberg_available(spark):
        with pytest.raises(RuntimeError, match="[Ii]ceberg"):
            I.read_documents(spark, "cat.db.docs")

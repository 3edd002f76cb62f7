"""Spark-free checks of the benchmark's own pieces.

    python -m pytest perfbench/tests -q
"""

import json
import os
import shutil
import subprocess
import sys

import numpy as np
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import checks  # noqa: E402
import inputs  # noqa: E402
import metrics as M  # noqa: E402
import tracing as TR  # noqa: E402


def test_benchmark_json_lists_the_printed_metrics():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        b = json.load(f)
    assert {m["name"]: m["unit"] for m in b["end_to_end"]} == M.END_TO_END
    assert {m["name"]: m["unit"] for m in b["per_layer"]} == M.PER_LAYER
    assert any(m["name"] == "setup_s" and m["better"] == "lower"
               for m in b["end_to_end"])
    assert all(0 < m["bound"] <= 0.25 for m in b["end_to_end"])


def test_union_of_intervals():
    assert TR.union_s([]) == 0.0
    assert TR.union_s([(0, 1), (0.5, 2), (3, 4)]) == pytest.approx(3.0)
    assert TR.union_s([(2, 3), (0, 10)]) == pytest.approx(10.0)


def test_driver_time_is_span_minus_jobs():
    span = TR.Span("x", 10.0, 20.0, None, "r")
    jobs = [TR.Job(0, "g", 11.0, 13.0, []), TR.Job(1, "g", 12.0, 15.0, []),
            TR.Job(2, "g", 19.0, 25.0, [])]
    assert TR.driver_s(span, jobs) == pytest.approx(10.0 - 4.0 - 1.0)


def _stage(sid, submit, reads=0, writes=0):
    st = TR.Stage(sid, "g", submit, submit + 1)
    st.tasks = [{"sr_records": reads, "sw_records": writes}]
    return st


def test_conversion_stage_classes():
    gs = [_stage(0, 0.0), _stage(1, 1.0, writes=5), _stage(2, 2.0, reads=5),
          _stage(3, 3.0)]
    c = TR.classify_conversion(gs)
    assert [s.sid for s in c["fanout"]] == [0, 1]
    assert [s.sid for s in c["encode"]] == [2]
    assert [s.sid for s in c["sink"]] == [3]


def test_generators_are_seeded():
    a = inputs.adm4_polygons(20, 3)
    assert a.equals(inputs.adm4_polygons(20, 3))
    assert not a.equals(inputs.adm4_polygons(20, 4))
    assert inputs.clustered_points(50, 3).equals(inputs.clustered_points(50, 3))
    assert inputs.documents(5, 3).equals(inputs.documents(5, 3))


def test_pip_and_knn_oracles():
    boxes = np.array([[0.0, 0.0, 1.0, 1.0], [2.0, 2.0, 3.0, 3.0]])
    lng = np.array([0.5, 2.5, 5.0, 1.5])
    lat = np.array([0.5, 2.5, 5.0, 0.5])
    assert checks.pip_hits(lng, lat, boxes) == 2
    d = checks.knn_topk(lng, lat, np.array([0.0]), np.array([0.0]), 2)
    assert d[0].tolist() == pytest.approx([0.5, 0.25 + 2.25])
    rows = [{"probe_id": 7, "dist": 0.5}, {"probe_id": 7, "dist": 2.5}]
    assert checks.check_knn(rows, np.array([7]), d) == []
    assert checks.check_knn(rows[:1], np.array([7]), d) != []


def test_tile_scanner_counts_features():
    from gpq_tiles_spark.kernels import mvt

    feat = mvt.encode_feature(1, [], 1, [9, 2, 2])
    layer = mvt.encode_layer("features", [feat, feat], [], [], 4096)
    assert checks.tile_layers(mvt.encode_tile([layer])) == [("features", 2)]


def test_archive_check_catches_wrong_totals(tmp_path):
    from gpq_tiles_spark.kernels import mvt, xxh3
    from gpq_tiles_spark.kernels.pmtiles import PMTilesAssembler

    feat = mvt.encode_feature(1, [], 1, [9, 2, 2])
    body = mvt.encode_tile([mvt.encode_layer("features", [feat] * 3, [], [],
                                             4096)])
    asm = PMTilesAssembler()
    for tid, z in ((0, 0), (1, 1)):
        asm.add_tile(tid, z, body, xxh3.xxh3_64(body), 3)
    path = str(tmp_path / "a.pmtiles")
    asm.finalize(path)
    errs, facts = checks.check_archive(path, {"tiles": 2, "features": 6})
    assert errs == [] and facts["unique_blobs"] == 1
    assert checks.check_archive(path, {"tiles": 2, "features": 5})[0]
    assert checks.check_archive(path, {"tiles": 3, "features": 6})[0]
    assert checks.check_archive(path, {"tiles": 2, "features": 6},
                                layer="other")[0]


def test_exits_nonzero_without_the_engine(tmp_path):
    """Only BENCHMARK.json and the benchmark directory: no result, rc != 0."""
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(BENCH, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "adm4_sharded",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=120)
    assert p.returncode != 0
    assert '"correct"' not in p.stdout

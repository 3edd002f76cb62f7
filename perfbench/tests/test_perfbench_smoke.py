"""Tiny-input runs of the real command (``--smoke``), one per workload,
traced so the event-log parser runs too; plus one timed run.

    python -m pytest perfbench/tests -q

Each run starts its own Spark session (~20-30 s).
"""

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(os.path.dirname(HERE))
sys.path.insert(0, os.path.dirname(HERE))

import metrics as M  # noqa: E402


def _run(workload: str, trace: int) -> dict:
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", "3", "--seconds", "1", "--trace", str(trace), "--smoke"],
        cwd=ROOT, capture_output=True, text=True, timeout=300)
    assert p.returncode == 0, p.stderr[-3000:]
    return json.loads(p.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("workload", ["adm4_sharded", "docs_props_stream",
                                      "spatial_joins"])
def test_traced_smoke(workload):
    r = _run(workload, 1)
    assert set(r) == {"correct", "attempted", "failed", "metrics"}
    assert r["correct"] and r["failed"] == 0 and r["attempted"] >= 1
    assert set(r["metrics"]) == set(M.PER_LAYER)
    got = {k: v["value"] for k, v in r["metrics"].items()}
    assert got["trace.ops"] >= 1 and got["trace.overhead_ratio"] > 0
    if workload in ("adm4_sharded", "docs_props_stream"):
        assert got["pipeline.fanout.records_out"] > 0
        assert got["pipeline.encode.tiles_out"] > 0
        assert 0.5 < got["trace.accounted_share"] < 1.5
    if workload == "docs_props_stream":
        assert got["extract.features_out"] > 0
        assert got["kernels.pmtiles.reader.fetch_p50_us"] > 0
        assert got["kernels.pmtiles.reader.reads_per_s"] > 0
    if workload == "spatial_joins":
        assert got["operators.joins.pip.jobs"] > 0
        assert got["operators.joins.knn.jobs"] > 0


def test_timed_smoke():
    r = _run("adm4_sharded", 0)
    assert r["correct"] and r["failed"] == 0
    assert set(r["metrics"]) == set(M.END_TO_END)
    assert all(v["value"] > 0 for v in r["metrics"].values())
    assert not os.path.exists(os.path.join(ROOT, ".perfbench_work"))

"""Incremental streaming ingest + py-files packaging."""

import os
import subprocess
import sys

import pyarrow.parquet as pq
import pytest


def test_incremental_extract_drains_only_new_files(spark, tmp_path):
    from gpq_tiles_spark.fixtures import generate_documents
    from gpq_tiles_spark.streaming import incremental_extract

    docs_dir = str(tmp_path / "docs")
    staging = str(tmp_path / "staging")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(docs_dir)

    t1 = generate_documents(100, seed=42)
    pq.write_table(t1, f"{docs_dir}/part1.parquet")
    incremental_extract(spark, docs_dir, staging, ckpt)
    n1 = spark.read.parquet(staging).count()
    assert n1 > 0

    # second run with no new files: nothing appended
    incremental_extract(spark, docs_dir, staging, ckpt)
    assert spark.read.parquet(staging).count() == n1

    # add a new file: only its features appended
    t2 = generate_documents(50, seed=7)
    pq.write_table(t2, f"{docs_dir}/part2.parquet")
    incremental_extract(spark, docs_dir, staging, ckpt)
    n2 = spark.read.parquet(staging).count()
    assert n2 > n1
    expected_new = sum(
        1 for spans in t2["spans"].to_pylist() for s in spans if s["kind"] == "geo"
    )
    assert n2 - n1 == expected_new


def test_package_pyfiles_zip(tmp_path):
    out = str(tmp_path / "pkg.zip")
    res = subprocess.run(
        [sys.executable, "scripts/package_pyfiles.py", out],
        capture_output=True, text=True, cwd="/root/repo",
    )
    assert res.returncode == 0, res.stderr
    import zipfile

    with zipfile.ZipFile(out) as z:
        names = z.namelist()
    assert "gpq_tiles_spark/__init__.py" in names
    assert "gpq_tiles_spark/pipeline.py" in names
    assert "gpq_tiles_spark/kernels/hilbert.py" in names
    assert not any("__pycache__" in n for n in names)

"""Emulates the driver's correctness gate: run each queries() entry through
Spark AND its oracle_sql() through DuckDB on the same parquet tables, compare
row count + columns + order-insensitive values."""

import math

import duckdb
import pytest

import __spark_entry__ as entry_mod

SF_DIR = "/root/testdata/sf0.001"  # driver gate runs sf0.01; see scripts/verify_oracle.py
TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def _duck(sql: str):
    con = duckdb.connect()
    for t in TABLES:
        con.sql(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )
    rel = con.sql(sql)
    cols = list(rel.columns)
    rows = rel.fetchall()
    con.close()
    return cols, rows


def _normalize(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for r in rows:
        vals = []
        for i in order:
            v = r[i]
            if isinstance(v, float):
                v = float(f"{v:.10g}")
            vals.append(v)
        out.append(tuple(vals))
    out.sort(key=repr)
    return out


@pytest.mark.parametrize("name", sorted(entry_mod.oracle_sql().keys()))
def test_query_matches_duckdb_oracle(spark, name):
    q = entry_mod.queries()[name]
    sdf = q(spark, SF_DIR)
    spark_rows = [tuple(r) for r in sdf.collect()]
    spark_cols = [c.lower() for c in sdf.columns]

    cols, duck_rows = _duck(entry_mod.oracle_sql()[name])
    duck_cols = [c.lower() for c in cols]

    assert sorted(spark_cols) == sorted(duck_cols), f"{name}: column mismatch"
    assert len(spark_rows) == len(duck_rows), f"{name}: row count {len(spark_rows)} vs {len(duck_rows)}"
    a = _normalize(spark_rows, spark_cols)
    b = _normalize(duck_rows, duck_cols)
    mism = [i for i, (x, y) in enumerate(zip(a, b)) if repr(x) != repr(y)]
    assert not mism, f"{name}: first mismatches {[(a[i], b[i]) for i in mism[:3]]}"


def test_entry_smoke(spark):
    df = entry_mod.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert set(df.columns) == {"tx", "ty", "n_points"}


def test_rows_only_queries_run(spark):
    qs = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    rows_only = [k for k in qs if k not in oracles]
    # minhash_neardup graduated to an oracle-backed recall invariant in r3;
    # tile_pipeline_z8 graduated to the full-pyramid fmix64 oracle in r6;
    # hilbert_order graduated to the recursive-CTE xy2d oracle in r6 —
    # EVERY query row is oracle-backed now
    assert rows_only == []


def test_fmix64_sql_bit_exact_vs_kernel():
    """The D1 thinning oracle hinges on DuckDB computing the *identical*
    uint64 fmix64 and the identical normalized double — assert both over
    boundary values and a random sweep (wrapping-multiply correctness)."""
    import numpy as np

    from gpq_tiles_spark.functions.spatial_sql import fmix64_norm_sql
    from gpq_tiles_spark.kernels.hashes import fmix64

    rng = np.random.default_rng(7)
    ids = np.concatenate([
        np.array([0, 1, 2, 2**32 - 1, 2**32, 2**63 - 1, 2**63, 2**64 - 1],
                 dtype=np.uint64),
        rng.integers(0, 2**64, size=500, dtype=np.uint64),
    ])
    con = duckdb.connect()
    con.execute("CREATE TABLE t AS SELECT UNNEST(?::UBIGINT[]) AS v",
                [[int(i) for i in ids]])
    got = np.array(
        [r[0] for r in con.execute(
            f"SELECT {fmix64_norm_sql('v')} FROM t").fetchall()],
        dtype=np.float64)
    con.close()
    want = fmix64(ids).astype(np.float64) / float(0xFFFFFFFFFFFFFFFF)
    assert np.array_equal(got, want)


def test_tile_archive_query_handles_empty_archive(spark, monkeypatch):
    """An event corpus with no features still yields a valid (empty)
    archive; the decode pass must return zero rows, not fail on schema
    inference over an empty row list."""
    from gpq_tiles_spark.extract import FEATURES_SCHEMA

    monkeypatch.setattr(entry_mod, "_register", lambda *a: None)
    monkeypatch.setattr(entry_mod, "_event_features",
                        lambda s, *a, **k: s.createDataFrame(
                            [], schema=FEATURES_SCHEMA))
    df = entry_mod._q_tile_archive(spark, SF_DIR)
    assert df.columns == ["tx", "ty", "n_points"]
    assert df.collect() == []

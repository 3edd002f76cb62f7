"""Dedup and similarity operator tests."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from gpq_tiles_spark.operators.dedup import (
    minhash_near_duplicates,
    ngram_jaccard_pairs,
    simhash_near_duplicates,
)
from gpq_tiles_spark.operators.similarity import cosine_topk_bruteforce


@pytest.fixture(scope="module")
def text_df(spark):
    base = "the quick brown fox jumps over the lazy dog and runs to the hills"
    rows = [
        ("d0", base),
        ("d1", base),  # exact dup of d0
        ("d2", base.replace("lazy", "sleepy")),  # near dup
        ("d3", "der schnelle braune fuchs springt und der hund ist müde"),
        ("d4", "completely different content about databases and query engines"),
        ("d5", "le renard brun et rapide saute et les chiens dorment"),
    ]
    return spark.createDataFrame(rows, schema="doc_id string, text string")


def test_minhash_near_duplicates(spark, text_df):
    buckets = minhash_near_duplicates(text_df, num_perm=32, bands=16, shingle_k=3)
    pairs = set()
    for r in buckets.collect():
        ids = r.doc_ids
        for i in range(len(ids)):
            for j in range(i + 1, len(ids)):
                pairs.add((ids[i], ids[j]))
    assert ("d0", "d1") in pairs  # exact dup always collides
    assert ("d0", "d2") in pairs or ("d1", "d2") in pairs  # near dup
    assert not any("d4" in p for p in pairs)


def test_simhash_near_duplicates(spark, text_df):
    out = simhash_near_duplicates(text_df, max_hamming=6).collect()
    got = {(r.doc_a, r.doc_b) for r in out}
    assert ("d0", "d1") in got
    assert all(r.hamming == 0 for r in out if (r.doc_a, r.doc_b) == ("d0", "d1"))


def test_ngram_jaccard(spark, text_df):
    out = ngram_jaccard_pairs(text_df, n=3, threshold=0.5).collect()
    got = {(r.doc_a, r.doc_b): r.jaccard for r in out}
    assert got[("d0", "d1")] == 1.0
    assert ("d0", "d2") in got and got[("d0", "d2")] > 0.5
    assert ("d0", "d4") not in got


@pytest.fixture(scope="module")
def vec_df(spark):
    rng = np.random.default_rng(42)
    vecs = rng.standard_normal((60, 16)).astype(np.float32)
    vecs[1] = vecs[0] + 0.01 * rng.standard_normal(16).astype(np.float32)
    rows = [(int(i), [float(x) for x in v]) for i, v in enumerate(vecs)]
    return spark.createDataFrame(rows, schema="vec_id long, embedding array<float>"), vecs


def test_cosine_bruteforce_matches_numpy(spark, vec_df):
    df, vecs = vec_df
    probes = df.where(F.col("vec_id") < 3)
    out = cosine_topk_bruteforce(df, probes, k=5).collect()
    got = {}
    for r in out:
        got.setdefault(r.probe_id, []).append((r.rnk, r.vec_id))
    v = vecs.astype(np.float64)
    norms = np.linalg.norm(v, axis=1)
    for pid in range(3):
        sims = (v @ v[pid]) / (norms * norms[pid])
        sims[pid] = -np.inf
        order = np.lexsort((np.arange(len(sims)), -sims))[:5]
        assert sorted(got[pid]) == [(i + 1, int(order[i])) for i in range(5)]
    # nearest neighbor of 0 is its perturbed copy
    assert got[0][0] == (1, 1) or sorted(got[0])[0] == (1, 1)


def test_minhash_signatures_vectorized_stable(spark, text_df):
    """Exact dups get identical signatures; the batch-vectorized hash is
    process-stable (two runs agree bit-for-bit)."""
    from gpq_tiles_spark.operators.dedup import minhash_signatures

    s1 = {r.doc_id: tuple(r.sig) for r in minhash_signatures(
        text_df, num_perm=16, shingle_k=3).collect()}
    s2 = {r.doc_id: tuple(r.sig) for r in minhash_signatures(
        text_df, num_perm=16, shingle_k=3).collect()}
    assert s1 == s2
    assert s1["d0"] == s1["d1"]          # exact dup -> identical signature
    assert s1["d0"] != s1["d4"]          # unrelated docs differ
    agree = sum(a == b for a, b in zip(s1["d0"], s1["d2"]))
    assert agree >= 4                     # near dup shares many minima


def test_minhash_short_and_empty_docs(spark):
    """Docs shorter than the shingle width hash as one whole-doc shingle;
    empty docs get the zero signature (no crash, no NaN)."""
    from gpq_tiles_spark.operators.dedup import minhash_signatures

    df = spark.createDataFrame(
        [("a", "one two"), ("b", "one two"), ("c", ""), ("d", None), ("e", "one three")],
        schema="doc_id string, text string",
    )
    sigs = {r.doc_id: tuple(r.sig) for r in minhash_signatures(
        df, num_perm=8, shingle_k=5).collect()}
    assert sigs["a"] == sigs["b"]
    assert sigs["a"] != sigs["e"]
    assert sigs["c"] == tuple([0] * 8) and sigs["d"] == tuple([0] * 8)


def test_ngram_universal_gram_bounded(spark):
    """A gram present in EVERY doc must not become a join key when its
    document frequency exceeds max_df: candidate count stays bounded and
    true near-dups are still verified with exact (all-gram) Jaccard."""
    rows = [(f"u{i}", f"zqx{i:04d}unique{i:04d}") for i in range(30)]
    rows.append(("dupA", "zqxSHAREDSEGMENT0001"))
    rows.append(("dupB", "zqxSHAREDSEGMENT0001"))
    df = spark.createDataFrame(rows, schema="doc_id string, text string")
    out = ngram_jaccard_pairs(df, n=3, threshold=0.8, max_df=5).collect()
    got = {(r.doc_a, r.doc_b): r.jaccard for r in out}
    assert got.get(("dupA", "dupB")) == 1.0   # exact Jaccard survives the prefilter
    assert len(got) <= 3                       # no universal-gram quadratic


def test_simhash_hot_bucket_cap_completes(spark):
    """With a 1-doc bucket cap on a corpus of identical docs every chunk is
    hot, so candidate generation is fully suppressed (bounded, no quadratic)
    while the default cap still finds the pairs."""
    rows = [(f"d{i}", "same boilerplate text repeated everywhere") for i in range(12)]
    df = spark.createDataFrame(rows, schema="doc_id string, text string")
    capped = simhash_near_duplicates(df, max_hamming=3, max_bucket=1).collect()
    assert capped == []
    uncapped = simhash_near_duplicates(df, max_hamming=3, max_bucket=1000).collect()
    assert len(uncapped) == 12 * 11 // 2


def test_embedding_near_duplicates_lsh_matches_bruteforce(spark, vec_df):
    """LSH-candidate near-dup path finds the same above-threshold pairs as
    exact brute force (the planted twin pair has cosine ~1)."""
    from gpq_tiles_spark.operators.similarity import embedding_near_duplicates

    df, _ = vec_df
    exact = {(r.vec_a, r.vec_b) for r in embedding_near_duplicates(
        df, threshold=0.9).collect()}
    approx = {(r.vec_a, r.vec_b) for r in embedding_near_duplicates(
        df, threshold=0.9, use_lsh=True, dim=16, n_planes=4, n_tables=12).collect()}
    assert (0, 1) in exact          # the planted near-identical pair
    assert approx <= exact          # LSH never invents pairs (exact verify)
    assert (0, 1) in approx         # and finds the twin


def test_ivf_topk_recall(spark):
    """IVF ANN: on a clustered corpus the coarse quantizer separates the
    clusters, so nprobe-bounded search recovers the true top-k."""
    import numpy as np

    from gpq_tiles_spark.operators.similarity import (
        cosine_topk_bruteforce,
        cosine_topk_ivf,
        train_ivf_centroids,
    )

    rng = np.random.default_rng(5)
    centers = rng.standard_normal((8, 16)) * 4.0
    vecs = np.concatenate([
        c + rng.standard_normal((40, 16)) * 0.3 for c in centers
    ])
    df = spark.createDataFrame(
        [(int(i), [float(x) for x in v]) for i, v in enumerate(vecs)],
        schema="vec_id long, embedding array<float>",
    )
    cents = train_ivf_centroids(df, dim=16, n_centroids=8, sample=320, seed=1)
    probes = df.where("vec_id IN (0, 45, 170, 300)")
    exact = {}
    for r in cosine_topk_bruteforce(df, probes, k=5).collect():
        exact.setdefault(r.probe_id, set()).add(r.vec_id)
    approx = {}
    for r in cosine_topk_ivf(df, probes, k=5, centroids=cents, nprobe=3).collect():
        approx.setdefault(r.probe_id, set()).add(r.vec_id)
    recall = sum(len(exact[p] & approx.get(p, set())) for p in exact) / sum(
        len(v) for v in exact.values())
    assert recall >= 0.9, recall


def test_duplicate_assignments_listfree(spark, text_df):
    from gpq_tiles_spark.operators.dedup import duplicate_assignments

    out = {r.doc_id: (r.keeper, r.is_duplicate)
           for r in duplicate_assignments(text_df).collect()}
    assert out["d0"] == ("d0", False)
    assert out["d1"] == ("d0", True)   # exact dup points at the keeper
    assert out["d2"][1] is False       # near dup is NOT an exact dup


def test_minhash_hot_bucket_cap(spark):
    """A boilerplate corpus where one signature covers every doc: with the
    cap the bucket is dropped before any list aggregation."""
    from gpq_tiles_spark.operators.dedup import minhash_near_duplicates

    rows = [(f"d{i}", "identical boilerplate text everywhere") for i in range(30)]
    df = spark.createDataFrame(rows, schema="doc_id string, text string")
    capped = minhash_near_duplicates(df, num_perm=16, bands=4, max_bucket=10).collect()
    assert capped == []
    full = minhash_near_duplicates(df, num_perm=16, bands=4, max_bucket=None).collect()
    assert any(r.n_docs == 30 for r in full)

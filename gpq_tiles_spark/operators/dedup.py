"""Deduplication operators for large-scale training-data pipelines.

North-star extensions (BASELINE.json): exact dedup, MinHash+LSH, SimHash,
n-gram Jaccard. All signature computation runs in Arrow-batched pandas UDFs
(numpy-vectorized per batch); the candidate generation is pure DataFrame
algebra (groupBy/join on band buckets), so the shuffle only ever carries
(bucket_key, doc_id) pairs — never document text — which is what keeps this
viable at 10^12 docs.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from ..partitioning import spread_small_input

_MERSENNE = (1 << 61) - 1


def duplicate_assignments(df: DataFrame, text_col: str = "text",
                          id_col: str = "doc_id") -> DataFrame:
    """Per-doc dedup verdict WITHOUT any list aggregation: (doc_id,
    content_hash, keeper, is_duplicate). The keeper is the min doc_id of the
    content group (a window min — map-side combinable, no collect_list
    buffering), so this is the primitive a 10^12-doc pipeline actually
    applies: ``.where(~is_duplicate)``."""
    w = Window.partitionBy("content_hash")
    return (
        df.select(
            F.md5(F.col(text_col)).alias("content_hash"),
            F.col(id_col).alias("doc_id"),
        )
        .withColumn("keeper", F.min("doc_id").over(w))
        .withColumn("is_duplicate", F.col("doc_id") != F.col("keeper"))
    )


def _inv_u64(b: int) -> int:
    """Multiplicative inverse of odd b mod 2^64 (Newton iteration)."""
    x = b
    for _ in range(6):
        x = (x * (2 - b * x)) & 0xFFFF_FFFF_FFFF_FFFF
    return x


# byte-level / word-level polynomial hash bases (odd -> invertible mod 2^64)
_B = 0x100000001B3          # byte base (FNV prime)
_BINV = np.uint64(_inv_u64(_B))
_C = 0x9E3779B97F4A7C15 | 1  # word base (golden-ratio odd constant)
_CINV = np.uint64(_inv_u64(_C))


def _batch_word_hashes(texts: list[str]) -> tuple[np.ndarray, np.ndarray]:
    """All word hashes of a batch in one numpy pass — zero per-byte Python.

    Concatenates the batch's UTF-8 bytes (single-space separators keep words
    from merging across docs), finds word boundaries with boolean masks, and
    derives each word's polynomial hash h = sum_j byte[j] * B^(len-1-j)
    (mod 2^64) from ONE global prefix array: h(s, e) = B^(e-1) * (P_e - P_s)
    where P_k = sum_{j<k} byte[j] * B^-j, from one cumprod/cumsum pass.

    Returns (word_hashes uint64 in doc order, doc_off int64 len n_docs+1).
    """
    bufs = [t.encode("utf-8") for t in texts]
    lens = np.fromiter((len(b) for b in bufs), dtype=np.int64, count=len(bufs))
    buf = b" ".join(bufs)
    n_docs = len(texts)
    n = len(buf)
    if n == 0:
        return np.empty(0, dtype=np.uint64), np.zeros(n_docs + 1, dtype=np.int64)
    arr = np.frombuffer(buf, dtype=np.uint8)
    ws = (arr == 32) | ((arr >= 9) & (arr <= 13))  # str.split() whitespace
    nonws = ~ws
    prev_ws = np.empty(n, dtype=bool)
    prev_ws[0] = True
    prev_ws[1:] = ws[:-1]
    starts = np.flatnonzero(nonws & prev_ws)
    next_ws = np.empty(n, dtype=bool)
    next_ws[-1] = True
    next_ws[:-1] = ws[1:]
    ends = np.flatnonzero(nonws & next_ws) + 1

    # map each word to its doc via the doc start offsets in the joined buffer
    doc_b = np.zeros(n_docs, dtype=np.int64)
    doc_b[1:] = np.cumsum(lens + 1)[:-1]
    wd = np.searchsorted(doc_b, starts, side="right") - 1

    with np.errstate(over="ignore"):
        a64 = arr.astype(np.uint64) | np.uint64(0x100)  # length-sensitive marker bit
        binv_pow = np.full(n, _BINV, dtype=np.uint64)
        binv_pow[0] = np.uint64(1)
        binv_pow = np.cumprod(binv_pow)                 # B^-i, wrapping
        prefix = np.zeros(n + 1, dtype=np.uint64)
        np.cumsum(a64 * binv_pow, out=prefix[1:])       # wrapping cumsum
        b_pow = np.full(n, np.uint64(_B), dtype=np.uint64)
        b_pow[0] = np.uint64(1)
        b_pow = np.cumprod(b_pow)                       # B^i
        word_h = (prefix[ends] - prefix[starts]) * b_pow[ends - 1]

    counts = np.bincount(wd, minlength=n_docs)
    doc_off = np.zeros(n_docs + 1, dtype=np.int64)
    np.cumsum(counts, out=doc_off[1:])
    return word_h, doc_off


def _batch_shingle_hashes(word_h: np.ndarray, doc_off: np.ndarray,
                          k: int) -> tuple[np.ndarray, np.ndarray]:
    """k-word shingle hashes per doc, vectorized across the whole batch.

    A shingle's hash is a polynomial combination (base C) of its k word
    hashes, computed for every window position at once via the same global
    prefix-array trick as _batch_word_hashes. Docs with 0 < n_words < k get
    one whole-doc shingle (matching the join-all-words semantics); empty
    docs get none. Returns (fmix64'd shingle hashes, out_off per doc)."""
    from ..kernels.hashes import fmix64

    m = len(word_h)
    counts = doc_off[1:] - doc_off[:-1]
    n_sh = np.where(counts >= k, counts - k + 1,
                    np.where(counts > 0, 1, 0)).astype(np.int64)
    out_off = np.zeros(len(counts) + 1, dtype=np.int64)
    np.cumsum(n_sh, out=out_off[1:])
    total = int(out_off[-1])
    out = np.zeros(total, dtype=np.uint64)
    if m == 0 or total == 0:
        return out, out_off
    with np.errstate(over="ignore"):
        cinv_pow = np.full(m, _CINV, dtype=np.uint64)
        cinv_pow[0] = np.uint64(1)
        cinv_pow = np.cumprod(cinv_pow)
        q = np.zeros(m + 1, dtype=np.uint64)
        np.cumsum(word_h * cinv_pow, out=q[1:])
        c_pow = np.full(m, np.uint64(_C), dtype=np.uint64)
        c_pow[0] = np.uint64(1)
        c_pow = np.cumprod(c_pow)

        full = counts >= k
        if full.any():
            nw = (counts - k + 1)[full]
            grp_start = np.zeros(len(nw), dtype=np.int64)
            grp_start[1:] = np.cumsum(nw)[:-1]
            local = np.arange(int(nw.sum()), dtype=np.int64) - np.repeat(grp_start, nw)
            wi = np.repeat(doc_off[:-1][full], nw) + local
            pos = np.repeat(out_off[:-1][full], nw) + local
            out[pos] = (q[wi + k] - q[wi]) * c_pow[wi + k - 1]
        under = (counts > 0) & (counts < k)
        if under.any():
            s = doc_off[:-1][under]
            e = doc_off[1:][under]
            out[out_off[:-1][under]] = (q[e] - q[s]) * c_pow[e - 1]
    return fmix64(out), out_off


def _minhash_params(num_perm: int, seed: int = 42) -> tuple[np.ndarray, np.ndarray]:
    rng = np.random.default_rng(seed)
    a = rng.integers(1, _MERSENNE, size=num_perm, dtype=np.uint64)
    b = rng.integers(0, _MERSENNE, size=num_perm, dtype=np.uint64)
    return a, b


def minhash_signatures(df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
                       num_perm: int = 64, shingle_k: int = 5,
                       seed: int = 42) -> DataFrame:
    """(doc_id, sig: array<long>) MinHash signatures."""
    a, b = _minhash_params(num_perm, seed)

    schema = StructType(
        [
            StructField("doc_id", StringType()),
            StructField("sig", ArrayType(LongType())),
        ]
    )

    def compute(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            texts = ["" if t is None else str(t) for t in pdf[text_col]]
            word_h, doc_off = _batch_word_hashes(texts)
            sh, out_off = _batch_shingle_hashes(word_h, doc_off, shingle_k)
            n_docs = len(texts)
            sig = np.zeros((n_docs, num_perm), dtype=np.int64)
            nonempty = (out_off[1:] - out_off[:-1]) > 0
            if nonempty.any():
                red = out_off[:-1][nonempty]
                # one vectorized pass per permutation; min over the multiset
                # of shingle hashes == min over the unique set, so no dedup
                # of shingles is needed before the reduction
                with np.errstate(over="ignore"):
                    for p in range(num_perm):
                        vals = (a[p] * sh + b[p]) % np.uint64(_MERSENNE)
                        sig[nonempty, p] = np.minimum.reduceat(vals, red).astype(np.int64)
            yield pd.DataFrame(
                {"doc_id": pdf[id_col].astype(str), "sig": [r.tolist() for r in sig]}
            )

    return df.select(id_col, text_col).mapInPandas(compute, schema=schema)


def minhash_near_duplicates(df: DataFrame, text_col: str = "text",
                            id_col: str = "doc_id", num_perm: int = 64,
                            bands: int = 16, shingle_k: int = 5,
                            seed: int = 42,
                            max_bucket: int | None = 100_000) -> DataFrame:
    """LSH banding: docs sharing any band bucket are candidate near-dups.

    Returns (band, bucket_hash, n_docs, doc_ids) for buckets with >= 2 docs.
    The join key is the (band, hash-of-rows) pair; signature arrays never
    shuffle beyond the initial banding projection. ``max_bucket`` bounds the
    collect_list buffering: buckets above the cap (a boilerplate-dominated
    corpus where one signature covers millions of docs) are dropped via a
    count prefilter BEFORE any list aggregation, so no reduce task ever
    materializes an unbounded id list.
    """
    rows_per_band = num_perm // bands
    sigs = minhash_signatures(df, text_col, id_col, num_perm, shingle_k, seed)
    band_cols = []
    for b in range(bands):
        seg = F.slice("sig", b * rows_per_band + 1, rows_per_band)
        band_cols.append(
            F.struct(F.lit(b).alias("band"), F.md5(F.to_json(seg)).alias("bucket"))
        )
    exploded = sigs.select(
        "doc_id", F.explode(F.array(*band_cols)).alias("bb")
    ).select("doc_id", F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket"))
    if max_bucket is not None:
        hot = (
            exploded.groupBy("band", "bucket").count()
            .where(F.col("count") > max_bucket)
            .select("band", "bucket")
        )
        exploded = exploded.join(F.broadcast(hot), ["band", "bucket"], "left_anti")
    return (
        exploded.groupBy("band", "bucket")
        .agg(F.count("*").alias("n_docs"),
             F.sort_array(F.collect_list("doc_id")).alias("doc_ids"))
        .where(F.col("n_docs") > 1)
    )


def simhash_signatures(df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
                       seed: int = 42) -> DataFrame:
    """64-bit SimHash per doc: sign of per-bit weighted sums of token hashes."""
    schema = StructType(
        [
            StructField("doc_id", StringType()),
            StructField("simhash", LongType()),
        ]
    )

    def compute(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from ..kernels.hashes import fmix64

        for pdf in batches:
            texts = ["" if t is None else str(t) for t in pdf[text_col]]
            word_h, doc_off = _batch_word_hashes(texts)
            word_h = fmix64(word_h)
            n_docs = len(texts)
            counts = doc_off[1:] - doc_off[:-1]
            acc = np.zeros(n_docs, dtype=np.uint64)
            nonempty = counts > 0
            if nonempty.any():
                red = doc_off[:-1][nonempty]
                # per-bit weighted sum per doc: sum(2*bit - 1) = 2*sum(bit) - n
                for bit in range(64):
                    bits = ((word_h >> np.uint64(bit)) & np.uint64(1)).astype(np.int64)
                    s = np.add.reduceat(bits, red)
                    pos = (2 * s - counts[nonempty]) > 0
                    acc[nonempty] |= pos.astype(np.uint64) << np.uint64(bit)
            signed = acc.astype(np.int64)  # two's-complement view
            yield pd.DataFrame({"doc_id": pdf[id_col].astype(str), "simhash": signed})

    return df.select(id_col, text_col).mapInPandas(compute, schema=schema)


def simhash_near_duplicates(df: DataFrame, text_col: str = "text",
                            id_col: str = "doc_id", max_hamming: int = 3,
                            max_bucket: int = 1000) -> DataFrame:
    """Near-dups by SimHash: band the 64 bits into 4 x 16-bit chunks (any
    identical chunk -> candidate, guaranteed to catch hamming <= 3), verify
    pairs by exact hamming distance. Self-join happens only on chunk buckets.

    ``max_bucket`` caps candidate generation per chunk bucket: a bucket with
    D docs yields D^2/2 pairs, so one hot 16-bit value (e.g. a boilerplate-
    heavy corpus) would otherwise go quadratic at 10^9+ docs. Buckets above
    the cap are dropped from THAT chunk only — near-identical docs still
    collide on the other 3 chunks unless all four are equally hot (standard
    LSH hot-bucket practice).
    """
    sigs = simhash_signatures(df, text_col, id_col).cache()
    chunks = sigs.select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("chunk"),
                        F.shiftrightunsigned(F.col("simhash"), i * 16)
                        .bitwiseAND(F.lit(0xFFFF))
                        .alias("val"),
                    )
                    for i in range(4)
                ]
            )
        ).alias("c"),
    ).select("doc_id", "simhash", F.col("c.chunk").alias("chunk"), F.col("c.val").alias("val"))

    # hot-bucket cap: the HOT set is small by construction (at most
    # 4*n_docs/max_bucket buckets), so it broadcasts; the count itself is a
    # map-side-combinable agg over (chunk, val) pairs
    hot = (
        chunks.groupBy("chunk", "val").count()
        .where(F.col("count") > max_bucket)
        .select("chunk", "val")
    )
    chunks = chunks.join(F.broadcast(hot), ["chunk", "val"], "left_anti")

    a = chunks.alias("a")
    b = chunks.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.chunk") == F.col("b.chunk"))
            & (F.col("a.val") == F.col("b.val"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.simhash").alias("sig_a"),
            F.col("b.simhash").alias("sig_b"),
        )
        .distinct()
    )
    hamming = F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b")))
    return pairs.withColumn("hamming", hamming).where(F.col("hamming") <= max_hamming)


def ngram_jaccard_pairs(df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
                        n: int = 3, threshold: float = 0.8,
                        max_df: int = 1000) -> DataFrame:
    """Character-n-gram Jaccard near-dup: inverted index on RARE n-grams ->
    candidate pairs -> exact Jaccard verify over ALL grams of the candidate
    pairs only. DataFrame-algebra formulation (explode + join + agg).

    ``max_df`` is the document-frequency cap on the candidate-generation
    index: grams appearing in more than max_df docs ("the", " an") never
    become join keys, so a universal gram cannot produce an all-pairs
    quadratic blowup. The verify stage recomputes the TRUE intersection
    (all grams, rare and common) per candidate pair, so Jaccard values are
    exact — dropping common grams only costs recall for pairs whose overlap
    is exclusively ubiquitous grams, which a threshold >= 0.8 filter would
    reject anyway.

    Runs EAGERLY: the call executes Spark jobs and returns a result that is
    already persisted (so the intermediate gram cache can be released
    before returning). The caller owns that cache and must call
    ``unpersist()`` on the returned DataFrame when done with it.
    """
    grams = spread_small_input(df).select(
        F.col(id_col).alias("doc_id"),
        F.explode(
            F.array_distinct(
                F.transform(
                    F.sequence(F.lit(1), F.greatest(F.length(text_col) - (n - 1), F.lit(1))),
                    lambda i: F.col(text_col).substr(i, F.lit(n)),
                )
            )
        ).alias("gram"),
    )
    # the gram explode feeds FIVE consumers (hot counts, both self-join
    # sides, sizes, hot-overlap); without a persist each one re-runs the
    # scan + substr chain + explode (guide §5: reuse justifies caching).
    # The result is materialized before returning so the cache can be
    # released here — same pattern as knn_join_distributed. (localCheckpoint
    # was also measured for the plan-truncation benefit and lost: its
    # eager materialization job costs more than the plan reuse saves.)
    grams = grams.persist()
    sizes = grams.groupBy("doc_id").agg(F.count("*").alias("n_grams"))

    # candidate generation on rare grams only (the hot set is small by
    # construction -> broadcastable anti-join, same pattern as SimHash cap)
    hot_grams = (
        grams.groupBy("gram").count()
        .where(F.col("count") > max_df)
        .select("gram")
    )
    rare = grams.join(F.broadcast(hot_grams), "gram", "left_anti")
    ra = rare.alias("ra")
    rb = rare.alias("rb")
    # candidate generation and rare-gram intersection in ONE aggregation
    # (round 7): each raw join row is one shared rare gram, so
    # count-per-pair IS |rare(a) ∩ rare(b)| — the former
    # distinct-then-rejoin-all-grams verify recomputed exactly this while
    # shuffling the raw pair explosion twice (guide §2.3: aggregate before
    # you shuffle). The candidate pair set is unchanged: pairs sharing >=1
    # rare gram.
    inter_rare = (
        ra.join(rb, (F.col("ra.gram") == F.col("rb.gram"))
                & (F.col("ra.doc_id") < F.col("rb.doc_id")))
        .groupBy(F.col("ra.doc_id").alias("doc_a"),
                 F.col("rb.doc_id").alias("doc_b"))
        .agg(F.count("*").alias("n_rare"))
    )
    # the TRUE intersection adds the hot-gram overlap, computed against
    # the small hot set only (per-doc hot-gram lists are bounded by the
    # hot set's own size, which is <= n_docs/max_df buckets)
    hg = grams.join(F.broadcast(hot_grams), "gram")
    inter = (
        inter_rare
        .join(hg.alias("ha"), F.col("doc_a") == F.col("ha.doc_id"), "left")
        .join(hg.alias("hb"), (F.col("doc_b") == F.col("hb.doc_id"))
              & (F.col("ha.gram") == F.col("hb.gram")), "left")
        .groupBy("doc_a", "doc_b")
        .agg((F.first("n_rare")
              + F.count(F.col("hb.gram"))).alias("n_common"))
    )
    sa = sizes.alias("sa")
    sb = sizes.alias("sb")
    out = (
        inter.join(sa, F.col("doc_a") == F.col("sa.doc_id"))
        .join(sb, F.col("doc_b") == F.col("sb.doc_id"))
        .withColumn(
            "jaccard",
            F.col("n_common")
            / (F.col("sa.n_grams") + F.col("sb.n_grams") - F.col("n_common")),
        )
        .select("doc_a", "doc_b", "n_common", "jaccard")
        .where(F.col("jaccard") >= threshold)
    )
    # materialize into the result's own cache, then drop the gram cache —
    # callers owning a long-lived session should out.unpersist() when done
    out = out.persist()
    out.count()
    grams.unpersist()
    return out

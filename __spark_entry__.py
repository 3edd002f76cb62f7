"""Driver contract for the spark-graft builder (PySpark target).

Each ``queries()`` entry is one operator from SURVEY.md §2 (or a north-star
extension from BASELINE.json) expressed over the driver's testdata tables;
``oracle_sql()`` carries the DuckDB-equivalent ANSI SQL. Spatial queries
derive deterministic points from the events table (exact rational ops) and
share the literal formula text between Spark and DuckDB via
gpq_tiles_spark.functions.spatial_sql, so float parity is structural.

Rows-only entries (no oracle): only Hilbert curve encoding remains — the
curve index itself has no DuckDB analog. Everything else, including the
full z0-8 tile PYRAMID (point thinning reconstructed bit-exactly in DuckDB
via a HUGEINT wrapping-multiply fmix64), is oracle-backed.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from gpq_tiles_spark.functions.spatial_sql import (
    EVENT_LAT,
    EVENT_LNG,
    fmix64_norm_sql,
    tile_x_sql,
    tile_y_sql,
    world_x_sql,
    world_y_sql,
    zone_rect_sql,
)

_TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


_REGISTERED: dict[tuple[int, str], bool] = {}


def _register(spark: SparkSession, sf_dir: str) -> None:
    """Register the testdata tables as temp views, once per (session,
    sf_dir): every query calls this, and re-running spark.read.parquet for
    10 tables costs a schema-inference footer read each — pure overhead
    when the views already point at the right directory."""
    key = (id(spark), sf_dir)
    # id() can be reused by a NEW session after the old one is collected;
    # the catalog probe catches that (views die with their session)
    if _REGISTERED.get(key) and spark.catalog.tableExists(_TABLES[0]):
        return
    for t in _TABLES:
        spark.read.parquet(f"{sf_dir}/{t}.parquet").createOrReplaceTempView(t)
    # a different sf_dir on the same session must re-register
    for k in [k for k in _REGISTERED if k[0] == id(spark)]:
        del _REGISTERED[k]
    _REGISTERED[key] = True


# ---------------------------------------------------------------------------
# Shared SQL (identical text for Spark and DuckDB)
# ---------------------------------------------------------------------------

def _sql_tile_assign_z8() -> str:
    # S1+T1: point tile assignment at z8, counts per tile (Catalyst-native)
    return f"""
        SELECT {tile_x_sql(EVENT_LNG, 8)} AS tx,
               {tile_y_sql(EVENT_LAT, 8)} AS ty,
               COUNT(*) AS n_points
        FROM events
        GROUP BY 1, 2
    """


def _sql_tile_pyramid_counts() -> str:
    # T3-lite for points: tiles touched per zoom 0..8 (fan-out cardinality)
    parts = []
    for z in range(0, 9):
        parts.append(
            f"""SELECT {z} AS z,
                   COUNT(DISTINCT ({tile_x_sql(EVENT_LNG, z)}) * 1048576
                         + ({tile_y_sql(EVENT_LAT, z)})) AS n_tiles,
                   COUNT(*) AS n_points
            FROM events"""
        )
    return " UNION ALL ".join(parts)


def _sql_dataset_bbox() -> str:
    # S4/A1: streaming dataset bbox
    return f"""
        SELECT MIN({EVENT_LNG}) AS lng_min, MIN({EVENT_LAT}) AS lat_min,
               MAX({EVENT_LNG}) AS lng_max, MAX({EVENT_LAT}) AS lat_max,
               COUNT(*) AS n
        FROM events
    """


def _sql_world_coords() -> str:
    # T6: 32-bit world coordinates (tippecanoe zoom-32 grid)
    return f"""
        SELECT event_id,
               {world_x_sql(EVENT_LNG)} AS wx,
               {world_y_sql(EVENT_LAT)} AS wy
        FROM events
    """


def _sql_hilbert_order() -> str:
    """T5/T7 oracle: tippecanoe's 2^32-grid Hilbert index (spatial_index.rs:
    126-223) as pure SQL — the 32-level xy2d bit loop becomes a recursive
    CTE over (x, y, d, s) state rows. Quadrant math per level: rx/ry test
    bit s; d += s^2 * ((3*rx) XOR ry) accumulates in HUGEINT (d can exceed
    int64); the ry==0 rotation reflects by s-1 with u32 wrap-around
    (the +2^32 %2^32 dance) then swaps x/y. The final value wraps to the
    signed int64 the Spark kernel emits. 32 iterations x n rows — DuckDB
    runs the sf0.01 table in ~0.1 s."""
    wx = world_x_sql(EVENT_LNG)
    wy = world_y_sql(EVENT_LAT)
    return f"""
WITH RECURSIVE base AS (
  SELECT event_id, {wx} AS x, {wy} AS y FROM events
), hil AS (
  SELECT event_id, x, y, CAST(0 AS HUGEINT) AS d, CAST(2147483648 AS BIGINT) AS s
  FROM base
  UNION ALL
  SELECT event_id,
         CASE WHEN ry = 0 THEN ny ELSE nx END AS x,
         CASE WHEN ry = 0 THEN nx ELSE ny END AS y,
         d + CAST(s AS HUGEINT) * s * (CASE WHEN rx = 1 THEN 3 - ry ELSE ry END) AS d,
         s // 2 AS s
  FROM (
    SELECT event_id, d, s, rx, ry,
           CASE WHEN ry = 0 AND rx = 1
                THEN ((s - 1 - x) % 4294967296 + 4294967296) % 4294967296
                ELSE x END AS nx,
           CASE WHEN ry = 0 AND rx = 1
                THEN ((s - 1 - y) % 4294967296 + 4294967296) % 4294967296
                ELSE y END AS ny
    FROM (
      SELECT event_id, x, y, d, s,
             CASE WHEN (x & s) <> 0 THEN 1 ELSE 0 END AS rx,
             CASE WHEN (y & s) <> 0 THEN 1 ELSE 0 END AS ry
      FROM hil WHERE s >= 1
    )
  )
)
SELECT event_id,
       CAST(CASE WHEN d > 9223372036854775807 THEN d - 18446744073709551616
                 ELSE d END AS BIGINT) AS hilbert_key
FROM hil WHERE s = 0
"""


def _sql_pip_join() -> str:
    # North-star point-in-polygon join (rect zones derived from nation keys);
    # broadcast-able small dim side.
    r = zone_rect_sql("n.n_nationkey")
    return f"""
        SELECT CAST(n.n_nationkey AS BIGINT) AS zone_key, n.n_name AS zone_name,
               COUNT(*) AS n_points
        FROM nation n
        JOIN events e
          ON {EVENT_LNG.replace('event_id', 'e.event_id')} >= {r['lng0']}
         AND {EVENT_LNG.replace('event_id', 'e.event_id')} <  {r['lng0']} + {r['lng_w']}
         AND {EVENT_LAT.replace('event_id', 'e.event_id')} >= {r['lat0']}
         AND {EVENT_LAT.replace('event_id', 'e.event_id')} <  {r['lat0']} + {r['lat_h']}
        GROUP BY 1, 2
    """


def _sql_knn() -> str:
    # O5 kNN: 5 probes (region keys) x brute-force 5-NN over events,
    # deterministic tie-break on event_id.
    plng = "(CAST((r.r_regionkey * 61) % 300 AS DOUBLE) - 150.0)"
    plat = "(CAST((r.r_regionkey * 43) % 120 AS DOUBLE) - 60.0)"
    elng = EVENT_LNG.replace("event_id", "e.event_id")
    elat = EVENT_LAT.replace("event_id", "e.event_id")
    return f"""
        SELECT CAST(r_regionkey AS BIGINT) AS r_regionkey,
               CAST(rnk AS BIGINT) AS rnk,
               CAST(event_id AS BIGINT) AS event_id
        FROM (
            SELECT r.r_regionkey, e.event_id,
                   ROW_NUMBER() OVER (
                       PARTITION BY r.r_regionkey
                       ORDER BY ({elng} - {plng}) * ({elng} - {plng})
                              + ({elat} - {plat}) * ({elat} - {plat}) ASC,
                                e.event_id ASC
                   ) AS rnk
            FROM region r CROSS JOIN events e
        ) t
        WHERE rnk <= 5
    """


def _sql_density_limit() -> str:
    # D6/O4: per-cell limit-N as a window (grid cell = z12 tile of the point,
    # 16px sub-cell), keep first 2 per cell by event_id
    cx = tile_x_sql(EVENT_LNG, 12)
    cy = tile_y_sql(EVENT_LAT, 12)
    return f"""
        SELECT cell_x, cell_y, COUNT(*) AS n_kept
        FROM (
            SELECT {cx} AS cell_x, {cy} AS cell_y,
                   ROW_NUMBER() OVER (
                       PARTITION BY {cx}, {cy} ORDER BY event_id
                   ) AS rn
            FROM events
        ) t
        WHERE rn <= 2
        GROUP BY cell_x, cell_y
    """


def _sql_q1_pricing() -> str:
    # TPC-H Q1 shape (scan + agg); decimal-exact sums cast to double
    return """
        SELECT l_returnflag, l_linestatus,
               CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
               CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
               COUNT(*) AS count_order
        FROM lineitem
        WHERE l_shipdate <= DATE '2000-09-02'
        GROUP BY l_returnflag, l_linestatus
    """


def _sql_top_revenue() -> str:
    # join + agg + deterministic top-k
    return """
        SELECT o.o_orderkey AS orderkey,
               CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))
                        * CAST(1.0 - l.l_discount AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
               COUNT(*) AS n_items
        FROM customer c
        JOIN orders o ON c.c_custkey = o.o_custkey
        JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        WHERE c.c_mktsegment = 'BUILDING'
        GROUP BY o.o_orderkey
        ORDER BY revenue DESC, orderkey ASC
        LIMIT 10
    """


def _sql_dedup_exact() -> str:
    # north-star exact dedup: content-hash grouping
    return """
        SELECT COUNT(*) AS n_docs,
               COUNT(DISTINCT md5(text)) AS n_unique_texts,
               COUNT(*) - COUNT(DISTINCT md5(text)) AS n_duplicates
        FROM documents
    """


def _sql_dedup_assignments() -> str:
    # list-free per-doc dedup verdict (the 10^12-doc primitive): window min
    return """
        SELECT doc_id,
               MIN(doc_id) OVER (PARTITION BY md5(text)) AS keeper,
               doc_id <> MIN(doc_id) OVER (PARTITION BY md5(text)) AS is_duplicate
        FROM documents
    """


def _sql_token_counts() -> str:
    # north-star token counting (whitespace tokens, exact integer arithmetic)
    # CAST(SUM .. AS BIGINT): DuckDB sums ints into HUGEINT (int128) while
    # Spark returns BIGINT; the driver hash is dtype-sensitive, values match.
    tok = "(length(text) - length(replace(text, ' ', '')) + 1)"
    return f"""
        SELECT lang,
               CAST(SUM({tok}) AS BIGINT) AS total_tokens,
               COUNT(*) AS n_docs,
               CAST(SUM({tok}) AS DOUBLE) / COUNT(*) AS avg_tokens
        FROM documents
        GROUP BY lang
    """


def _sql_quality_scores() -> str:
    # north-star quality scoring: stopword density + length band
    the_count = "CAST((length(text) - length(replace(text, ' the ', ''))) / 5 AS BIGINT)"
    score = f"(CAST({the_count} AS DOUBLE) * 100.0 / length(text))"
    return f"""
        SELECT doc_id, length(text) AS n_chars_actual,
               {the_count} AS stopword_hits,
               {score} AS quality_score
        FROM documents
        ORDER BY {score} DESC, doc_id ASC
        LIMIT 20
    """


def _sql_langid() -> str:
    # north-star language-ID heuristic: en-stopword hit rate per source
    hits = (
        "(length(text) - length(replace(text, ' the ', ''))) / 5"
        " + (length(text) - length(replace(text, ' and ', ''))) / 5"
    )
    return f"""
        SELECT source,
               CAST(SUM(CAST({hits} AS BIGINT)) AS BIGINT) AS en_hits,
               COUNT(*) AS n_docs
        FROM documents
        GROUP BY source
    """


def _sql_fingerprint() -> str:
    # north-star document fingerprinting: first-8-hex of md5 as bucket
    return """
        SELECT substr(md5(text), 1, 4) AS fp_prefix, COUNT(*) AS n_docs
        FROM documents
        GROUP BY 1
        HAVING COUNT(*) > 0
    """


_ANN_TEMPLATE = """
    SELECT probe_id, rnk, vec_id
    FROM (
      SELECT p.vec_id AS probe_id, v.vec_id AS vec_id,
             ROW_NUMBER() OVER (
               PARTITION BY p.vec_id
               ORDER BY {dot} DESC, v.vec_id ASC
             ) AS rnk
      FROM embeddings v
      CROSS JOIN (SELECT * FROM embeddings WHERE vec_id < 5) p
      WHERE v.vec_id <> p.vec_id
    ) t
    WHERE rnk <= 10
"""


def _sql_ann(dialect: str) -> str:
    # north-star similarity search: brute-force dot-product top-k.
    # Output is rank-only (integers) so the cross-engine float summation
    # order cannot affect the comparison; both sides accumulate in double.
    if dialect == "spark":
        dot = (
            "aggregate(zip_with(v.embedding, p.embedding, "
            "(a, b) -> CAST(a AS DOUBLE) * CAST(b AS DOUBLE)), "
            "CAST(0.0 AS DOUBLE), (acc, x) -> acc + x)"
        )
    else:
        dot = "list_dot_product(CAST(v.embedding AS DOUBLE[]), CAST(p.embedding AS DOUBLE[]))"
    return _ANN_TEMPLATE.format(dot=dot)


_EMB_NEARDUP_THRESHOLD = 0.4


def _sql_emb_neardup(dialect: str) -> str:
    # embedding-cosine near-dup pairs; INTEGER-only output (pair ids), the
    # float only gates the filter — both engines fold the dot product
    # left-to-right in double, same as the rank-checked ann_cosine_topk
    if dialect == "spark":
        def dot(x, y):
            return (f"aggregate(zip_with({x}, {y}, (p, q) -> "
                    "CAST(p AS DOUBLE) * CAST(q AS DOUBLE)), "
                    "CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)")
    else:
        def dot(x, y):
            return (f"list_dot_product(CAST({x} AS DOUBLE[]), "
                    f"CAST({y} AS DOUBLE[]))")
    cos = (f"({dot('a.embedding', 'b.embedding')} / "
           f"(sqrt({dot('a.embedding', 'a.embedding')}) * "
           f"sqrt({dot('b.embedding', 'b.embedding')})))")
    # fixed 500-vector subset: the contract row checks operator semantics
    # exactly at every sf without an O(n^2) bench blowup (the operator
    # library's LSH path is the at-scale variant)
    return f"""
        SELECT a.vec_id AS vec_a, b.vec_id AS vec_b
        FROM (SELECT * FROM embeddings WHERE vec_id < 500) a
        JOIN (SELECT * FROM embeddings WHERE vec_id < 500) b
          ON a.vec_id < b.vec_id
        WHERE {cos} >= {_EMB_NEARDUP_THRESHOLD}
    """


def _sql_hourly(dialect: str) -> str:
    # event-time windowed counts (batch form of the streaming window agg)
    cast = "STRING" if dialect == "spark" else "VARCHAR"
    return f"""
        SELECT CAST(date_trunc('hour', ts) AS {cast}) AS hr, event_type,
               COUNT(*) AS n_events
        FROM events
        GROUP BY 1, 2
    """


# ---------------------------------------------------------------------------
# Engine-backed (rows-only) queries
# ---------------------------------------------------------------------------

def _q_hilbert_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T5/T7: tippecanoe Hilbert key of each event point (numpy kernel in an
    Arrow batch UDF). Oracle: the 32-level xy2d loop unrolled as a DuckDB
    recursive CTE (_sql_hilbert_order) — bit-exact against the kernel."""
    import numpy as np
    import pandas as pd

    from gpq_tiles_spark.kernels import hilbert as H
    from gpq_tiles_spark.kernels import tile_math as T

    _register(spark, sf_dir)
    pts = spark.sql(
        f"SELECT event_id, {EVENT_LNG} AS lng, {EVENT_LAT} AS lat FROM events")

    def add_key(batches):
        for pdf in batches:
            wx, wy = T.lng_lat_to_world(pdf["lng"].to_numpy(), pdf["lat"].to_numpy())
            key = H.encode_hilbert(wx, wy)
            yield pd.DataFrame(
                {"event_id": pdf["event_id"], "hilbert_key": key.astype(np.int64)}
            )

    from pyspark.sql.types import LongType, StructField, StructType

    schema = StructType(
        [StructField("event_id", LongType()), StructField("hilbert_key", LongType())]
    )
    return pts.mapInPandas(add_key, schema=schema)


def _q_minhash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH recall oracle. Full banding isn't SQL-expressible, but a
    guaranteed invariant is: identical texts have identical shingle sets,
    hence identical signatures, hence share EVERY band bucket — so every
    exact-duplicate pair must be covered by >= 1 LSH bucket of size >= 2.
    The Spark side runs the REAL operator (minhash_near_duplicates) and
    counts covered exact-dup pairs; DuckDB computes the total from group
    sizes; covered == total is the oracle equality."""
    from pyspark.sql import functions as F

    from gpq_tiles_spark.operators.dedup import minhash_near_duplicates

    _register(spark, sf_dir)
    # inject deterministic exact duplicates (doc_id % 20 == 0 copied under
    # -doc_id - 1: negative ids are collision-proof against real non-negative
    # doc_ids at ANY scale factor, unlike a fixed +10^7 offset) so the recall
    # invariant is NON-VACUOUS on corpora with few natural exact dups; the
    # oracle SQL applies the same construction
    base = spark.table("documents").where(F.col("text").isNotNull()).select(
        "doc_id", "text")
    docs = base.unionAll(
        base.where(F.col("doc_id") % 20 == 0)
        .select((-F.col("doc_id") - 1).alias("doc_id"), "text")
    )
    buckets = minhash_near_duplicates(
        docs, text_col="text", id_col="doc_id", num_perm=32, bands=8,
        max_bucket=None,
    )
    # explicit cast: the operator carries ids as strings internally
    mem = buckets.select(
        "band", "bucket", F.explode("doc_ids").alias("_did")
    ).select(
        "band", "bucket", F.col("_did").cast("long").alias("doc_id")
    )
    h = docs.select("doc_id", F.md5("text").alias("h"))
    pairs = (
        h.alias("a").join(h.alias("b"), "h")
        .where(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(F.col("a.doc_id").alias("da"), F.col("b.doc_id").alias("db"))
    )
    cov = (
        pairs.join(mem.alias("ma"), F.col("da") == F.col("ma.doc_id"))
        .join(mem.alias("mb"),
              (F.col("db") == F.col("mb.doc_id"))
              & (F.col("ma.band") == F.col("mb.band"))
              & (F.col("ma.bucket") == F.col("mb.bucket")))
        .select("da", "db").distinct()
    )
    return cov.agg(
        F.count("*").alias("n_exact_dup_pairs_covered")
    ).crossJoin(pairs.agg(F.count("*").alias("n_exact_dup_pairs_total")))


def _sql_minhash_recall() -> str:
    # the invariant: every exact-dup pair is LSH-covered, so covered == total
    return """
        SELECT COALESCE(CAST(SUM(n * (n - 1) / 2) AS BIGINT), 0)
                   AS n_exact_dup_pairs_covered,
               COALESCE(CAST(SUM(n * (n - 1) / 2) AS BIGINT), 0)
                   AS n_exact_dup_pairs_total
        FROM (
            SELECT COUNT(*) AS n
            FROM (
                SELECT doc_id, text FROM documents WHERE text IS NOT NULL
                UNION ALL
                SELECT -doc_id - 1, text FROM documents
                WHERE text IS NOT NULL AND doc_id % 20 = 0
            ) c
            GROUP BY text
        ) g
        WHERE n > 1
    """


def _q_ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force dot-product top-k, Spark side routed through a
    vectorized Arrow kernel (round 4: the last pure-SQL north-star row).

    Bit-parity with the SQL oracle: the SQL folds the products
    left-to-right in double (aggregate(zip_with(...)) / list_dot_product),
    so the kernel accumulates the SAME order — one vectorized
    ``acc = acc + a[:, d] * b[d]`` step per dimension (IEEE elementwise ==
    the scalar fold), never np.dot (whose pairwise/SIMD summation rounds
    differently and could flip near-tie ranks). Ranking happens in Spark
    SQL over the scored pairs, identical ORDER BY."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import functions as F
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StructField,
        StructType,
    )

    _register(spark, sf_dir)
    emb = spark.table("embeddings").select("vec_id", "embedding")
    probes = emb.where(F.col("vec_id") < 5).collect()
    p_ids = np.array([r.vec_id for r in probes], dtype=np.int64)
    p_mat = np.array([r.embedding for r in probes], dtype=np.float64)
    schema = StructType([
        StructField("probe_id", LongType()),
        StructField("vec_id", LongType()),
        StructField("dot", DoubleType()),
    ])

    def score(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            ids = pdf["vec_id"].to_numpy(dtype=np.int64)
            mat = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
            n, dim = mat.shape
            acc = np.zeros((n, len(p_ids)), dtype=np.float64)
            for d in range(dim):  # left-to-right fold, matching the SQL
                acc = acc + mat[:, d, None] * p_mat[None, :, d]
            out = pd.DataFrame({
                "probe_id": np.tile(p_ids, n),
                "vec_id": np.repeat(ids, len(p_ids)),
                "dot": acc.reshape(-1),
            })
            yield out[out["probe_id"] != out["vec_id"]]

    scored = emb.mapInPandas(score, schema=schema)
    scored.createOrReplaceTempView("ann_scored")
    return spark.sql("""
        SELECT probe_id, rnk, vec_id
        FROM (
          SELECT probe_id, vec_id,
                 ROW_NUMBER() OVER (
                   PARTITION BY probe_id ORDER BY dot DESC, vec_id ASC
                 ) AS rnk
          FROM ann_scored
        ) t
        WHERE rnk <= 10
    """)


def _planted_dup_row(spark: SparkSession, sf_dir: str, id_bound: int,
                     pairs_fn) -> DataFrame:
    """Shared planted-duplicate recall row: inject an exact copy of every
    (doc_id %% 20 == 0, doc_id < id_bound) doc under -doc_id-1 (negative
    ids are collision-proof at any sf), run the near-dup OPERATOR via
    ``pairs_fn(docs) -> (doc_a, doc_b, ...)``, and count how many planted
    pairs it covered vs how many exist. Identical text guarantees coverage
    for every operator wired here, so covered == total is the oracle
    equality (see _sql_planted_dup_count)."""
    from pyspark.sql import functions as F

    _register(spark, sf_dir)
    base = (
        spark.table("documents")
        .where(F.col("text").isNotNull() & (F.col("doc_id") < id_bound))
        .select("doc_id", "text")
    )
    docs = base.unionAll(
        base.where(F.col("doc_id") % 20 == 0)
        .select((-F.col("doc_id") - 1).alias("doc_id"), "text")
    )
    p = pairs_fn(docs).select(
        F.col("doc_a").cast("long").alias("a"),
        F.col("doc_b").cast("long").alias("b"),
    )
    covered = p.where(
        (F.col("a") == -F.col("b") - 1) | (F.col("b") == -F.col("a") - 1)
    )
    total = base.where(F.col("doc_id") % 20 == 0)
    return covered.agg(
        F.count("*").cast("long").alias("n_planted_pairs_covered")
    ).crossJoin(
        total.agg(F.count("*").cast("long").alias("n_planted_pairs_total"))
    )


def _q_simhash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup recall row (round 4): the chunk-bucketed SimHash
    OPERATOR (dedup.py:317) enters the driver contract — identical texts
    have identical 64-bit signatures, hence share all four 16-bit chunks,
    hence MUST surface as a hamming-0 pair."""
    from gpq_tiles_spark.operators.dedup import simhash_near_duplicates

    return _planted_dup_row(
        spark, sf_dir, 1000,
        lambda docs: simhash_near_duplicates(
            docs, max_hamming=3, max_bucket=1 << 40),
    )


def _q_ngram_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """n-gram Jaccard recall row (round 4): the rare-gram-indexed Jaccard
    OPERATOR (dedup.py:381) must find every planted exact duplicate
    (identical text -> Jaccard exactly 1.0; every doc has rare grams under
    the max_df cap on this corpus — verified deterministic per sf).
    doc_id < 500 bound: the gram explode + pair verify is the costliest
    dedup row."""
    from gpq_tiles_spark.operators.dedup import ngram_jaccard_pairs

    return _planted_dup_row(
        spark, sf_dir, 500,
        lambda docs: ngram_jaccard_pairs(docs, n=3, threshold=0.9),
    )


def _sql_planted_dup_count(id_bound: int) -> str:
    # both columns are the planted-duplicate count: the operator must cover
    # every planted pair (identical text => guaranteed candidate + verify)
    return f"""
        SELECT CAST(COUNT(*) AS BIGINT) AS n_planted_pairs_covered,
               CAST(COUNT(*) AS BIGINT) AS n_planted_pairs_total
        FROM documents
        WHERE text IS NOT NULL AND doc_id < {id_bound} AND doc_id % 20 = 0
    """


def _q_ann_ivf_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN recall row (VERDICT r3 item 3): the at-scale ANN operator
    (train_ivf_centroids + cosine_topk_ivf, similarity.py:54,116) enters the
    driver CORRECTNESS contract.

    Planted ground truth, same collision-proof construction as
    minhash_neardup: every probe (vec_id < 20) gets an exact-duplicate copy
    under -vec_id-1. The copy's cosine with its probe is exactly 1.0 —
    strictly the nearest neighbor — and because the copy's embedding is
    identical, its IVF cell is the probe's own top-1 cell, always inside the
    probe's nprobe set, so a CORRECT implementation finds all 20
    deterministically at any sf. The DuckDB oracle independently verifies
    the ground truth (argmax-cosine per probe over the augmented corpus IS
    the planted copy) with window SQL; Spark's count comes from the real
    IVF operator. A broken quantizer, candidate join, or rerank drops the
    count below 20 and the row goes red."""
    from pyspark.sql import functions as F

    from gpq_tiles_spark.operators.similarity import (
        cosine_topk_ivf,
        train_ivf_centroids,
    )

    _register(spark, sf_dir)
    emb = spark.table("embeddings").select("vec_id", "embedding")
    probes = emb.where(F.col("vec_id") < 20)
    aug = emb.unionAll(
        probes.select((-F.col("vec_id") - 1).alias("vec_id"), "embedding")
    )
    # no first() job for the dimensionality — train_ivf_centroids reads it
    # from its own sample (the dim argument was never consumed)
    cents = train_ivf_centroids(aug, n_centroids=64, sample=8192, seed=42)
    topk = cosine_topk_ivf(aug, probes, k=10, centroids=cents, nprobe=8)
    return topk.where(F.col("rnk") == 1).agg(
        F.count("*").cast("long").alias("n_probes"),
        F.lit(10).cast("long").alias("k"),
        F.sum(
            (F.col("vec_id") == -F.col("probe_id") - 1).cast("long")
        ).alias("n_true_nn_found"),
    )


def _sql_ann_ivf_recall() -> str:
    # DuckDB verifies the planted ground truth: the argmax-cosine neighbor
    # of each probe over the augmented corpus is its exact-duplicate copy.
    dot = ("list_dot_product(CAST(a.embedding AS DOUBLE[]), "
           "CAST(p.embedding AS DOUBLE[]))")
    na = "sqrt(list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(a.embedding AS DOUBLE[])))"
    np_ = "sqrt(list_dot_product(CAST(p.embedding AS DOUBLE[]), CAST(p.embedding AS DOUBLE[])))"
    return f"""
        WITH aug AS (
            SELECT vec_id, embedding FROM embeddings
            UNION ALL
            SELECT -vec_id - 1, embedding FROM embeddings WHERE vec_id < 20
        ),
        nn AS (
            SELECT p.vec_id AS probe_id, a.vec_id AS nn_id,
                   ROW_NUMBER() OVER (
                     PARTITION BY p.vec_id
                     ORDER BY {dot} / ({na} * {np_}) DESC, a.vec_id ASC
                   ) AS rnk
            FROM (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 20) p
            CROSS JOIN aug a
            WHERE a.vec_id <> p.vec_id
        )
        SELECT CAST(COUNT(*) AS BIGINT) AS n_probes,
               CAST(10 AS BIGINT) AS k,
               CAST(SUM(CASE WHEN nn_id = -probe_id - 1 THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_true_nn_found
        FROM nn WHERE rnk = 1
    """


def _q_tile_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full fan-out -> thin -> encode PYRAMID (z0-8) over point features,
    oracle-backed per (zoom, tile): a point lands in exactly one tile per
    zoom and the D1 thinning rule keep-iff fmix64(id)/2^64 < 0.4^(8-z)
    (feature_drop.rs:42-115) is reproduced bit-exactly in DuckDB via a
    HUGEINT wrapping-multiply fmix64 (functions/spatial_sql.py::
    fmix64_norm_sql), so per-tile feature counts at EVERY zoom equal the
    pure-SQL reconstruction — this upgrades the former rows-only row into
    a full-pyramid oracle over the whole engine path."""
    from pyspark.sql import functions as F

    from gpq_tiles_spark.config import TilerConfig
    from gpq_tiles_spark.pipeline import encode_tiles_premerge

    _register(spark, sf_dir)
    feats = _event_features(spark)
    cfg = TilerConfig(min_zoom=0, max_zoom=8, shuffle_partitions=8)
    # premerge production plan: map-side message encode, ONE hash shuffle
    # of small framed messages, reduce-side wrap (no persist needed — the
    # fan-out runs exactly once as the shuffle map stage)
    tiles = encode_tiles_premerge(feats, cfg)
    return tiles.select(
        F.col("z").cast("long").alias("z"),
        F.col("x").alias("tx"),
        F.col("y").alias("ty"),
        F.col("n_features").alias("n_points"),
    )


def _sql_tile_pipeline_pyramid() -> str:
    # D1 thinning oracle: per-zoom tile counts with the engine's own keep
    # rule. Retention literals are computed by the SAME Python expression
    # the kernel uses ((1/2.5)**dz) and inlined via repr(), so DuckDB
    # parses the identical double and `<` is structural.
    norm = fmix64_norm_sql("event_id")
    parts = []
    for z in range(9):
        cond = "TRUE" if z == 8 else f"{norm} < {(1.0 / 2.5) ** (8 - z)!r}"
        parts.append(f"""
        SELECT CAST({z} AS BIGINT) AS z,
               {tile_x_sql(EVENT_LNG, z)} AS tx,
               {tile_y_sql(EVENT_LAT, z)} AS ty,
               COUNT(*) AS n_points
        FROM events WHERE {cond} GROUP BY 1, 2, 3""")
    return " UNION ALL ".join(parts)


def _sql_knn_distributed() -> str:
    # oracle for the DISTRIBUTED kNN operator (probes never collected):
    # brute-force 5-NN, rank-only output so float ordering is the only
    # cross-engine contact point (same arithmetic expression both sides)
    plng = "(CAST((r.r_regionkey * 61) % 300 AS DOUBLE) - 150.0)"
    plat = "(CAST((r.r_regionkey * 43) % 120 AS DOUBLE) - 60.0)"
    elng = EVENT_LNG.replace("event_id", "e.event_id")
    elat = EVENT_LAT.replace("event_id", "e.event_id")
    return f"""
        SELECT probe_id, rnk, point_id
        FROM (
            SELECT CAST(r.r_regionkey AS BIGINT) AS probe_id,
                   e.event_id AS point_id,
                   ROW_NUMBER() OVER (
                       PARTITION BY r.r_regionkey
                       ORDER BY ({elng} - {plng}) * ({elng} - {plng})
                              + ({elat} - {plat}) * ({elat} - {plat}) ASC,
                                e.event_id ASC
                   ) AS rnk
            FROM region r CROSS JOIN events e
        ) t
        WHERE rnk <= 5
    """


def _sql_raster_z6() -> str:
    # conservation oracle for T22 rasterize: every point lands in exactly one
    # grid cell, so per-tile SUM(grid) == the z6 tile assignment counts
    return f"""
        SELECT {tile_x_sql(EVENT_LNG, 6)} AS tx,
               {tile_y_sql(EVENT_LAT, 6)} AS ty,
               COUNT(*) AS n_points
        FROM events
        GROUP BY 1, 2
    """


def _q_raster_density(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T22 rasterize_points through the engine (fan-out -> per-tile 64x64
    density grid); the oracle checks point conservation per tile."""
    from pyspark.sql import functions as F

    from gpq_tiles_spark.config import TilerConfig
    from gpq_tiles_spark.operators.raster import rasterize_points
    from gpq_tiles_spark.pipeline import fanout_records

    _register(spark, sf_dir)
    feats = _event_features(spark)
    cfg = TilerConfig(min_zoom=6, max_zoom=6, shuffle_partitions=8)
    grids = rasterize_points(fanout_records(feats, cfg), zoom=6)

    # numpy grid sum instead of F.aggregate: Catalyst's higher-order
    # aggregate is interpreted per element (~17M steps for 4k tiles x 4k
    # cells); one vectorized np.sum per tile is the same integers
    import pandas as pd

    def tot(batches):
        import numpy as np

        for pdf in batches:
            g = pdf["grid"].to_numpy()
            sums = np.fromiter((int(np.sum(a)) for a in g),
                               dtype=np.int64, count=len(g))
            yield pd.DataFrame({"tx": pdf["x"], "ty": pdf["y"],
                                "n_points": sums})

    return grids.select("x", "y", "grid").mapInPandas(
        tot, schema="tx long, ty long, n_points long")


def _q_dedup_assignments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """List-free exact-dedup assignment operator vs the window-min SQL."""
    from gpq_tiles_spark.operators.dedup import duplicate_assignments

    _register(spark, sf_dir)
    return duplicate_assignments(spark.table("documents")).select(
        "doc_id", "keeper", "is_duplicate"
    )


def _q_emb_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """North-star embedding-cosine near-dup operator (brute-force exact
    path) vs the DuckDB pair SQL; integer pair output."""
    from gpq_tiles_spark.operators.similarity import embedding_near_duplicates

    from pyspark.sql import functions as F

    _register(spark, sf_dir)
    return embedding_near_duplicates(
        spark.table("embeddings").where(F.col("vec_id") < 500),
        threshold=_EMB_NEARDUP_THRESHOLD,
    ).select("vec_a", "vec_b")


def _q_pip_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2 routed through the PIP OPERATOR (operators/joins.py::
    point_in_polygon_join — cell-cover prefilter + broadcast zones +
    vectorized ray-cast refine); the oracle keeps the half-open rect SQL.
    Zone edges sit off the events' millidegree lattice (spatial_sql.
    zone_rect_sql), so edge-rule differences cannot produce a mismatch."""
    from pyspark.sql import functions as F

    from gpq_tiles_spark.functions.spatial_sql import zone_rect_values
    from gpq_tiles_spark.kernels import geom as G
    from gpq_tiles_spark.operators.joins import point_in_polygon_join

    import numpy as np

    _register(spark, sf_dir)
    nations = spark.table("nation").select("n_nationkey", "n_name").collect()
    zrows = []
    for r in nations:
        x0, y0, x1, y1 = zone_rect_values(int(r.n_nationkey))
        ring = np.array([[x0, y0], [x1, y0], [x1, y1], [x0, y1], [x0, y0]])
        zrows.append((str(int(r.n_nationkey)), r.n_name,
                      bytearray(G.to_wkb((G.POLYGON, [ring])))))
    zones = spark.createDataFrame(
        zrows, "zone_id string, zone_name string, zone_wkb binary")
    pts = spark.sql(
        f"SELECT event_id AS point_id, {EVENT_LNG} AS lng, {EVENT_LAT} AS lat FROM events"
    )
    hits = point_in_polygon_join(pts, zones, zoom=4)
    return (
        hits.groupBy("zone_id")
        .agg(F.count("*").alias("n_points"))
        .join(F.broadcast(zones.select("zone_id", "zone_name")), "zone_id")
        .select(
            F.col("zone_id").cast("long").alias("zone_key"),
            F.col("zone_name").alias("zone_name"),
            "n_points",
        )
    )


def _q_knn_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O5 routed through the kNN OPERATOR (operators/joins.py::knn_join —
    grid-disk expansion, driver round control); oracle stays the
    brute-force window SQL. Same probe/point derivation as the SQL text."""
    from gpq_tiles_spark.operators.joins import knn_join

    _register(spark, sf_dir)
    pts = spark.sql(
        f"SELECT event_id AS point_id, {EVENT_LNG} AS lng, {EVENT_LAT} AS lat FROM events"
    )
    probes = spark.sql(
        "SELECT CAST(r_regionkey AS BIGINT) AS probe_id, "
        "CAST((r_regionkey * 61) % 300 AS DOUBLE) - 150.0 AS lng, "
        "CAST((r_regionkey * 43) % 120 AS DOUBLE) - 60.0 AS lat FROM region"
    )
    out = knn_join(pts, probes, k=5, zoom=6)
    from pyspark.sql import functions as F

    return out.select(
        F.col("probe_id").cast("long").alias("r_regionkey"),
        F.col("rnk").cast("long").alias("rnk"),
        F.col("point_id").cast("long").alias("event_id"),
    )


def _q_density_limit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D6/O4 routed through the DENSITY OPERATOR (operators/density.py::
    density_limit). The operator's (tile, 16px-cell-of-4096-extent) grid is
    driven at tile zoom 4, where extent/cell = 256 sub-cells per side makes
    each cell EXACTLY one z12 tile (4 + 8 zoom levels); the centroid pixel
    is derived from the z12/z4 tile columns, and multiplying by powers of
    two is exact in IEEE-754, so the operator's partition key is bit-equal
    to the oracle's z12 cell."""
    from pyspark.sql import functions as F

    from gpq_tiles_spark.operators.density import density_limit

    _register(spark, sf_dir)
    x12 = tile_x_sql(EVENT_LNG, 12)
    y12 = tile_y_sql(EVENT_LAT, 12)
    x4 = tile_x_sql(EVENT_LNG, 4)
    y4 = tile_y_sql(EVENT_LAT, 4)
    recs = spark.sql(f"""
        SELECT event_id AS feature_id,
               4 AS z,
               ({x4}) * 1048576 + ({y4}) AS tile_id,
               CAST((({x12}) - 256 * ({x4})) * 16 + 8 AS DOUBLE) AS px_x,
               CAST((({y12}) - 256 * ({y4})) * 16 + 8 AS DOUBLE) AS px_y,
               {x12} AS cell_x, {y12} AS cell_y
        FROM events
    """)
    kept = density_limit(recs, "px_x", "px_y", extent=4096, cell_size=16,
                         max_per_cell=2, max_zoom=14)
    return kept.groupBy("cell_x", "cell_y").agg(F.count("*").alias("n_kept"))


def _q_knn_distributed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O5/J3 scale path: cell-ring kNN with probes kept distributed
    (operators/joins.py::knn_join_distributed) — checked against the
    brute-force SQL oracle."""
    from pyspark.sql import functions as F

    from gpq_tiles_spark.operators.joins import knn_join_distributed

    _register(spark, sf_dir)
    pts = spark.sql(
        f"SELECT event_id AS point_id, {EVENT_LNG} AS lng, {EVENT_LAT} AS lat FROM events"
    )
    probes = spark.sql(
        "SELECT CAST(r_regionkey AS BIGINT) AS probe_id, "
        "CAST((r_regionkey * 61) % 300 AS DOUBLE) - 150.0 AS lng, "
        "CAST((r_regionkey * 43) % 120 AS DOUBLE) - 60.0 AS lat FROM region"
    )
    out = knn_join_distributed(pts, probes, k=5, zoom=6)
    return out.select("probe_id", "rnk", "point_id")


def _q_tile_records_z8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Oracle-backed tile-pipeline check: fan-out -> range shuffle -> encode
    at min_zoom=max_zoom=8 over point features. At base zoom the thinning
    rule (D1) keeps every point and each point lands in exactly one tile
    (pipeline.rs:866-950 semantics), so per-tile feature counts equal the
    pure-SQL z8 tile assignment — a bit-exact oracle over the WHOLE engine
    path (fanout kernel, single wide shuffle, run-grouped MVT encode)."""
    from pyspark.sql import functions as F

    from gpq_tiles_spark.config import TilerConfig
    from gpq_tiles_spark.pipeline import encode_tiles_premerge

    _register(spark, sf_dir)
    feats = _event_features(spark)
    cfg = TilerConfig(min_zoom=8, max_zoom=8, shuffle_partitions=8)
    tiles = encode_tiles_premerge(feats, cfg)
    return tiles.select(
        F.col("x").alias("tx"),
        F.col("y").alias("ty"),
        F.col("n_features").alias("n_points"),
    )


def _sql_tile_props_z8() -> str:
    # T20 property serialization oracle: per-(tile, feature) decoded tag
    # values must equal the source columns (DuckDB reconstructs both the
    # z8 assignment and the property values from events directly)
    return f"""
        SELECT {tile_x_sql(EVENT_LNG, 8)} AS tx,
               {tile_y_sql(EVENT_LAT, 8)} AS ty,
               event_id AS feature_id,
               'cat-' || CAST(event_id % 7 AS VARCHAR) AS category,
               CAST(event_id % 100 AS BIGINT) AS magnitude
        FROM events
    """


def _q_tile_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T20/round-5 premerge-props oracle: run the FULL property tile
    pipeline (encode_props_column -> premerge fan-out+encode -> shuffle ->
    vectorized tag interning -> MVT bytes) at z8, then DECODE every tile's
    tags back out (kernels.mvt decode side) and compare per-(tile,
    feature) key/values against the DuckDB reconstruction. At base zoom
    each point lands in exactly one tile and thinning keeps all, so the
    decoded rows are exactly the source rows."""
    import pandas as pd

    from gpq_tiles_spark.config import TilerConfig
    from gpq_tiles_spark.pipeline import (
        encode_props_column,
        encode_tiles_premerge_props,
    )

    _register(spark, sf_dir)
    # property columns derive from the SAME scan as the features (no join:
    # a feature_id equi-join here would add two exchanges for columns the
    # events row already carries)
    feats = _event_features(spark, extra_cols={
        "category": "concat('cat-', CAST(event_id % 7 AS STRING))",
        "magnitude": "CAST(event_id % 100 AS BIGINT)",
    })
    featp = encode_props_column(feats, ["category", "magnitude"]).select(
        "feature_id", "doc_id", "span_offset", "wkb", "geom_type",
        "lng_min", "lat_min", "lng_max", "lat_max", "props")
    cfg = TilerConfig(min_zoom=8, max_zoom=8, shuffle_partitions=8,
                      write_properties=True)
    tiles = encode_tiles_premerge_props(featp, cfg)

    def dec(batches):
        from gpq_tiles_spark.kernels.mvt import decode_tile, feature_properties

        for pdf in batches:
            rows = {"tx": [], "ty": [], "feature_id": [],
                    "category": [], "magnitude": []}
            for r in pdf.itertuples(index=False):
                lay = decode_tile(bytes(r.mvt))[0]
                for f in lay["features"]:
                    p = feature_properties(f, lay["keys"], lay["values"])
                    rows["tx"].append(int(r.x))
                    rows["ty"].append(int(r.y))
                    rows["feature_id"].append(int(f["id"]))
                    rows["category"].append(p["category"])
                    rows["magnitude"].append(int(p["magnitude"]))
            yield pd.DataFrame(rows)

    return tiles.mapInPandas(
        dec,
        schema="tx long, ty long, feature_id long, "
               "category string, magnitude long",
    )


def _q_tile_archive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S8/S9 + X2–X4 + round-5 leaf directories under the ORACLE gate:
    convert the z8 point corpus to a REAL .pmtiles archive via the sharded
    sink (the z8 tile count exceeds ROOT_MAX_ENTRIES, so the archive
    carries spec leaf directories), then decode every tile back OUT of the
    file — directory lookup, blob decompress, MVT parse — and compare the
    per-tile feature counts against the pure-SQL z8 assignment. Everything
    between the scan and the answer (fan-out, shuffle, encode, dedup,
    compression, directory write incl. leaves, reader) is inside the
    checked path. (The decode pass opens the driver-written /tmp archive
    from executors — valid under the local[*] master this contract runs
    on; a real cluster would point convert_sharded at shared storage, the
    same constraint its shard_dir already enforces.)"""
    import os

    import pandas as pd

    from gpq_tiles_spark.config import TilerConfig
    from gpq_tiles_spark.pipeline import convert_sharded

    _register(spark, sf_dir)
    feats = _event_features(spark)
    cfg = TilerConfig(min_zoom=8, max_zoom=8, shuffle_partitions=8)
    # pid-keyed path: two concurrent harness sessions on one host must not
    # clobber each other's archive while the lazy decode pass reads it
    out = (f"/tmp/gpq_contract_archive_"
           f"{os.path.basename(sf_dir.rstrip('/'))}_{os.getpid()}.pmtiles")
    convert_sharded(feats, out, cfg)

    from gpq_tiles_spark.kernels.pmtiles import PMTilesReader

    rdr = PMTilesReader(out)
    # one row per ADDRESSED tile (run-length entries re-expand; dedup runs
    # share a blob range, and each addressed id must still decode)
    rows = [
        (int(e.tile_id) + k, int(e.offset), int(e.length))
        for e in rdr.iter_entries()  # lazy: one decoded leaf at a time
        for k in range(max(e.run_length, 1))
    ]
    import numpy as np

    pdf_rows = pd.DataFrame(rows, columns=["tile_id", "off", "len"],
                            dtype=np.int64)
    # explicit schema: an empty archive has no rows to infer types from
    df = spark.createDataFrame(pdf_rows,
                               schema="tile_id long, off long, len long")

    def dec(batches):
        import mmap

        from gpq_tiles_spark.kernels.hilbert import tile_id_to_zxy_vec
        from gpq_tiles_spark.kernels.mvt import decode_tile
        from gpq_tiles_spark.kernels.pmtiles import Header, HEADER_SIZE, decompress

        # the mmap and its file close on every exit, including a decode
        # error or an abandoned iterator
        with open(out, "rb") as f, \
                mmap.mmap(f.fileno(), 0, access=mmap.ACCESS_READ) as mm:
            hdr = Header.from_bytes(mm[:HEADER_SIZE])
            base = hdr.tile_data_offset
            for pdf in batches:
                tids = pdf["tile_id"].to_numpy(dtype=np.int64)
                offs = pdf["off"].to_numpy(dtype=np.int64) + base
                lens = pdf["len"].to_numpy(dtype=np.int64)
                _z, xs, ys = tile_id_to_zxy_vec(tids)
                ns = np.empty(len(tids), dtype=np.int64)
                for i in range(len(tids)):
                    raw = decompress(mm[offs[i]:offs[i] + lens[i]],
                                     hdr.tile_compression)
                    ns[i] = len(decode_tile(raw)[0]["features"])
                yield pd.DataFrame({"tx": xs, "ty": ys, "n_points": ns})

    return df.mapInPandas(dec, schema="tx long, ty long, n_points long")


def _event_features(spark: SparkSession,
                    extra_cols: dict[str, str] | None = None) -> DataFrame:
    """events -> features DataFrame (points) for pipeline-backed queries.
    ``extra_cols`` (name -> SQL expr over events) pass through alongside
    the feature columns — property queries derive their tag columns in
    the same scan instead of joining them back on feature_id."""
    import pandas as pd

    from gpq_tiles_spark.kernels import geom as G
    from pyspark.sql.types import (
        BinaryType, DoubleType, IntegerType, LongType, StringType,
        StructField, StructType,
    )

    extra_sql = "".join(
        f", {expr} AS {name}" for name, expr in (extra_cols or {}).items()
    )
    # NOT spread here (measured, round 7): the WKB build is one cheap
    # vectorized pass, and the premerge/fan-out constructors already
    # spread their own input where that pays; an extra exchange before
    # the build measured net-slower on every tile query
    pts = spark.sql(
        f"SELECT event_id AS feature_id, {EVENT_LNG} AS lng, "
        f"{EVENT_LAT} AS lat{extra_sql} FROM events"
    )

    schema = StructType([
        StructField("feature_id", LongType()),
        StructField("doc_id", StringType()),
        StructField("span_offset", IntegerType()),
        StructField("wkb", BinaryType()),
        StructField("geom_type", IntegerType()),
        StructField("lng_min", DoubleType()),
        StructField("lat_min", DoubleType()),
        StructField("lng_max", DoubleType()),
        StructField("lat_max", DoubleType()),
    ] + [pts.schema[name] for name in (extra_cols or {})])

    def to_feat(batches):
        import numpy as np

        for pdf in batches:
            n = len(pdf)
            # vectorized 21-byte point WKB: header + packed little-endian xy
            buf = np.zeros((n, 21), dtype=np.uint8)
            buf[:, 0] = 1   # little-endian
            buf[:, 1] = G.POINT
            xy = np.empty((n, 2), dtype="<f8")
            xy[:, 0] = pdf["lng"].to_numpy(dtype=np.float64)
            xy[:, 1] = pdf["lat"].to_numpy(dtype=np.float64)
            buf[:, 5:] = xy.view(np.uint8).reshape(n, 16)
            raw = buf.tobytes()
            wkbs = [raw[i * 21:(i + 1) * 21] for i in range(n)]
            out = {
                "feature_id": pdf["feature_id"],
                "doc_id": pdf["feature_id"].astype(str),
                "span_offset": 0,
                "wkb": wkbs,
                "geom_type": G.POINT,
                "lng_min": pdf["lng"], "lat_min": pdf["lat"],
                "lng_max": pdf["lng"], "lat_max": pdf["lat"],
            }
            for name in (extra_cols or {}):
                out[name] = pdf[name]
            yield pd.DataFrame(out)

    return pts.mapInPandas(to_feat, schema=schema)


# ---------------------------------------------------------------------------
# Contract functions
# ---------------------------------------------------------------------------

# queries whose SQL text must differ per engine (array/timestamp dialects);
# outputs are integers/strings so parity is exact
_DIALECT_SQL: dict[str, tuple[str, str]] = {
    "ann_cosine_topk": (_sql_ann("spark"), _sql_ann("duckdb")),
    "hourly_event_counts": (_sql_hourly("spark"), _sql_hourly("duckdb")),
}

_ORACLE_SQL: dict[str, str] = {
    "tile_assign_z8": _sql_tile_assign_z8(),
    "tile_pyramid_counts": _sql_tile_pyramid_counts(),
    "dataset_bbox": _sql_dataset_bbox(),
    "world_coords": _sql_world_coords(),
    "hilbert_order": _sql_hilbert_order(),
    "pip_join": _sql_pip_join(),
    "knn_points": _sql_knn(),
    "density_limit": _sql_density_limit(),
    "q1_pricing": _sql_q1_pricing(),
    "top_revenue": _sql_top_revenue(),
    "dedup_exact": _sql_dedup_exact(),
    "token_counts": _sql_token_counts(),
    "quality_scores": _sql_quality_scores(),
    "langid_heuristic": _sql_langid(),
    "doc_fingerprint": _sql_fingerprint(),
}


def _make_sql_query(sql: str) -> Callable[[SparkSession, str], DataFrame]:
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        _register(spark, sf_dir)
        return spark.sql(sql)

    return run


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: z8 tile assignment counts at sf0.001."""
    _register(spark, "/root/testdata/sf0.001")
    return spark.sql(_sql_tile_assign_z8())


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    out: dict[str, Callable[[SparkSession, str], DataFrame]] = {
        name: _make_sql_query(sql) for name, sql in _ORACLE_SQL.items()
    }
    for name, (spark_sql, _duck) in _DIALECT_SQL.items():
        out[name] = _make_sql_query(spark_sql)
    # operator-backed Spark sides (oracle side keeps the SQL): the driver
    # compare then checks the OPERATORS, not Spark-vs-DuckDB SQL parity
    out["pip_join"] = _q_pip_join
    out["knn_points"] = _q_knn_points
    out["density_limit"] = _q_density_limit
    out["hilbert_order"] = _q_hilbert_order
    out["minhash_neardup"] = _q_minhash_neardup
    out["tile_pipeline_z8"] = _q_tile_pipeline
    out["tile_records_z8"] = _q_tile_records_z8
    out["tile_props_z8"] = _q_tile_props
    out["tile_archive_z8"] = _q_tile_archive
    out["knn_distributed"] = _q_knn_distributed
    out["emb_neardup_pairs"] = _q_emb_neardup
    out["dedup_assignments"] = _q_dedup_assignments
    out["raster_density_z6"] = _q_raster_density
    out["ann_ivf_recall"] = _q_ann_ivf_recall
    out["ann_cosine_topk"] = _q_ann_cosine_topk
    out["simhash_neardup"] = _q_simhash_neardup
    out["ngram_neardup"] = _q_ngram_neardup
    return out


def oracle_sql() -> dict[str, str]:
    out = dict(_ORACLE_SQL)
    for name, (_spark, duck_sql) in _DIALECT_SQL.items():
        out[name] = duck_sql
    # engine-backed query whose result is provably the z8 assignment SQL
    out["tile_records_z8"] = _sql_tile_assign_z8()
    # full-pyramid engine run vs per-zoom SQL with the bit-exact fmix64
    # thinning reconstruction (round 6: was rows-only)
    out["tile_pipeline_z8"] = _sql_tile_pipeline_pyramid()
    out["tile_props_z8"] = _sql_tile_props_z8()
    # archive round-trip decodes back to exactly the z8 assignment
    out["tile_archive_z8"] = _sql_tile_assign_z8()
    out["minhash_neardup"] = _sql_minhash_recall()
    out["knn_distributed"] = _sql_knn_distributed()
    out["emb_neardup_pairs"] = _sql_emb_neardup("duckdb")
    out["dedup_assignments"] = _sql_dedup_assignments()
    out["raster_density_z6"] = _sql_raster_z6()
    out["ann_ivf_recall"] = _sql_ann_ivf_recall()
    out["simhash_neardup"] = _sql_planted_dup_count(1000)
    out["ngram_neardup"] = _sql_planted_dup_count(500)
    return out

"""Physical-plan assertions: the optimizations SURVEY.md §4 calls for must
actually appear in the executed plans."""

import pytest
from pyspark.sql import functions as F


def _plan(df, execute: bool = False) -> str:
    if execute:
        df.collect()  # materialize THIS df so AQE reaches its final plan
    return df._jdf.queryExecution().executedPlan().toString()


def _optimized(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_filter_pushdown_reaches_parquet_scan(spark):
    df = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    q = df.where(F.col("l_quantity") > 30).select("l_orderkey", "l_quantity")
    plan = _plan(q)
    assert "PushedFilters" in plan and "GreaterThan(l_quantity" in plan
    # column pruning: ReadSchema carries only the two selected columns
    import re

    rs = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert rs and set(c.split(":")[0] for c in rs.group(1).split(",")) == {
        "l_orderkey", "l_quantity"}


def test_tile_assign_is_whole_stage_codegen(spark):
    import __spark_entry__ as E

    df = E.queries()["tile_assign_z8"](spark, "/root/testdata/sf0.001")
    plan = _plan(df, execute=True)
    # '*(n)' prefixes mark WholeStageCodegen spans in the final AQE plan
    assert "*(1)" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    # partial aggregation before the exchange (map-side combine)
    assert plan.index("HashAggregate") < plan.index("Exchange")


def test_pip_join_broadcasts_small_side(spark):
    import __spark_entry__ as E

    df = E.queries()["pip_join"](spark, "/root/testdata/sf0.001")
    plan = _plan(df)
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


def test_pipeline_has_single_wide_shuffle(spark, docs_table):
    from gpq_tiles_spark.config import TilerConfig
    from gpq_tiles_spark.extract import extract_features
    from gpq_tiles_spark.pipeline import encode_tiles_premerge

    cfg = TilerConfig(min_zoom=0, max_zoom=4, shuffle_partitions=4)
    tiles = encode_tiles_premerge(
        extract_features(spark.read.parquet(docs_table)), cfg)
    plan = _plan(tiles)
    # exactly one keyed exchange: the hash partition by tile_id (the
    # under-partitioned input may add a round-robin spread before the map)
    assert plan.count("Exchange hashpartitioning(tile_id") == 1
    assert plan.count("Exchange hashpartitioning") == 1
    assert plan.count("Exchange rangepartitioning") == 0
    # the in-partition sort for (tile_id, feature_id)
    assert "Sort [tile_id" in plan and "feature_id" in plan


def test_broadcast_join_in_top_revenue(spark):
    import __spark_entry__ as E

    df = E.queries()["top_revenue"](spark, "/root/testdata/sf0.001")
    plan = _plan(df)
    # AQE or static planning should broadcast the customer/orders dims
    assert "BroadcastHashJoin" in plan or "broadcast" in plan.lower()


def test_dedup_assignments_no_list_agg(spark):
    """The scale dedup primitive is a pure window over a hash projection —
    no collect_list / ObjectHashAggregate buffering anywhere in the plan."""
    import __spark_entry__ as E

    df = E.queries()["dedup_assignments"](spark, "/root/testdata/sf0.001")
    plan = _plan(df)
    assert "collect_list" not in plan and "ObjectHashAggregate" not in plan
    assert "Window" in plan


def test_emb_neardup_lsh_candidates_shuffle_ids_only(spark, tmp_path):
    """The LSH near-dup candidate join must never shuffle embeddings: the
    exchange under the (table, bucket) join carries only id/bucket columns."""
    import re

    import numpy as np

    from gpq_tiles_spark.operators.similarity import embedding_near_duplicates

    rng = np.random.default_rng(0)
    vecs = rng.standard_normal((50, 8)).astype(np.float32)
    df = spark.createDataFrame(
        [(int(i), [float(x) for x in v]) for i, v in enumerate(vecs)],
        schema="vec_id long, embedding array<float>",
    )
    out = embedding_near_duplicates(df, threshold=0.9, use_lsh=True, dim=8)
    plan = _plan(out)
    # hyperplane signature output schema: (vec_id, table, bucket) — assert
    # the candidate-generation exchanges hash on bucket keys, not vectors
    for m in re.finditer(r"Exchange hashpartitioning\(([^)]*)\)", plan):
        assert "embedding" not in m.group(1)


def test_knn_distributed_no_cartesian(spark):
    import __spark_entry__ as E

    df = E.queries()["knn_distributed"](spark, "/root/testdata/sf0.001")
    plan = _plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan  # cell equi-join only


def test_premerge_props_single_wide_shuffle(spark, docs_table):
    """The premerge property layout keeps the propertyless premerge plan
    shape on the message records: the fan-out reads no props, the props
    join back on feature_id without shuffling the messages (the one
    feature_id exchange is the props table's min() aggregation), and ONE
    hash exchange on tile_id carries messages + props to the encoder."""
    from pyspark.sql import functions as F

    from gpq_tiles_spark.config import TilerConfig
    from gpq_tiles_spark.extract import extract_features
    from gpq_tiles_spark.pipeline import (
        encode_props_column,
        encode_tiles_premerge_props,
    )

    feats = extract_features(spark.read.parquet(docs_table)).withColumn(
        "tagval", F.col("feature_id") % 5)
    featp = encode_props_column(feats, ["tagval"])
    cfg = TilerConfig(min_zoom=0, max_zoom=4, shuffle_partitions=4,
                      write_properties=True)
    tiles = encode_tiles_premerge_props(featp, cfg)
    plan = _plan(tiles)
    assert plan.count("Exchange hashpartitioning(tile_id") == 1
    assert plan.count("Exchange hashpartitioning(feature_id") == 1
    assert plan.count("Exchange rangepartitioning") == 0
    assert "Join" in plan
    fanout = [ln for ln in plan.splitlines() if "fanout_encoded(" in ln]
    assert len(fanout) == 1 and "props" not in fanout[0]
    assert "Sort [tile_id" in plan and "feature_id" in plan

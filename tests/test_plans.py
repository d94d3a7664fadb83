"""Physical-plan quality gates.

Correctness says WHAT comes out; these tests pin HOW Spark executes
the hot paths, so a regression that silently de-optimizes a plan
(broadcast → sort-merge, lost pushdown, lost partial aggregation)
fails CI even though results stay right. This is the engine's analog
of the reference's performance-regression suites
(autotest/benchmark/, SURVEY.md §5).
"""

import os

import pandas as pd
import pytest
from pyspark.sql import functions as F


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _optimized(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def lineitem(spark):
    return spark.read.parquet(os.path.join(SF_DIR, "lineitem.parquet"))


def test_filter_pushdown_reaches_parquet_scan(spark, lineitem):
    df = lineitem.filter(F.col("l_quantity") < 10).select("l_orderkey")
    plan = _plan(df)
    assert "PushedFilters: [IsNotNull(l_quantity), LessThan(l_quantity" in plan


def test_column_pruning_reaches_scan(spark, lineitem):
    df = lineitem.select("l_orderkey", "l_quantity")
    plan = _plan(df)
    # ReadSchema must carry only the projected columns
    read = [ln for ln in plan.splitlines() if "ReadSchema" in ln][0]
    assert "l_orderkey" in read and "l_quantity" in read
    assert "l_comment" not in read and "l_extendedprice" not in read


def test_spatial_join_broadcasts_cover(spark):
    """The north-rule join must be a broadcast hash join on cell_id —
    never a shuffle of the point side (SURVEY.md §2.3)."""
    from gdal_spark.operators.spatial_join import spatial_join
    from gdal_spark.testdata import polygons_pdf

    pts = spark.range(0, 1000).select(
        (F.col("id") % 360 - 180.0).alias("lon"),
        (F.col("id") % 180 - 90.0).alias("lat"),
    )
    joined = spatial_join(pts, polygons_pdf(20), res_min=2, res_max=6)
    plan = _plan(joined)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "ShuffleExchange" not in plan.replace("BroadcastExchange", "")


def test_extract_features_runs_in_the_jvm(spark):
    """Mention extraction is a codegen'd Generate, with no Python
    worker anywhere in its plan."""
    from gdal_spark.operators.extract import extract_features
    from gdal_spark.testdata import pages_pdf

    plan = _plan(extract_features(spark.createDataFrame(pages_pdf(50))))
    assert "Generate" in plan
    for node in ("MapInPandas", "ArrowEvalPython", "BatchEvalPython"):
        assert node not in plan


def test_spatial_join_runs_in_the_jvm(spark):
    """The exact refine is a Catalyst expression: neither the join nor
    its per-polygon count plans a Python worker."""
    from gdal_spark.operators.spatial_join import spatial_join, spatial_join_count
    from gdal_spark.testdata import polygons_pdf

    pts = spark.range(0, 1000).select(
        (F.col("id") % 360 - 180.0).alias("lon"),
        (F.col("id") % 180 - 90.0).alias("lat"),
    )
    for join in (spatial_join, spatial_join_count):
        plan = _plan(join(pts, polygons_pdf(20), res_min=2, res_max=6))
        for node in ("MapInPandas", "ArrowEvalPython", "BatchEvalPython"):
            assert node not in plan


def test_spatial_join_count_has_partial_aggregation(spark):
    from gdal_spark.operators.spatial_join import spatial_join_count
    from gdal_spark.testdata import polygons_pdf

    pts = spark.range(0, 1000).select(
        (F.col("id") % 360 - 180.0).alias("lon"),
        (F.col("id") % 180 - 90.0).alias("lat"),
    )
    plan = _plan(spatial_join_count(pts, polygons_pdf(20)))
    # map-side partial agg before the exchange (two HashAggregate nodes)
    assert plan.count("HashAggregate") >= 2


def test_burn_points_shuffles_pixels_not_points(spark):
    """Point burn must pre-aggregate per-pixel counts (partial agg)
    before any exchange — the shuffle carries lit pixels, not points."""
    from gdal_spark.operators.tiling import burn_points_tiles

    pts = spark.range(0, 1000).select(
        (F.col("id") % 360 - 180.0).alias("lon"),
        (F.col("id") % 170 - 85.0).alias("lat"),
    )
    plan = _plan(burn_points_tiles(pts, zoom=2, tile_size=32))
    # map-side combine: a partial_count HashAggregate below (i.e.
    # upstream of) every Exchange — the shuffles move deduped pixels
    assert "partial_count" in plan
    assert plan.rindex("partial_count") > plan.rindex("Exchange")


def test_first_match_join_stays_single_shuffle(spark):
    from gdal_spark.operators.compat import first_match_left_join

    a = spark.range(0, 100).select(F.col("id").alias("k"))
    b = spark.range(0, 1000).select(
        (F.col("id") % 100).alias("k2"), F.col("id").alias("fid")
    )
    out = first_match_left_join(
        a, b, F.col("k") == F.col("k2"), secondary_fid="fid", primary_fid="k"
    )
    plan = _plan(out)
    # dedup must be a window row_number, not a self-join
    assert "Window" in plan
    assert plan.count("Join") <= 1


def test_relational_joins_use_stats_broadcast(spark):
    """Small dims (nation/region) must broadcast under a 6-way join."""
    for t in ("nation", "region", "customer", "orders"):
        spark.read.parquet(os.path.join(SF_DIR, f"{t}.parquet")) \
            .createOrReplaceTempView(t)
    df = spark.sql(
        """
        SELECT n_name, COUNT(*) AS n FROM customer
        JOIN orders ON c_custkey = o_custkey
        JOIN nation ON c_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        GROUP BY n_name"""
    )
    plan = _plan(df)
    assert "BroadcastHashJoin" in plan


def test_bucketed_tables_join_without_shuffle(spark, tmp_path):
    """Pre-bucketed tables co-locate the join: no Exchange on either
    side (SURVEY.md §4 / the 'bucketing for co-located joins' scale
    lever). Written via bucketBy + sortBy, read back from the catalog."""
    import shutil

    spark.sql("DROP TABLE IF EXISTS bj_left")
    spark.sql("DROP TABLE IF EXISTS bj_right")
    spark.range(0, 10000).selectExpr("id AS k", "id * 2 AS v").write \
        .bucketBy(8, "k").sortBy("k").mode("overwrite") \
        .saveAsTable("bj_left")
    spark.range(0, 10000).selectExpr("id AS k", "id * 3 AS w").write \
        .bucketBy(8, "k").sortBy("k").mode("overwrite") \
        .saveAsTable("bj_right")
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        # disable BHJ so the planner exercises the bucketed SMJ path
        # (at real scale neither side broadcasts — that's the point)
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        joined = spark.table("bj_left").join(spark.table("bj_right"), "k")
        plan = _plan(joined)
        assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan
        assert "Exchange hashpartitioning" not in plan
        assert "Bucketed: true" in plan
        assert joined.count() == 10000
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS bj_left")
        spark.sql("DROP TABLE IF EXISTS bj_right")
        shutil.rmtree("spark-warehouse", ignore_errors=True)


def test_lineage_write_prunes_buckets(spark, tmp_path):
    """Resume filter must prune at the parquet scan when the source is
    partitioned by the bucket column (no full rescan on resume)."""
    src = str(tmp_path / "src")
    spark.range(0, 1000).select(
        F.col("id"), F.pmod(F.col("id"), F.lit(8)).alias("b")
    ).write.partitionBy("b").parquet(src)
    df = spark.read.parquet(src).filter(F.col("b").isin([3, 4]))
    plan = _plan(df)
    # partition filters, not data filters: scan lists only b=3/b=4
    assert "PartitionFilters" in plan and "b#" in plan


def test_minhash_verify_is_candidate_pruned(spark):
    """minhash_lsh_pairs' exact verification must LEFT-SEMI-prune the
    gram table to LSH candidate ids BEFORE the quadratic gram
    self-join — without it, LSH saves nothing at corpus scale."""
    from gdal_spark.operators.dedup import minhash_lsh_pairs

    docs = spark.range(0, 40).select(
        F.col("id").alias("doc_id"),
        F.concat_ws(
            " ", F.lit("alpha"), (F.col("id") % 5).cast("string"),
            F.lit("omega"),
        ).alias("text"),
    )
    out = minhash_lsh_pairs(docs, num_perm=16, bands=8)
    assert "LeftSemi" in _optimized(out)


def test_substring_spans_shuffles_hash_keys_not_text(spark):
    """duplicated_spans(key='hash'): every Exchange must carry the
    8-byte gram_key (and id/pos), never the gram string or document
    text — the property that makes the ExactSubstr shuffle volume
    independent of document size."""
    from gdal_spark.operators.dedup import duplicated_spans

    docs = spark.range(0, 20).select(
        F.col("id").alias("doc_id"),
        F.concat_ws(
            " ", F.lit("a b c d e f g h"),
            (F.col("id") % 3).cast("string"),
        ).alias("text"),
    )
    plan = _plan(duplicated_spans(docs, window=4, key="hash"))
    import re

    for m in re.finditer(r"Exchange hashpartitioning\(([^)]*)\)", plan):
        args = m.group(1)
        assert "gram#" not in args and "text#" not in args, args

"""Salted aggregates: the two-level salted count-distinct and the
salted dimension join equal their plain counterparts."""

from pyspark.sql import functions as F

from gdal_spark.operators.skew import salted_count_distinct, salted_dim_join


def test_salted_count_distinct_matches_exact(spark):
    df = spark.range(0, 20000).select(
        F.when(F.col("id") < 15000, F.lit(0))
        .otherwise(F.col("id") % 20)
        .alias("k"),
        (F.col("id") % 997).alias("v"),
    )
    exact = {
        (r["k"]): r["n"]
        for r in df.groupBy("k")
        .agg(F.count_distinct("v").alias("n"))
        .collect()
    }
    salted = {
        (r["k"]): r["n_distinct"]
        for r in salted_count_distinct(df, ["k"], "v", n_salt=8).collect()
    }
    assert salted == exact


def test_salted_dim_join_matches_plain(spark):
    big = spark.range(0, 10000).select(
        (F.col("id") % 5).alias("k"), F.col("id").alias("val")
    )
    dim = spark.range(0, 5).select(
        F.col("id").alias("k"), (F.col("id") * 100).alias("attr")
    )
    plain = big.join(dim, "k").select("k", "val", "attr")
    salted = salted_dim_join(big, dim, "k", n_salt=4).select(
        "k", "val", "attr"
    )
    assert sorted(map(tuple, plain.collect())) == sorted(
        map(tuple, salted.collect())
    )

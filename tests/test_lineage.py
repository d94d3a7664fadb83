"""Kill/resume semantics of checkpointed writes + metrics probes."""

import os

import pytest
from pyspark.sql import functions as F

from gdal_spark import lineage, metrics


@pytest.fixture()
def source_df(spark):
    return spark.range(0, 1000).select(
        F.col("id"),
        (F.col("id") % 37).alias("key"),
        (F.col("id") * 17 % 101).alias("val"),
    )


BUCKETS = 8


def _bucket(col):
    return F.pmod(F.col("id"), F.lit(BUCKETS))


def test_checkpointed_write_full(spark, source_df, tmp_path):
    out = str(tmp_path / "out")
    res = lineage.checkpointed_write(
        source_df, out, _bucket("id"), BUCKETS, ["id", "key", "val"],
        group_size=3,
    )
    assert sorted(res["written"]) == list(range(BUCKETS))
    assert res["skipped"] == []
    back = spark.read.parquet(os.path.join(out, "data"))
    assert back.count() == 1000
    # manifest rows sum to the total
    assert sum(m["rows"] for m in res["manifest"].values()) == 1000
    # audit passes
    audit = lineage.verify_output(out, ["id", "key", "val"], spark)
    assert all(audit.values()) and len(audit) == BUCKETS


def test_kill_and_resume(spark, source_df, tmp_path):
    out = str(tmp_path / "out")
    # first run dies after 1 committed group (3 buckets)
    with pytest.raises(RuntimeError, match="injected failure"):
        lineage.checkpointed_write(
            source_df, out, _bucket("id"), BUCKETS, ["id"],
            group_size=3, fail_after_groups=1,
        )
    done1 = lineage.read_manifest(out)
    assert sorted(done1) == [0, 1, 2]
    mtimes = {
        b: os.path.getmtime(lineage._manifest_path(out, b)) for b in done1
    }

    # resume: completes the rest, does NOT rewrite committed buckets
    res = lineage.checkpointed_write(
        source_df, out, _bucket("id"), BUCKETS, ["id"], group_size=3
    )
    assert sorted(res["skipped"]) == [0, 1, 2]
    assert sorted(res["written"]) == [3, 4, 5, 6, 7]
    for b, t in mtimes.items():
        assert os.path.getmtime(lineage._manifest_path(out, b)) == t

    back = spark.read.parquet(os.path.join(out, "data"))
    assert back.count() == 1000
    assert back.select("id").distinct().count() == 1000
    audit = lineage.verify_output(out, ["id"], spark)
    assert all(audit.values()) and len(audit) == BUCKETS


def test_resume_is_noop_when_complete(spark, source_df, tmp_path):
    out = str(tmp_path / "out")
    lineage.checkpointed_write(
        source_df, out, _bucket("id"), BUCKETS, ["id"], group_size=8
    )
    res = lineage.checkpointed_write(
        source_df, out, _bucket("id"), BUCKETS, ["id"], group_size=8
    )
    assert res["written"] == [] and sorted(res["skipped"]) == list(range(BUCKETS))


def test_digest_is_partition_order_independent(spark, source_df, tmp_path):
    a = str(tmp_path / "a")
    b = str(tmp_path / "b")
    lineage.checkpointed_write(
        source_df, a, _bucket("id"), BUCKETS, ["id", "val"], group_size=8
    )
    shuffled = source_df.repartition(13, "key")
    lineage.checkpointed_write(
        shuffled, b, _bucket("id"), BUCKETS, ["id", "val"], group_size=2
    )
    ma = lineage.read_manifest(a)
    mb = lineage.read_manifest(b)
    for bk in range(BUCKETS):
        assert ma[bk]["digest"] == mb[bk]["digest"]
        assert ma[bk]["rows"] == mb[bk]["rows"]


def test_corrupted_output_fails_audit(spark, source_df, tmp_path):
    out = str(tmp_path / "out")
    lineage.checkpointed_write(
        source_df, out, _bucket("id"), BUCKETS, ["id"], group_size=8
    )
    # drop one bucket's data behind the manifest's back
    import shutil

    shutil.rmtree(os.path.join(out, "data", f"{lineage.BUCKET_COL}=3"))
    audit = lineage.verify_output(out, ["id"], spark)
    assert audit[3] is False
    assert all(v for b, v in audit.items() if b != 3)


def test_key_skew_and_stage_timer(spark):
    df = spark.range(0, 5000).select(
        F.col("id"),
        F.when(F.col("id") < 4000, F.lit(0))
        .otherwise(F.col("id") % 50)
        .alias("key"),
    )
    sk = metrics.key_skew(df, ["key"])
    # 4000 ids map to key 0 plus the 20 ids >= 4000 divisible by 50
    assert sk["max"] == 4020  # the hot key is visible
    assert sk["hot_keys"][0]["key"] == 0
    assert sk["rows"] == 5000

    t = metrics.StageTimer()
    with t("probe"):
        pass
    out = t.to_json(job="test")
    assert '"probe"' in out and '"job": "test"' in out

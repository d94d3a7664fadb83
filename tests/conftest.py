"""Shared fixtures: one local SparkSession per test session."""

import hashlib
import os
import sys
import uuid

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


@pytest.fixture(scope="session")
def spark():
    from gdal_spark.session import get_spark

    s = get_spark(app_name="gdal_spark_tests", cores=8, shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture
def tree_sha256():
    """sha256 over every file under a directory: relative path and
    bytes, in sorted path order."""

    def digest(root: str) -> str:
        h = hashlib.sha256()
        for dirpath, _, files in sorted(os.walk(root)):
            for name in sorted(files):
                path = os.path.join(dirpath, name)
                h.update(os.path.relpath(path, root).encode() + b"\0")
                with open(path, "rb") as f:
                    h.update(f.read())
        return h.hexdigest()

    return digest


@pytest.fixture
def count_jobs(spark):
    """``count_jobs(fn)`` → ``(fn(), the number of Spark jobs it started)``."""
    sc = spark.sparkContext

    def run(fn):
        group = f"counted-{uuid.uuid4().hex}"
        sc.setJobGroup(group, "counted call")
        try:
            out = fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return out, len(sc.statusTracker().getJobIdsForGroup(group))

    return run


@pytest.fixture
def check_granule_sink(count_jobs):
    """``check(src, write, ext)``: ``write(src)`` returns a granule
    sink's manifest without starting a Spark job, and collecting it
    writes one ``part-<pid>.<ext>`` per non-empty partition of ``src``,
    holding that partition's rows. Returns the manifest rows."""
    from pyspark.sql import functions as F

    def check(src, write, ext):
        manifest, jobs = count_jobs(lambda: write(src))
        assert jobs == 0
        rows = manifest.collect()
        sizes = src.groupBy(F.spark_partition_id().alias("pid")).count()
        assert {os.path.basename(r[0]): r[1] for r in rows} == {
            f"part-{r.pid:05d}.{ext}": r["count"] for r in sizes.collect()
        }
        return rows

    return check

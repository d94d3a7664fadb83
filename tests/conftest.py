"""Shared fixtures: one local SparkSession per test session."""

import hashlib
import os
import sys

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

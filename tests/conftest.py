from __future__ import annotations

import os
import pathlib

import pytest

os.environ.setdefault("SPARK_LOCAL_IP", "127.0.0.1")


def pytest_configure(config):
    config.addinivalue_line(
        "markers",
        "requires_reference(path): skip unless `path` of the reference "
        "checkout exists")


def pytest_collection_modifyitems(items):
    """``requires_reference(path)`` is the one guard for tests that read
    the reference corpus; they run wherever its checkout is present."""
    for item in items:
        for mark in item.iter_markers("requires_reference"):
            if not pathlib.Path(mark.args[0]).exists():
                item.add_marker(pytest.mark.skip(
                    reason="reference checkout not available"))
                break


@pytest.fixture(scope="session")
def spark():
    from pyspark.sql import SparkSession

    s = (
        SparkSession.builder.master("local[8]")
        .appName("docling-spark-tests")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.adaptive.enabled", "true")
        .getOrCreate()
    )
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")

from __future__ import annotations

import pytest

from pyspark.sql import SparkSession

from notion_vector_store_etl_pipeline_spark.session import python_workers

SF_SMOKE = "/root/testdata/sf0.001"
SF_ORACLE = "/root/testdata/sf0.01"


def pinned_rdds(spark: SparkSession) -> int:
    """Persistent RDDs that are not (local) checkpoints: the filled
    caches of persist() pins."""
    rdds = spark.sparkContext._jsc.getPersistentRDDs().values()
    return sum(not r.rdd().isCheckpointed() for r in rdds)


@pytest.fixture(scope="session")
def spark() -> SparkSession:
    # Python workers start as get_spark starts them (session.python_workers)
    builder = (
        SparkSession.builder.appName("nve-tests")
        .master("local[4]")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
    )
    spark = python_workers(builder).getOrCreate()
    yield spark
    spark.stop()


def pytest_addoption(parser):
    parser.addoption(
        "--runslow",
        action="store_true",
        default=False,
        help="also run tests marked @pytest.mark.slow (full sweep ~9 min; "
        "default selection stays under 5)",
    )


def pytest_collection_modifyitems(config, items):
    if config.getoption("--runslow"):
        return
    skip = pytest.mark.skip(reason="slow: run with --runslow")
    for item in items:
        if "slow" in item.keywords:
            item.add_marker(skip)

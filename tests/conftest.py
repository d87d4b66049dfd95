from __future__ import annotations

import uuid

import pytest

from yelp_etl_spark.session import get_spark

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    import tempfile

    warehouse = tempfile.mkdtemp(prefix="spark_warehouse_")
    spark = get_spark(
        "yelp-etl-spark-tests",
        cpus=8,
        shuffle_partitions=8,
        extra_conf={"spark.sql.warehouse.dir": warehouse},
    )
    yield spark


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


@pytest.fixture
def spark_jobs(spark):
    """``spark_jobs(fn)`` runs ``fn`` and returns ``(fn(), n)``, where n
    is the number of Spark jobs it submitted from this thread (counted
    with a job group)."""
    sc = spark.sparkContext

    def run(fn):
        group = f"count-jobs-{uuid.uuid4().hex}"
        prev = sc.getLocalProperty("spark.jobGroup.id")
        sc.setLocalProperty("spark.jobGroup.id", group)
        try:
            out = fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", prev)
        return out, len(sc.statusTracker().getJobIdsForGroup(group))

    return run

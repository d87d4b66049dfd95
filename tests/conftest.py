from __future__ import annotations

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

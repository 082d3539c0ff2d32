from __future__ import annotations

import pytest

from hadoop_search_spark.session import get_spark

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    # cores and shuffle partitions follow SPARK_GRAFT_CPUS (the box's own
    # core count in the Tier-1 command); a test that needs a fixed width
    # pins it itself
    spark = get_spark(app_name="hadoop_search_spark_tests")
    yield spark


@pytest.fixture(scope="session")
def documents(spark):
    return spark.read.parquet(f"{SF_DIR}/documents.parquet")

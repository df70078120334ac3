import os

import pytest
from pyspark.sql import SparkSession

CPUS = os.environ.get("SPARK_GRAFT_CPUS") or str(os.cpu_count() or 1)


@pytest.fixture(scope="session")
def spark():
    spark = (
        SparkSession.builder.master(f"local[{CPUS}]")
        .appName("stcs-tests")
        .config("spark.sql.shuffle.partitions", CPUS)
        .config("spark.default.parallelism", CPUS)
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.driver.memory", "4g")
        .getOrCreate()
    )
    yield spark
    spark.stop()

import uuid
from contextlib import contextmanager

import pytest
from pyspark.sql import SparkSession


@pytest.fixture(scope="session")
def spark():
    s = (
        SparkSession.builder.master("local[4]")
        .appName("cdc-engine-tests")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "8g")
        .getOrCreate()
    )
    s.sparkContext.setLogLevel("ERROR")
    yield s


@contextmanager
def count_spark_jobs(spark):
    """Count the Spark jobs submitted from this thread inside the block.

    The block runs under a unique job group; on exit the listener bus is
    drained and the status tracker's jobs of that group are counted into
    the yielded dict's ``"jobs"``::

        with count_spark_jobs(spark) as n:
            df.collect()
        assert n["jobs"] <= 2
    """
    sc = spark.sparkContext
    group = f"count-jobs-{uuid.uuid4().hex}"
    previous = sc.getLocalProperty("spark.jobGroup.id")
    counted: dict = {}
    sc.setLocalProperty("spark.jobGroup.id", group)
    try:
        yield counted
    finally:
        sc.setLocalProperty("spark.jobGroup.id", previous)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        counted["jobs"] = len(sc.statusTracker().getJobIdsForGroup(group))

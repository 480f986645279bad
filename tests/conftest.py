import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession

SF_SMOKE = "/root/testdata/sf0.001"
SF_CORRECT = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    s = (
        SparkSession.builder.master("local[4]")
        .appName("avs-tests")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version", "2")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "8g")
        .getOrCreate()
    )
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


def spark_executor_engine(spark, index_dir, cfg):
    """A QueryEngine whose executor choice is made under a postings cap no
    index fits, so it serves every query through Spark (every test index
    is small enough to be driver-resident otherwise)."""
    from archivesspace_virgo_spark.index import query

    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(query, "_DRIVER_POSTINGS_MAX_BYTES", -1)
        engine = query.QueryEngine(spark, index_dir, cfg)
        assert engine._driver_tables() is None
    return engine

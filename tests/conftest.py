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


#: the entries of a committed index directory
INDEX_LAYOUT = ["_meta", "doc_map", "doc_stats", "postings"]


def index_stats(spark, index_dir, cfg):
    """What a committed index serves as statistics: per-field (n_docs,
    avgdl), (df, cf) of every postings term, the marker's per-shard doc
    counts and token totals (build ids and fingerprints left out) and its
    doc-id high-water mark."""
    from archivesspace_virgo_spark.index import query

    engine = query.QueryEngine(spark, index_dir, cfg)
    st = engine.storage
    terms = [r["term"] for r in
             st.read(spark, "postings").select("term").distinct().collect()]
    shards = {s: (e["n_docs"], e["tokens"]) for s, e in st.shards().items()}
    return (engine.field_stats, engine.term_stats(terms), shards,
            st.read_commit()["next_doc_id"])

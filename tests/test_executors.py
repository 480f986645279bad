"""Executor parity: every ``QueryEngine._shard_scan`` surface gives the same
rows, down to the float bits, whether the kernels run on driver-resident
Arrow postings or through Spark's ``applyInPandas`` (the same grouped-map
function applied through Spark and to local pandas, results compared).
The executor is chosen by the postings' uncompressed bytes against the
private cap; the Spark engines here are opened with the cap forced below
any index."""

import os
import struct

import pytest
from pyspark.sql import functions as F

from archivesspace_virgo_spark.config import IndexConfig
from archivesspace_virgo_spark.corpus import load_documents_as_corpus
from archivesspace_virgo_spark.index import query
from archivesspace_virgo_spark.index.build import build_index
from archivesspace_virgo_spark.index.multi import MultiIndexEngine
from archivesspace_virgo_spark.index.query import QueryEngine

from tests.conftest import SF_SMOKE, spark_executor_engine

CFG = IndexConfig(docs_per_shard=64, block_size=16,
                  fields=("content", "path", "lang"))


@pytest.fixture(scope="module")
def engines(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("exec_idx"))
    build_index(spark, load_documents_as_corpus(spark, SF_SMOKE), d, CFG)
    driver = QueryEngine(spark, d, CFG)
    assert driver._driver_tables() is not None
    return driver, spark_executor_engine(spark, d, CFG)


@pytest.fixture(scope="module")
def multi_engines(spark, tmp_path_factory):
    corpus = load_documents_as_corpus(spark, SF_SMOKE)
    dirs = []
    for rem in (0, 1):
        d = str(tmp_path_factory.mktemp(f"exec_member{rem}"))
        build_index(spark, corpus.filter(F.col("doc_id") % 2 == rem), d, CFG)
        dirs.append(d)
    return (
        MultiIndexEngine([QueryEngine(spark, d, CFG) for d in dirs],
                         labels=["a", "b"]),
        MultiIndexEngine([spark_executor_engine(spark, d, CFG) for d in dirs],
                         labels=["a", "b"]),
    )


def _bits(rows):
    """Rows with every float replaced by its IEEE-754 bytes."""
    return [tuple(struct.pack("<d", v).hex() if isinstance(v, float) else v
                  for v in r) for r in rows]


T2 = ["table", "join"]
T3 = ["table", "join", "spark"]

# surfaces whose rows come back in a defined order
ORDERED = {
    "search_or": lambda e: e.search(T3, k=10),
    "search_and": lambda e: e.search(T2, k=10, mode="and"),
    "search_mm": lambda e: e.search(T3, k=10, min_should_match=2),
    "search_fq": lambda e: e.search(T2, k=10, filters=[["lang:en", "lang:fr"]]),
    "search_boost": lambda e: e.search(T3, k=10, boosts={"join": 2.5}),
    "search_exclude": lambda e: e.search(T2, k=10, exclude=["spark"]),
    "search_offset": lambda e: e.search(T3, k=5, offset=7),
    "search_scoped": lambda e: e.search(["table", "lang:en"], k=10),
    "search_absent": lambda e: e.search(["table", "zzz_no_such_qq"], k=10,
                                        mode="and"),
    "query": lambda e: e.query("table join^2 -spark", k=10),
    "query_must": lambda e: e.query("+table join spark", k=10, offset=2),
    "query_phrase": lambda e: e.query('"value table"~1', k=10),
    "boolean_search": lambda e: e.boolean_search([["table"], ["join", "spark"]],
                                                 k=10),
    "dismax_search": lambda e: e.dismax_search(["table", "en"],
                                               fields=("content", "lang"),
                                               tie=0.3, k=10),
    "rerank": lambda e: e.rerank(T3, ["value", "table"], k=10, rerank_docs=20),
    "rerank_sloppy": lambda e: e.rerank(T3, ["table", "value"], k=10,
                                        rerank_docs=20, slop=2),
    "highlight": lambda e: e.highlight(T2, k=8),
    "explain": lambda e: e.explain(T3, [1, 2, 3, 70, 130]),
}
ORDERED["phrase_search"] = lambda e: e.phrase_search(["value", "table"], k=10)
for _slop in (0, 1, 3):
    ORDERED[f"span_near_search_{_slop}"] = (
        lambda e, s=_slop: e.span_near_search(["value", "table"], slop=s,
                                              k=10, offset=1))
    ORDERED[f"sloppy_phrase_search_{_slop}"] = (
        lambda e, s=_slop: e.sloppy_phrase_search(["table", "value"], slop=s,
                                                  k=10))

# surfaces that return an unordered relation
UNORDERED = {
    "term_scores": lambda e: e.term_scores(["table", "lang:en"]),
    "match_ids": lambda e: e.match_ids(T2, filters=[["lang:en"]]),
    "match_ids_mm": lambda e: e.match_ids(T3, min_should_match=2,
                                          exclude=["join"]),
    "score_matches": lambda e: e.score_matches(T3, exclude=["spark"]),
}


@pytest.mark.parametrize("surface", sorted(ORDERED))
def test_ordered_surface_parity(engines, surface):
    driver, spark_ = engines
    got = _bits(ORDERED[surface](driver).collect())
    exp = _bits(ORDERED[surface](spark_).collect())
    assert got == exp
    if not surface.endswith("absent"):
        assert got, "the surface must return rows to compare"


@pytest.mark.parametrize("surface", sorted(UNORDERED))
def test_unordered_surface_parity(engines, surface):
    driver, spark_ = engines
    got = sorted(_bits(UNORDERED[surface](driver).collect()))
    exp = sorted(_bits(UNORDERED[surface](spark_).collect()))
    assert got and got == exp


def test_multi_index_exact_stats_parity(multi_engines):
    driver, spark_ = multi_engines
    got = _bits(driver.search(T3, k=10, exact_stats=True).collect())
    assert got and got == _bits(spark_.search(T3, k=10,
                                              exact_stats=True).collect())


def test_term_stats_parity(engines):
    driver, spark_ = engines
    terms = ["table", "lang:en", "zzz_no_such_qq"]
    assert driver.term_stats(terms) == spark_.term_stats(terms)
    assert driver._term_cache["zzz_no_such_qq"] is None  # a known miss


def test_over_cap_index_never_loads_arrow(spark, engines, monkeypatch):
    """An index whose postings exceed the cap stays on Spark: neither
    postings nor lexicon is read into driver memory."""
    driver, _spark = engines

    def no_dataset(*a, **kw):
        raise AssertionError("driver tables loaded for an over-cap index")

    monkeypatch.setattr(query, "_DRIVER_POSTINGS_MAX_BYTES", 1)
    monkeypatch.setattr(query.pads, "dataset", no_dataset)
    engine = QueryEngine(spark, driver.storage.index_dir, CFG)
    got = engine.search(T3, k=10).collect()
    assert engine._driver is False
    monkeypatch.undo()
    assert _bits(got) == _bits(driver.search(T3, k=10).collect())


def test_cap_bounds_the_postings_uncompressed(spark, tmp_path, monkeypatch):
    """The cap bounds the postings as the driver decodes them, not as they
    are stored: an index under the cap on disk but over it uncompressed,
    as its parquet footers report, is served by Spark.  One shard, so the
    files' fixed overhead does not outweigh the compression."""
    import pyarrow.parquet as pq

    cfg = IndexConfig(docs_per_shard=4096, block_size=16)
    d = str(tmp_path / "idx")
    build_index(spark, load_documents_as_corpus(spark, SF_SMOKE), d, cfg)
    driver = QueryEngine(spark, d, cfg)
    root = driver.storage.path("postings")
    files = [os.path.join(p, f) for p, _dirs, fs in os.walk(root) for f in fs]
    on_disk = sum(os.path.getsize(f) for f in files)
    footers = [pq.read_metadata(f) for f in files if f.endswith(".parquet")]
    loaded = sum(m.row_group(i).total_byte_size
                 for m in footers for i in range(m.num_row_groups))
    assert on_disk < loaded
    monkeypatch.setattr(query, "_DRIVER_POSTINGS_MAX_BYTES", (on_disk + loaded) // 2)
    engine = QueryEngine(spark, d, cfg)
    assert engine._driver_tables() is None
    monkeypatch.undo()
    assert driver._driver_tables() is not None
    assert _bits(engine.search(T3, k=10).collect()) == _bits(
        driver.search(T3, k=10).collect())

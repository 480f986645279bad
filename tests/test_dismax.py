"""Solr DisMax (defType=dismax, qf=fields, tie): per-term DisjunctionMax
across fields, terms summed as a boolean OR — pinned against the exact
DuckDB oracle, and in its degenerate single-field case against plain
``search``.
"""

import duckdb
import pytest

from archivesspace_virgo_spark.config import IndexConfig
from archivesspace_virgo_spark.corpus import load_documents_as_corpus
from archivesspace_virgo_spark.functions.bm25 import dismax_oracle_sql
from archivesspace_virgo_spark.index.build import build_index
from archivesspace_virgo_spark.index.query import QueryEngine

from tests.conftest import SF_SMOKE, spark_executor_engine

CFG = IndexConfig(docs_per_shard=64, block_size=16, fields=("content", "lang"))
# the documents fixture tokenizes lang to exactly one token per doc, so a
# lang value doubles as a cross-field term ('en' may also appear in text)
FIELD_COLS = {"content": "text", "lang": "lang"}


@pytest.fixture(scope="module")
def engine(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("dm_idx"))
    corpus = load_documents_as_corpus(spark, SF_SMOKE)
    build_index(spark, corpus, d, CFG)
    return QueryEngine(spark, d, CFG)


@pytest.fixture(scope="module")
def con():
    c = duckdb.connect()
    c.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{SF_SMOKE}/documents.parquet')"
    )
    return c


def _rows(df):
    return [(r["doc_id"], round(r["score"], 6)) for r in df.collect()]


def _oracle(con, sql):
    return [(int(d), round(s, 6)) for d, s in con.execute(sql).fetchall()]


@pytest.mark.parametrize("tie", [0.0, 0.3, 1.0])
def test_dismax_matches_duckdb_oracle(engine, con, tie):
    terms = ["table", "en"]
    got = _rows(engine.dismax_search(terms, fields=("content", "lang"),
                                     tie=tie, k=10))
    exp = _oracle(con, dismax_oracle_sql(terms, FIELD_COLS, tie=tie, k=10))
    assert got == exp and len(got) == 10


def test_dismax_single_field_equals_search(engine):
    terms = ["table", "join"]
    assert _rows(engine.dismax_search(terms, fields=("content",), k=10)) == \
        _rows(engine.search(terms, k=10, mode="or"))


def test_dismax_paging_and_absent_terms(engine, con):
    terms = ["table", "en"]
    page2 = _rows(engine.dismax_search(terms, fields=("content", "lang"),
                                       tie=0.3, k=5, offset=5))
    exp = _oracle(con, dismax_oracle_sql(terms, FIELD_COLS, tie=0.3, k=5,
                                         offset=5))
    assert page2 == exp
    assert engine.dismax_search(["zzznope"], fields=("content", "lang"),
                                k=5).count() == 0


def test_dismax_zero_data_shuffles(engine):
    """The DisMax reduction must run entirely inside the per-shard kernel
    (a doc's field-scoped postings all live in its home shard): the ONLY
    exchange in the plan groups the ≤|terms|×|fields| posting rows by
    doc_shard, and the ≤k partials merge through TakeOrderedAndProject —
    no per-posting or per-doc row ever crosses a shuffle.  This is the
    Spark executor's plan, so the engine is opened under a postings cap
    no index fits."""
    engine = spark_executor_engine(engine.spark, engine.storage.index_dir,
                                   CFG)
    df = engine.dismax_search(["table", "en"], fields=("content", "lang"),
                              k=10)
    plan = df._jdf.queryExecution().executedPlan().toString()
    data_exchanges = [
        ln for ln in plan.splitlines()
        if "Exchange" in ln and "doc_shard" not in ln
    ]
    assert not data_exchanges, plan[:4000]
    assert "TakeOrderedAndProject" in plan


def test_term_scores_relation(engine, con):
    rows = engine.term_scores(["table", "lang:en"]).collect()
    assert rows
    terms_seen = {r["term"] for r in rows}
    assert terms_seen == {"table", "lang:en"}
    # every contrib positive; lang:en contribs identical across docs
    # (dl=1, tf=1 for every lang posting -> constant contribution)
    en = {round(r["contrib"], 9) for r in rows if r["term"] == "lang:en"}
    assert len(en) == 1
    assert all(r["contrib"] > 0 for r in rows)


def test_fuzzy_field_scoped_no_cross_field_leak(engine):
    """Per-field FuzzyQuery: a scoped fuzzy term must expand only within
    its own field's lexicon entries, with edits measured on the term BODY
    — never against default-field terms (e.g. 'lang:fr'~2 must not match
    the default-field token 'far' via delete-':' tricks)."""
    exp = engine._expand_fuzzy("lang:fr", max_edits=2, prefix_length=0,
                               max_expansions=1000)
    assert exp, "fixture must contain lang terms near 'fr'"
    assert all(t.startswith("lang:") for t in exp), exp
    # suggest on a scoped term likewise stays in-field, distance on body
    sg = engine.suggest("lang:fq", n=10, max_edits=2, prefix_length=0)
    rows = sg.collect()
    assert rows and all(r["term"].startswith("lang:") for r in rows)
    import numpy as np  # noqa: F401  (parity: distance is body-measured)
    for r in rows:
        body = r["term"][len("lang:"):]
        assert abs(len(body) - len("fq")) <= 2


def test_dismax_duplicate_terms_score_m_times(engine):
    """Lucene clause multiplicity: dismax(['spark','spark']) doubles the
    term's whole DisjunctionMax contribution (same contract as
    boolean_search's duplicate-SHOULD handling)."""
    once = {r["doc_id"]: r["score"]
            for r in engine.dismax_search(["spark"], tie=0.3, k=10).collect()}
    twice = {r["doc_id"]: r["score"]
             for r in engine.dismax_search(["spark", "spark"], tie=0.3,
                                           k=10).collect()}
    assert set(once) == set(twice)
    for d, s in once.items():
        assert abs(twice[d] - 2.0 * s) < 1e-9

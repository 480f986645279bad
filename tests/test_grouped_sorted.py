"""Solr result grouping (group.field), field sort (sort=f), range facets
(facet.range), and the score-all-matches primitive beneath them.

All are select-handler capabilities of the Solr surface the reference
programs against (SolrHelper.java:39-80).  Each is pinned against an exact
DuckDB oracle over the same parquet corpus; ``score_matches`` is pinned as
the un-truncated twin of ``search``.
"""

import duckdb
import pytest

from archivesspace_virgo_spark.config import IndexConfig
from archivesspace_virgo_spark.corpus import load_documents_as_corpus
from archivesspace_virgo_spark.functions.bm25 import bm25_oracle_sql
from archivesspace_virgo_spark.index.build import build_index
from archivesspace_virgo_spark.index.query import QueryEngine
from archivesspace_virgo_spark.tokenizer import TOKEN_SPLIT_PATTERN

from tests.conftest import SF_SMOKE

CFG = IndexConfig(docs_per_shard=64, block_size=16)
TERMS = ["spark", "window", "merge"]
BIG = 10 ** 9


@pytest.fixture(scope="module")
def engine(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("grp_idx"))
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


def test_score_matches_is_untruncated_search(engine, con):
    # NOTE: search(k=huge) is deliberately NOT the comparator — Spark's
    # TakeOrderedAndProject allocates a k-sized heap; score_matches exists
    # precisely so whole-match-set consumers never pass a giant k
    all_rows = {r["doc_id"]: round(r["score"], 6)
                for r in engine.score_matches(TERMS).collect()}
    exp = {int(d): round(s, 6)
           for d, s in con.execute(bm25_oracle_sql(TERMS, k=BIG)).fetchall()}
    assert all_rows == exp and len(all_rows) > 10
    # the ranked top-k is exactly the match set's best k
    top = [(r["doc_id"], round(r["score"], 6))
           for r in engine.search(TERMS, k=10).collect()]
    best = sorted(all_rows.items(), key=lambda kv: (-kv[1], kv[0]))[:10]
    assert top == best


@pytest.mark.parametrize("mode,exclude", [
    ("or", ()), ("and", ()), ("or", ("hash",)),
], ids=["or", "and", "exclude"])
def test_grouped_search_matches_duckdb_oracle(engine, con, mode, exclude):
    got = [
        (r["lang"], r["rank_in_group"], r["doc_id"], round(r["score"], 6))
        for r in engine.grouped_search(TERMS, "lang", k_per_group=3,
                                       mode=mode, exclude=exclude).collect()
    ]
    scored = bm25_oracle_sql(TERMS, k=BIG, mode=mode, exclude=exclude)
    exp = [
        (lang, int(rn), int(d), round(s, 6))
        for lang, rn, d, s in con.execute(f"""
WITH scored AS ({scored}),
g AS (
  SELECT d.lang, s.doc_id, s.score,
         row_number() OVER (PARTITION BY d.lang
                            ORDER BY s.score DESC, s.doc_id) AS rn
  FROM scored s JOIN documents d USING (doc_id)
),
t AS (
  SELECT *, max(score) OVER (PARTITION BY lang) AS top
  FROM g WHERE rn <= 3
)
SELECT lang, rn, doc_id, score FROM t ORDER BY top DESC, lang, rn
""").fetchall()
    ]
    assert got == exp and len(got) > 3


def test_grouped_search_within_group_contract(engine):
    rows = engine.grouped_search(TERMS, "lang", k_per_group=2).collect()
    by_group = {}
    for r in rows:
        by_group.setdefault(r["lang"], []).append(
            (r["rank_in_group"], r["score"], r["doc_id"])
        )
    for g, items in by_group.items():
        assert [rn for rn, _s, _d in items] == list(range(1, len(items) + 1))
        scores = [s for _rn, s, _d in items]
        assert scores == sorted(scores, reverse=True)


def test_sorted_search_matches_duckdb_oracle(engine, con):
    got = [(r["doc_id"], r["path"])
           for r in engine.sorted_search(TERMS, "path", k=10).collect()]
    # doc_map's path column is the adapter's 'doc/' || doc_id (FIXTURES.md)
    exp = [
        (int(d), p)
        for d, p in con.execute(f"""
WITH scored AS ({bm25_oracle_sql(TERMS, k=BIG)})
SELECT doc_id, 'doc/' || CAST(doc_id AS VARCHAR) AS path FROM documents
WHERE doc_id IN (SELECT doc_id FROM scored)
ORDER BY path, doc_id LIMIT 10
""").fetchall()
    ]
    assert got == exp and len(got) == 10
    # descending + paging
    got2 = [r["doc_id"] for r in
            engine.sorted_search(TERMS, "path", k=5, ascending=False,
                                 offset=5).collect()]
    exp2 = [
        int(d) for d, _p in con.execute(f"""
WITH scored AS ({bm25_oracle_sql(TERMS, k=BIG)})
SELECT doc_id, 'doc/' || CAST(doc_id AS VARCHAR) AS path FROM documents
WHERE doc_id IN (SELECT doc_id FROM scored)
ORDER BY path DESC, doc_id LIMIT 5 OFFSET 5
""").fetchall()
    ]
    assert got2 == exp2


def test_facet_range_matches_duckdb_oracle(engine, con):
    got = [(r["bucket_lo"], r["facet_count"])
           for r in engine.facet_range(TERMS, start=0, end=400,
                                       gap=50).collect()]
    exp = [
        (int(b), int(n))
        for b, n in con.execute(f"""
WITH tok AS (
  SELECT doc_id,
         unnest(list_filter(string_split_regex(lower(text),
                '{TOKEN_SPLIT_PATTERN}'), t -> t <> '')) AS term
  FROM documents
),
dl AS (SELECT doc_id, count(*) AS dl FROM tok GROUP BY 1),
scored AS ({bm25_oracle_sql(TERMS, k=BIG)})
SELECT CAST((dl // 50) * 50 AS BIGINT) AS bucket_lo,
       CAST(count(*) AS BIGINT) AS facet_count
FROM dl
WHERE doc_id IN (SELECT doc_id FROM scored) AND dl >= 0 AND dl < 400
GROUP BY 1 ORDER BY 1
""").fetchall()
    ]
    assert got == exp and len(got) > 1
    with pytest.raises(ValueError):
        engine.facet_range(TERMS, start=0, end=400, gap=0)


def test_grouped_search_is_two_pass(engine):
    """Pass 1 (scoring + per-(group, shard) partial top-k inside ONE
    cogrouped kernel) must run BELOW the group-field exchange, so the
    low-cardinality shuffle carries ≤ shards × groups × k rows, never the
    whole match set.  In the executedPlan tree a parent prints before its
    children — the group-key Exchange must appear before the cogroup
    kernel, and the only exchanges besides it are the two doc_shard
    cogroup feeds (no full-match-set exchange exists at all)."""
    df = engine.grouped_search(TERMS, "lang", k_per_group=3)
    plan = df._jdf.queryExecution().executedPlan().toString()
    lines = plan.splitlines()
    exch = [i for i, ln in enumerate(lines)
            if "Exchange hashpartitioning" in ln and "lang" in ln
            and "doc_shard" not in ln]
    cog = [i for i, ln in enumerate(lines)
           if "FlatMapCoGroupsInPandas" in ln]
    assert exch and cog, plan[:4000]
    assert min(exch) < min(cog), plan[:4000]
    other = [ln for i, ln in enumerate(lines)
             if "Exchange" in ln and i not in exch
             and "doc_shard" not in ln
             # final presentation sort of the ≤ groups×k result rows
             and "rangepartitioning" not in ln]
    assert not other, plan[:4000]


def test_grouped_search_keeps_null_group(spark, tmp_path):
    """Docs whose group-field value is NULL form their own group (Solr
    grouping returns a null group) — pandas groupby's default null-key
    drop must not silently delete them from the result."""
    from pyspark.sql import functions as F

    from archivesspace_virgo_spark.corpus import load_documents_as_corpus

    corpus = (
        load_documents_as_corpus(spark, SF_SMOKE)
        .filter(F.col("doc_id") < 120)
        .withColumn(
            "lang",
            F.when(F.col("doc_id") % 3 == 0, F.lit(None)).otherwise(
                F.col("lang")
            ),
        )
    )
    d = str(tmp_path / "nullgrp")
    build_index(spark, corpus, d, CFG)
    e = QueryEngine(spark, d, CFG)
    rows = e.grouped_search(["table"], "lang", k_per_group=2).collect()
    match_ids = {r["doc_id"] for r in e.match_ids(["table"]).collect()}
    null_matches = sorted(x for x in match_ids if x % 3 == 0)
    assert null_matches, "fixture must have null-lang matches"
    null_rows = [r for r in rows if r["lang"] is None]
    assert null_rows and len(null_rows) <= 2
    assert all(r["doc_id"] % 3 == 0 for r in null_rows)


def test_multi_field_sort_matches_duckdb_oracle(engine, con):
    """Solr ``sort=f1 asc, f2 desc``: lang has ~5 values so first-key ties
    are guaranteed — the second key must break them (and doc_id breaks
    the rest).  Same oracle run for each accepted spec spelling."""
    exp = [
        (l, p, int(d))
        for l, p, d in con.execute(f"""
WITH scored AS ({bm25_oracle_sql(TERMS, k=BIG)})
SELECT lang, 'doc/' || CAST(doc_id AS VARCHAR) AS path, doc_id
FROM documents WHERE doc_id IN (SELECT doc_id FROM scored)
ORDER BY lang ASC, path DESC, doc_id LIMIT 12
""").fetchall()
    ]
    for spec in ("lang asc, path desc",
                 [("lang", "asc"), ("path", "desc")],
                 [("lang", True), ("path", False)]):
        got = [(r["lang"], r["path"], r["doc_id"])
               for r in engine.sorted_search(TERMS, spec, k=12).collect()]
        assert got == exp and len(got) == 12, spec
    # second key really is load-bearing: flipping it changes the order
    flipped = [(r["lang"], r["path"], r["doc_id"]) for r in
               engine.sorted_search(TERMS, "lang asc, path asc",
                                    k=12).collect()]
    assert flipped != exp


def test_multi_field_sort_plan_stays_takeordered(engine):
    """The composite key must still merge through TakeOrderedAndProject
    (≤k rows cross), not a global sort."""
    plan = engine.sorted_search(
        TERMS, "lang asc, path desc", k=10
    )._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan


def test_sort_spec_parser_rejects_junk(engine):
    import pytest as _pt
    from archivesspace_virgo_spark.index.query import parse_sort_spec
    assert parse_sort_spec("lang") == [("lang", True)]
    assert parse_sort_spec("lang", ascending=False) == [("lang", False)]
    assert parse_sort_spec("lang desc, path") == [("lang", False),
                                                  ("path", True)]
    assert parse_sort_spec(["lang", ("path", "desc")]) == [
        ("lang", True), ("path", False)]
    with _pt.raises(ValueError):
        parse_sort_spec("lang sideways")
    with _pt.raises(ValueError):
        parse_sort_spec("lang asc extra, path")
    with _pt.raises(ValueError):
        parse_sort_spec([])


def test_sorted_by_doc_id_spec(engine):
    """'sort=doc_id desc' — doc_id in the sort spec must not duplicate the
    identity column (AMBIGUOUS_REFERENCE regression)."""
    rows = engine.sorted_search(["spark"], "doc_id desc", k=5).collect()
    ids = [r["doc_id"] for r in rows]
    assert ids == sorted(ids, reverse=True) and len(ids) == 5
    all_ids = sorted(
        (r["doc_id"] for r in engine.match_ids(["spark"]).collect()),
        reverse=True,
    )
    assert ids == all_ids[:5]

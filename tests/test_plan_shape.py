"""Physical-plan regression guards (SURVEY.md §4: the scale story is a
property of the PLAN, not just the results).

These tests pin the two load-bearing plan shapes:
- the index build moves data through EXACTLY ONE exchange (the corpus
  repartition by doc_shard) — tokens/tf/blobs must never shuffle;
- the query's shard-scoring fragment is exchange-free up to the final
  top-k merge (one exchange to the single result partition).
A regression that silently reintroduces a shuffle (e.g. a union that drops
partitioning info, an alias that mints a new attribute id) fails here long
before it shows up as a 100 TB bottleneck.
"""

import pytest
from pyspark.sql import functions as F

from archivesspace_virgo_spark.config import IndexConfig
from archivesspace_virgo_spark.corpus import load_documents_as_corpus, with_content_sha
from archivesspace_virgo_spark.index.build import _make_packer_arrow, tokenized
from archivesspace_virgo_spark.index.storage import POSTINGS_SCHEMA

from tests.conftest import SF_SMOKE

CFG = IndexConfig(docs_per_shard=64, block_size=16)


def _exchanges(df) -> int:
    plan = df._jdf.queryExecution().executedPlan().toString()
    return plan.count("Exchange")


def _build_fragments(spark, cfg):
    corpus = with_content_sha(load_documents_as_corpus(spark, SF_SMOKE))
    corpus = corpus.withColumn(
        "doc_shard", (F.col("doc_id") / F.lit(cfg.docs_per_shard)).cast("int")
    )
    layout = corpus.repartition(8, "doc_shard")
    # same grouped-map fragment build_index runs (applyInArrow — the
    # production path; the exchange count must be pinned on THAT plan)
    packed = layout.select(
        "doc_shard", "doc_id", *cfg.fields
    ).groupBy("doc_shard").applyInArrow(
        _make_packer_arrow(cfg.block_size, cfg.fields), schema=POSTINGS_SCHEMA
    )
    stats = tokenized(layout, cfg).select(
        "doc_shard", "doc_id", "field", F.size("toks").alias("dl")
    )
    return packed, stats


def test_build_pipeline_single_exchange(spark):
    packed, stats = _build_fragments(spark, CFG)
    n = _exchanges(packed)
    assert n == 1, (
        f"build plan has {n} exchanges, expected exactly 1 (the corpus "
        "repartition); something downstream reshuffles:\n"
        + packed._jdf.queryExecution().executedPlan().toString()[:4000]
    )
    # doc_stats off the same layout must also be exchange-free beyond the one
    assert _exchanges(stats) == 1


def test_multifield_build_single_exchange(spark):
    cfg = IndexConfig(docs_per_shard=64, block_size=16,
                      fields=("content", "path", "lang"))
    packed, stats = _build_fragments(spark, cfg)
    assert _exchanges(packed) == 1
    assert _exchanges(stats) == 1


@pytest.fixture(scope="module")
def engine(spark, tmp_path_factory):
    from archivesspace_virgo_spark.index.build import build_index
    from archivesspace_virgo_spark.index.query import QueryEngine

    d = str(tmp_path_factory.mktemp("idx"))
    build_index(spark, load_documents_as_corpus(spark, SF_SMOKE), d, CFG)
    return QueryEngine(spark, d, CFG)


_TOPK = {
    "search": lambda e: e.search(["table", "join"], k=10),
    "boolean_search": lambda e: e.boolean_search([["table"], ["join"]], k=10),
    "dismax_search": lambda e: e.dismax_search(["table", "join"], k=10),
    "phrase_search": lambda e: e.phrase_search(["table", "join"], k=10),
    "sloppy_phrase_search": lambda e: e.sloppy_phrase_search(
        ["table", "join"], slop=2, k=10),
}


@pytest.mark.parametrize("surface", sorted(_TOPK))
def test_query_partials_exchange_free(engine, surface):
    """Shard scoring runs where the postings live; only ≤k-row partials
    cross the wire to the final TakeOrdered merge."""
    plan = _TOPK[surface](engine)._jdf.queryExecution().executedPlan().toString()
    # the shard kernel really runs (not a statically-empty shortcut)
    assert "FlatMapGroupsInPandas" in plan, plan[:4000]
    # grouping postings by doc_shard needs one exchange over the ≤|terms|
    # rows per shard; TakeOrderedAndProject merges partials without another
    assert plan.count("Exchange") <= 1, plan[:4000]
    assert "TakeOrderedAndProject" in plan


def test_query_layer_has_one_shard_scan():
    """Every query surface goes through ``QueryEngine._shard_scan``; the
    only other grouped-map call is grouped_search's cogroup with doc_map."""
    import inspect

    from archivesspace_virgo_spark.index import query

    assert inspect.getsource(query).count("applyInPandas(") == 2


def test_added_id_assignment_has_no_global_window(spark, tmp_path):
    """Incremental added-doc id assignment must use the two-phase prefix-sum
    (per-partition window over _pid), never an un-partitioned global window
    that funnels every added row through one task."""
    from archivesspace_virgo_spark.index.build import build_index
    from archivesspace_virgo_spark.index.incremental import detect_changes

    d = str(tmp_path / "idx")
    corpus = load_documents_as_corpus(spark, SF_SMOKE)
    half = corpus.filter(F.col("doc_id") < 250)
    build_index(spark, half, d, CFG)
    ch = detect_changes(spark, corpus, d)
    plan = ch["added"]._jdf.queryExecution().executedPlan().toString()
    win_lines = [ln for ln in plan.splitlines() if "Window " in ln]
    assert win_lines, "expected a windowed id assignment in the added plan"
    for ln in win_lines:
        assert "_pid" in ln, f"un-partitioned window in added plan:\n{ln}"
    # ids are dense above the stored max
    ids = sorted(r["doc_id"] for r in ch["added"].select("doc_id").collect())
    old_max = 249
    assert ids == list(range(old_max + 1, old_max + 1 + len(ids)))


def test_field_retrieval_is_broadcast_lookup(spark, tmp_path):
    """search_with_fields must stay a broadcast lookup of the ≤k-row hit set
    against a column-pruned doc_map scan — never a sort-merge join that
    sorts the whole doc_map (the re-sort after the join is fine: it orders
    ≤k joined rows)."""
    from archivesspace_virgo_spark.index.build import build_index
    from archivesspace_virgo_spark.index.query import QueryEngine

    d = str(tmp_path / "idx")
    corpus = load_documents_as_corpus(spark, SF_SMOKE)
    build_index(spark, corpus, d, CFG)
    engine = QueryEngine(spark, d, CFG)
    res = engine.search_with_fields(["table", "join"], k=10,
                                    fields=("repo", "lang"))
    plan = res._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan, plan[:4000]
    assert "SortMergeJoin" not in plan, plan[:4000]
    # column pruning: the doc_map scan reads exactly doc_id + requested
    # fields (the scan line's path is truncated in the printed plan, so
    # identify it by its pruned ReadSchema)
    assert "ReadSchema: struct<doc_id:bigint,repo:string,lang:string>" in plan, (
        plan[:4000]
    )
    for ln in plan.splitlines():
        if "ReadSchema" in ln:
            assert "content_sha256" not in ln, ln
    rows = res.collect()
    assert 0 < len(rows) <= 10
    assert res.columns == ["doc_id", "repo", "lang", "score"]


def test_facet_plan_has_no_global_sort(spark, tmp_path):
    """facet_search must count the UNRANKED match set: no top-k, no global
    sort, no single-partition funnel of the full result set (the k=n_docs
    ranking path was the round-1 scale-killer)."""
    import re

    from archivesspace_virgo_spark.index.build import build_index
    from archivesspace_virgo_spark.index.query import QueryEngine

    d = str(tmp_path / "idx")
    corpus = load_documents_as_corpus(spark, SF_SMOKE)
    build_index(spark, corpus, d, CFG)
    engine = QueryEngine(spark, d, CFG)
    res = engine.facet_search(["table", "join"], "lang")
    plan = res._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" not in plan, plan[:4000]
    # executed-plan sorts print as `Sort [keys], <global:bool>, 0`; local
    # sorts (sort-merge join) are fine, a global one is the regression
    assert not re.search(r"Sort \[[^\]]*\], true, 0", plan), plan[:4000]

    # semantics: match_ids OR/AND sets must equal the ranked search's doc
    # sets (search with k >= corpus size ranks everything)
    for mode in ("or", "and"):
        want = {r["doc_id"]
                for r in engine.search(["table", "join"], k=10**6, mode=mode).collect()}
        got = {r["doc_id"]
               for r in engine.match_ids(["table", "join"], mode=mode).collect()}
        assert got == want, (mode, len(got), len(want))

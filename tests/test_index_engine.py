"""Headline correctness gate: engine top-k rank-identical to the numpy
oracle, scores equal within 1e-6 (SURVEY.md §5.2-1, BASELINE.md gate)."""

import pytest

from archivesspace_virgo_spark.config import IndexConfig
from archivesspace_virgo_spark.corpus import load_documents_as_corpus
from archivesspace_virgo_spark.index.build import build_index
from archivesspace_virgo_spark.index.multi import MultiIndexEngine
from archivesspace_virgo_spark.index.query import QueryEngine
from archivesspace_virgo_spark.oracle import build_oracle_index, oracle_search

from tests.conftest import SF_SMOKE

CFG = IndexConfig(docs_per_shard=64, block_size=16)  # many shards/blocks at tiny SF


@pytest.fixture(scope="module")
def built(spark, tmp_path_factory):
    index_dir = str(tmp_path_factory.mktemp("idx"))
    corpus = load_documents_as_corpus(spark, SF_SMOKE)
    meta = build_index(spark, corpus, index_dir, CFG)
    rows = corpus.select("doc_id", "content").collect()
    oracle = build_oracle_index([(r["doc_id"], r["content"]) for r in rows])
    engine = QueryEngine(spark, index_dir, CFG)
    return engine, oracle, meta


def _query_set(oracle):
    """Derive a deterministic ~15-query set from the corpus df distribution."""
    by_df = sorted(oracle.df.items(), key=lambda kv: (kv[1], kv[0]))
    rare = [t for t, _ in by_df[:3]]
    hot = [t for t, _ in by_df[-3:]]  # highest-df terms (skew stressors)
    mid = [t for t, d in by_df if 2 < d < oracle.n_docs // 2][:3]
    qs = [
        (rare[:1], "or"), (rare[1:2], "or"), (hot[:1], "or"),
        (mid[:1], "or"), (rare[:1] + hot[:1], "or"), (mid[:2], "or"),
        (hot[:2] + rare[:1], "or"), (mid[:3], "or"),
        (["zzz_no_such_token_qq"], "or"),
        (rare[:1] + ["zzz_no_such_token_qq"], "or"),
        (mid[:2], "and"), (hot[:1] + mid[:1], "and"),
        (rare[:1] + ["zzz_no_such_token_qq"], "and"),
        (hot[:3], "or"), ([hot[0], hot[0]], "or"),  # duplicate term in query
    ]
    return [q for q in qs if q[0]]


def test_topk_rank_identity(built):
    engine, oracle, _ = built
    k = 10
    for terms, mode in _query_set(oracle):
        expected = oracle_search(oracle, terms, k=k, mode=mode)
        got = engine.search(terms, k=k, mode=mode).collect()
        got_pairs = [(r["doc_id"], r["score"]) for r in got]
        assert [d for d, _ in got_pairs] == [d for d, _ in expected], (
            f"rank mismatch for {terms} mode={mode}: {got_pairs} vs {expected}"
        )
        for (gd, gs), (ed, es) in zip(got_pairs, expected):
            assert abs(gs - es) < 1e-6, f"score mismatch doc {gd}: {gs} vs {es}"


def test_corpus_stats_match_oracle(built):
    engine, oracle, _ = built
    assert engine.n_docs == oracle.n_docs
    assert abs(engine.avgdl - oracle.avgdl) < 1e-9


def test_term_stats_exact_df(built):
    engine, oracle, _ = built
    some = sorted(oracle.df)[::37]
    stats = engine.term_stats(some)
    for t in some:
        assert stats[t][0] == oracle.df[t], t


def test_facet_counts(built, spark):
    engine, _, _ = built
    corpus = load_documents_as_corpus(spark, SF_SMOKE)
    expected = {r["lang"]: r["count"] for r in corpus.groupBy("lang").count().collect()}
    got = {r["lang"]: r["facet_count"] for r in engine.facet("lang").collect()}
    assert got == expected


def test_pagination_offset(built):
    """O3: page (offset, k) == slice [offset, offset+k) of the full ranking."""
    engine, oracle, _ = built
    by_df = sorted(oracle.df.items(), key=lambda kv: (-kv[1], kv[0]))
    terms = [t for t, _ in by_df[:2]]  # hot terms -> deep result set
    full = oracle_search(oracle, terms, k=50)
    for off in (0, 5, 17):
        got = [(r["doc_id"], r["score"])
               for r in engine.search(terms, k=5, offset=off).collect()]
        expected = full[off:off + 5]
        assert [d for d, _ in got] == [d for d, _ in expected], off
        for (_, gs), (_, es) in zip(got, expected):
            assert abs(gs - es) < 1e-6


def test_facet_over_search_results(built, spark):
    """T11: facet counts over ALL docs matching the query (not one page)."""
    engine, oracle, _ = built
    corpus = load_documents_as_corpus(spark, SF_SMOKE)
    by_df = sorted(oracle.df.items(), key=lambda kv: (-kv[1], kv[0]))
    terms = [by_df[5][0], by_df[30][0]]
    matching = {
        doc_id
        for doc_id, tfs in zip(oracle.doc_ids, oracle.doc_tfs)
        if any(t in tfs for t in terms)
    }
    expected = {}
    for r in corpus.select("doc_id", "lang").collect():
        if r["doc_id"] in matching:
            expected[r["lang"]] = expected.get(r["lang"], 0) + 1
    got = {r["lang"]: r["facet_count"]
           for r in engine.facet_search(terms, "lang").collect()}
    assert got == expected


def test_ingest_invariant_sha256(built, spark):
    """Per-row sha2(content,256) equality source vs doc_map (input_hint)."""
    import hashlib

    engine, _, _ = built
    corpus = load_documents_as_corpus(spark, SF_SMOKE)
    src = {r["doc_id"]: r["content"] for r in corpus.collect()}
    dm = engine.storage.read(spark, "doc_map").select("doc_id", "content_sha256").collect()
    assert len(dm) == len(src)
    for r in dm:
        expect = hashlib.sha256(src[r["doc_id"]].encode()).hexdigest()
        assert r["content_sha256"] == expect


def test_k_and_mode_validation(built):
    """Lucene TopDocs contract: k must be >= 1 (descriptive ValueError,
    not an opaque numpy bounds error); mode is normalized/validated so a
    typo can't silently score as OR."""
    import pytest as _pt

    engine, _oracle, _meta = built
    with _pt.raises(ValueError, match=">= 1"):
        engine.search(["spark"], k=0).collect()
    with _pt.raises(ValueError, match=">= 1"):
        engine.dismax_search(["spark"], k=0)
    with _pt.raises(ValueError, match=">= 1"):
        engine.phrase_search(["slow", "stream"], k=0)
    with _pt.raises(ValueError, match="k_per_group"):
        engine.grouped_search(["spark"], "lang", k_per_group=0)
    with _pt.raises(ValueError, match="mode"):
        engine.search(["spark"], mode="adn").collect()
    # case-insensitive normalization: 'AND' means AND, not silent OR
    up = {r["doc_id"] for r in engine.search(["spark", "window"],
                                             mode="AND", k=50).collect()}
    lo = {r["doc_id"] for r in engine.search(["spark", "window"],
                                             mode="and", k=50).collect()}
    assert up == lo


_PAGED = {
    "search": lambda e, **kw: e.search(["spark", "window"], **kw),
    "boolean_search": lambda e, **kw: e.boolean_search(
        [["spark"], ["window", "table"]], **kw),
    "dismax_search": lambda e, **kw: e.dismax_search(["spark"], **kw),
    "phrase_search": lambda e, **kw: e.phrase_search(["slow", "stream"], **kw),
    "sorted_search": lambda e, **kw: e.sorted_search(["spark"], "path", **kw),
    "MultiIndexEngine.search": lambda e, **kw: MultiIndexEngine(
        [e, e]).search(["spark", "window"], **kw),
}


@pytest.mark.parametrize("surface", sorted(_PAGED))
@pytest.mark.parametrize("k,offset,bad", [(5, -3, "offset"), (0, 3, "k")])
def test_paging_rejects_bad_k_and_offset(built, surface, k, offset, bad):
    """k >= 1 and offset >= 0 are checked separately: their sum passing
    must not let a negative offset reach Spark (an AnalysisException at
    execution) or a k=0 page through as an empty result."""
    engine, _oracle, _meta = built
    with pytest.raises(ValueError, match=rf"^{bad} must be >= "):
        _PAGED[surface](engine, k=k, offset=offset).collect()

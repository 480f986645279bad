"""Multi-index (collection-alias / distributed) search: per-member stats
merge contract (Solr distributed default), pinned against a pure-Python
merge of the members' own (already oracle-pinned) results.
"""

import pytest
from pyspark.sql import functions as F

from archivesspace_virgo_spark.config import IndexConfig
from archivesspace_virgo_spark.corpus import load_documents_as_corpus
from archivesspace_virgo_spark.index.build import build_index
from archivesspace_virgo_spark.index.multi import MultiIndexEngine
from archivesspace_virgo_spark.index.query import QueryEngine

from tests.conftest import SF_SMOKE

CFG = IndexConfig(docs_per_shard=64, block_size=16)
TERMS = ["spark", "window", "merge"]


@pytest.fixture(scope="module")
def engines(spark, tmp_path_factory):
    corpus = load_documents_as_corpus(spark, SF_SMOKE)
    out = []
    for name, pred in [("a", F.col("doc_id") % 2 == 0),
                       ("b", F.col("doc_id") % 2 == 1)]:
        d = str(tmp_path_factory.mktemp(f"mi_{name}"))
        build_index(spark, corpus.filter(pred), d, CFG)
        out.append(QueryEngine(spark, d, CFG))
    return out


def _rows(df):
    return [(r["index_id"], r["doc_id"], round(r["score"], 6))
            for r in df.collect()]


def test_search_merges_member_topk(engines):
    multi = MultiIndexEngine(engines, labels=["a", "b"])
    got = _rows(multi.search(TERMS, k=10))
    member = []
    for lab, e in zip(["a", "b"], engines):
        member += [(lab, r["doc_id"], round(r["score"], 6))
                   for r in e.search(TERMS, k=10).collect()]
    member.sort(key=lambda t: (-t[2], t[0], t[1]))
    assert got == member[:10] and len(got) == 10
    # per-member stats contract: a doc's score equals its own member's
    for lab, d, s in got:
        e = engines[0] if lab == "a" else engines[1]
        own = {r["doc_id"]: round(r["score"], 6)
               for r in e.search(TERMS, k=10).collect()}
        assert own[d] == s


def test_paging_is_consistent(engines):
    multi = MultiIndexEngine(engines, labels=["a", "b"])
    full = _rows(multi.search(TERMS, k=10))
    page2 = _rows(multi.search(TERMS, k=5, offset=5))
    assert page2 == full[5:]


def test_count_and_facet_sum_members(engines):
    multi = MultiIndexEngine(engines, labels=["a", "b"])
    assert multi.count(TERMS) == sum(e.count(TERMS) for e in engines)
    fc = {r["lang"]: r["facet_count"]
          for r in multi.facet_search(TERMS, "lang").collect()}
    exp = {}
    for e in engines:
        for r in e.facet_search(TERMS, "lang").collect():
            exp[r["lang"]] = exp.get(r["lang"], 0) + r["facet_count"]
    assert fc == exp and sum(fc.values()) == multi.count(TERMS)


def test_guards(engines):
    with pytest.raises(ValueError):
        MultiIndexEngine([])
    with pytest.raises(ValueError):
        MultiIndexEngine(engines, labels=["only-one"])


@pytest.fixture(scope="module")
def merged_engine(spark, tmp_path_factory):
    corpus = load_documents_as_corpus(spark, SF_SMOKE)
    d = str(tmp_path_factory.mktemp("mi_full"))
    build_index(spark, corpus, d, CFG)
    return QueryEngine(spark, d, CFG)


def test_exact_stats_matches_single_merged_index(engines, merged_engine):
    """ExactStatsCache contract: with merged df/N/avgdl, member scoring is
    identical to one index over the union of the docs — ranks AND scores."""
    multi = MultiIndexEngine(engines, labels=["a", "b"])
    got = [(r["doc_id"], round(r["score"], 6))
           for r in multi.search(TERMS, k=10, exact_stats=True).collect()]
    exp = [(r["doc_id"], round(r["score"], 6))
           for r in merged_engine.search(TERMS, k=10).collect()]
    assert got == exp and len(got) == 10
    # default per-member stats genuinely diverge on this split (otherwise
    # the exact-stats assertion above is vacuous)
    dflt = [(r["doc_id"], round(r["score"], 6))
            for r in multi.search(TERMS, k=10).collect()]
    assert dflt != exp


def test_exact_stats_and_mode_and_global_stats_values(engines, merged_engine):
    multi = MultiIndexEngine(engines, labels=["a", "b"])
    got = [(r["doc_id"], round(r["score"], 6))
           for r in multi.search(TERMS, k=10, mode="and",
                                 exact_stats=True).collect()]
    exp = [(r["doc_id"], round(r["score"], 6))
           for r in merged_engine.search(TERMS, k=10, mode="and").collect()]
    assert got == exp
    # the merged stats equal the single index's stored stats exactly
    term_df, field_stats = multi.global_stats(TERMS)
    single = merged_engine.term_stats(TERMS)
    assert {t: v for t, v in term_df.items() if v[0] > 0} == single
    for f, (n, avgdl) in field_stats.items():
        n1, avgdl1 = merged_engine.field_stats[f]
        assert n == n1 and abs(avgdl - avgdl1) < 1e-12


def test_nested_multi_index_default_path(engines):
    """A MultiIndexEngine can itself be a member under the default
    per-member-stats contract (no stray global_stats kwarg injected)."""
    inner = MultiIndexEngine(engines, labels=["a", "b"])
    outer = MultiIndexEngine([inner], labels=["inner"])
    got = [(r["doc_id"], round(r["score"], 6))
           for r in outer.search(TERMS, k=10).collect()]
    exp = [(r["doc_id"], round(r["score"], 6))
           for r in inner.search(TERMS, k=10).collect()]
    assert got == exp and got


def test_dismax_merges_member_topk(engines):
    multi = MultiIndexEngine(engines, labels=["a", "b"])
    got = _rows(multi.dismax_search(TERMS, tie=0.3, k=10))
    member = []
    for lab, e in zip(["a", "b"], engines):
        member += [(lab, r["doc_id"], round(r["score"], 6))
                   for r in e.dismax_search(TERMS, tie=0.3, k=10).collect()]
    member.sort(key=lambda t: (-t[2], t[0], t[1]))
    assert got == member[:10] and len(got) == 10
    # paging consistency, same contract as search
    assert _rows(multi.dismax_search(TERMS, tie=0.3, k=4, offset=4)) \
        == got[4:8]


def test_sorted_merges_member_topk(engines):
    multi = MultiIndexEngine(engines, labels=["a", "b"])
    spec = "lang asc, path desc"
    got = [(r["index_id"], r["doc_id"], r["lang"], r["path"])
           for r in multi.sorted_search(TERMS, spec, k=10).collect()]
    member = []
    for lab, e in zip(["a", "b"], engines):
        member += [(lab, r["doc_id"], r["lang"], r["path"])
                   for r in e.sorted_search(TERMS, spec, k=10).collect()]
    # same composite key: lang asc, path desc, then (index_id, doc_id)
    member.sort(key=lambda t: (t[2], _desc(t[3]), t[0], t[1]))
    assert got == member[:10] and len(got) == 10


class _desc:
    """Reverse-ordering wrapper for pure-Python sort keys."""
    def __init__(self, v):
        self.v = v
    def __lt__(self, o):
        return self.v > o.v
    def __eq__(self, o):
        return self.v == o.v


def test_grouped_merges_member_partials(engines):
    """Exact distributed grouping: union of member per-group tops,
    re-windowed — pinned against a pure-Python recombination of the
    members' own (oracle-pinned) grouped results."""
    multi = MultiIndexEngine(engines, labels=["a", "b"])
    kpg = 3
    got = [(r["lang"], r["rank_in_group"], r["index_id"], r["doc_id"],
            round(r["score"], 6))
           for r in multi.grouped_search(TERMS, "lang",
                                         k_per_group=kpg).collect()]
    rows = []
    for lab, e in zip(["a", "b"], engines):
        rows += [(r["lang"], lab, r["doc_id"], round(r["score"], 6))
                 for r in e.grouped_search(TERMS, "lang",
                                           k_per_group=kpg).collect()]
    groups: dict = {}
    for lang, lab, d, s in rows:
        groups.setdefault(lang, []).append((lab, d, s))
    exp = []
    for lang, members in groups.items():
        members.sort(key=lambda t: (-t[2], t[0], t[1]))
        top = members[:kpg]
        exp.append((max(s for _l, _d, s in top), lang,
                    [(lang, i + 1, lab, d, s)
                     for i, (lab, d, s) in enumerate(top)]))
    exp.sort(key=lambda t: (-t[0], t[1] if t[1] is not None else ""))
    flat = [row for _top, _lang, rs in exp for row in rs]
    assert got == flat and len(got) >= kpg


def test_exact_stats_nested_member_raises(engines):
    nested = MultiIndexEngine(
        [MultiIndexEngine(engines, labels=["a", "b"]), engines[0]],
        labels=["inner", "leaf"],
    )
    with pytest.raises(ValueError, match="leaf QueryEngine"):
        nested.search(TERMS, k=5, exact_stats=True)
    # default contract still composes
    assert nested.search(TERMS, k=5).count() == 5


@pytest.mark.parametrize("method,args", [
    ("query", ("spark window",)),
    ("phrase_search", (["value", "table"],)),
    ("boolean_search", ([["spark"], ["window"]],)),
    ("count", (TERMS,)),
    ("match_ids", (TERMS,)),
])
def test_exact_stats_refused_off_search(engines, method, args):
    """Only ``search`` merges statistics across members; every other
    surface rejects ``exact_stats=True`` up front, naming ``search``."""
    multi = MultiIndexEngine(engines, labels=["a", "b"])
    with pytest.raises(ValueError, match="only by MultiIndexEngine.search"):
        getattr(multi, method)(*args, exact_stats=True)


# --- round-5: the full distributed query surface, each pinned against a
# pure-Python merge of the members' own (oracle-pinned) results ---

def _merged_topk(engines, labels, method, k, *args, **kw):
    # sort on the FULL-precision score (the engine's merge key); round only
    # for the comparison afterwards — rounding first could flip an order
    # the engine resolves by true score
    member = []
    for lab, e in zip(labels, engines):
        member += [(lab, r["doc_id"], r["score"])
                   for r in getattr(e, method)(*args, k=k, **kw).collect()]
    member.sort(key=lambda t: (-t[2], t[0], t[1]))
    return [(lab, d, round(s, 6)) for lab, d, s in member[:k]]


@pytest.mark.parametrize("method,args,kw", [
    ("query", ("value table",), {}),
    ("query", ('"value table"~2',), {}),
    ("query", ("val* -zzz spark",), {}),
    ("boolean_search", ([["value"], ["table", "spark"]],), {}),
    ("phrase_search", (["value", "table"],), {}),
    ("sloppy_phrase_search", (["table", "value"],), {"slop": 2}),
    ("span_near_search", (["value", "table"],), {"slop": 2}),
    ("prefix_search", ("val*",), {}),
    ("wildcard_search", ("va?ue",), {}),
    ("regexp_search", ("val.e",), {}),
    ("fuzzy_search", ("valua",), {}),
    ("term_range_search", ("value", "values"), {}),
])
def test_distributed_scored_surfaces(engines, method, args, kw):
    multi = MultiIndexEngine(engines, labels=["a", "b"])
    got = _rows(getattr(multi, method)(*args, k=8, **kw))
    exp = _merged_topk(engines, ["a", "b"], method, 8, *args, **kw)
    assert got == exp and len(got) > 0


def test_distributed_query_paging(engines):
    multi = MultiIndexEngine(engines, labels=["a", "b"])
    full = _rows(multi.query("value table", k=10))
    page2 = _rows(multi.query("value table", k=5, offset=5))
    assert page2 == full[5:]


def test_distributed_mlt_and_rerank_and_highlight(engines):
    multi = MultiIndexEngine(engines, labels=["a", "b"])
    seed = "the value table stores window state"
    got = _rows(multi.more_like_this(seed, k=6))
    exp = _merged_topk(engines, ["a", "b"], "more_like_this", 6, seed)
    assert got == exp and len(got) > 0
    got_r = _rows(multi.rerank(["value", "table"], ["value", "table"],
                               k=6, rerank_docs=20))
    exp_r = _merged_topk(engines, ["a", "b"], "rerank", 6,
                         ["value", "table"], ["value", "table"],
                         rerank_docs=20)
    assert got_r == exp_r and len(got_r) > 0
    hl = multi.highlight(["value", "table"], k=5).collect()
    assert 0 < len(hl) <= 5
    assert {"index_id", "doc_id", "score", "snippet_start",
            "snippet_end", "n_matched"} <= set(hl[0].asDict())


def test_distributed_components_sum_members(engines):
    multi = MultiIndexEngine(engines, labels=["a", "b"])
    # match_ids union == sum of member counts
    assert multi.match_ids(TERMS).count() == sum(
        e.match_ids(TERMS).count() for e in engines)
    # facet_range: summed per bucket
    got = {r["bucket_lo"]: r["facet_count"]
           for r in multi.facet_range(TERMS, 0, 400, 50).collect()}
    exp = {}
    for e in engines:
        for r in e.facet_range(TERMS, 0, 400, 50).collect():
            exp[r["bucket_lo"]] = exp.get(r["bucket_lo"], 0) + r["facet_count"]
    assert got == exp and got
    # facet_pivot: summed per (lang, repo)
    gp = {(r["lang"], r["repo"]): r["facet_count"]
          for r in multi.facet_pivot(TERMS, ["lang", "repo"]).collect()}
    ep = {}
    for e in engines:
        for r in e.facet_pivot(TERMS, ["lang", "repo"]).collect():
            key = (r["lang"], r["repo"])
            ep[key] = ep.get(key, 0) + r["facet_count"]
    assert gp == ep and gp
    # stats: count/sum add, min/max compose, mean = Σsum/Σcount
    s = multi.stats_component(TERMS).collect()[0]
    ms = [e.stats_component(TERMS).collect()[0] for e in engines]
    assert s["stats_count"] == sum(m["stats_count"] for m in ms)
    assert s["stats_sum"] == sum(m["stats_sum"] for m in ms)
    assert s["stats_min"] == min(m["stats_min"] for m in ms)
    assert s["stats_max"] == max(m["stats_max"] for m in ms)
    assert abs(s["stats_mean"] - s["stats_sum"] / s["stats_count"]) < 1e-9
    # terms: summed df over the member unions, Solr shard-limit contract
    tc = [(r["term"], r["df"])
          for r in multi.terms_component("s", n=5).collect()]
    union_df = {}
    for e in engines:
        for r in e.terms_component("s", n=5).collect():
            union_df[r["term"]] = union_df.get(r["term"], 0) + r["df"]
    exp_tc = sorted(union_df.items(), key=lambda t: (-t[1], t[0]))[:5]
    assert tc == exp_tc and tc
    # suggest: summed df, DirectSpellChecker order
    sg = [(r["term"], r["df"], r["distance"])
          for r in multi.suggest("valu", n=5).collect()]
    u = {}
    for e in engines:
        for r in e.suggest("valu", n=5).collect():
            t = (r["term"], r["distance"])
            u[t] = u.get(t, 0) + r["df"]
    exp_sg = sorted(((t, df, d) for (t, d), df in u.items()),
                    key=lambda x: (x[2], -x[1], x[0]))[:5]
    assert sg == exp_sg and sg

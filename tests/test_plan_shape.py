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
from archivesspace_virgo_spark.index.build import _doc_stats, _make_packer_arrow
from archivesspace_virgo_spark.index.storage import POSTINGS_SCHEMA

from tests.conftest import SF_SMOKE, spark_executor_engine

CFG = IndexConfig(docs_per_shard=64, block_size=16)


def _exchanges(df) -> int:
    plan = df._jdf.queryExecution().executedPlan().toString()
    return plan.count("Exchange")


def _build_fragments(spark, cfg):
    corpus = with_content_sha(load_documents_as_corpus(spark, SF_SMOKE))
    corpus = corpus.withColumn("doc_shard", cfg.shard_of(F.col("doc_id")))
    layout = corpus.repartition(8, "doc_shard")
    # the same postings and doc_stats fragments build_index writes (the
    # exchange count must be pinned on THOSE plans)
    packed = layout.select(
        "doc_shard", "doc_id", *cfg.fields
    ).groupBy("doc_shard").applyInArrow(
        _make_packer_arrow(cfg.block_size, cfg.fields), schema=POSTINGS_SCHEMA
    )
    return packed, _doc_stats(layout, cfg.fields)


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
    """An engine on the Spark executor: its executor choice is made under
    a postings cap no index fits (these tests pin the Spark plan)."""
    from archivesspace_virgo_spark.index.build import build_index

    d = str(tmp_path_factory.mktemp("idx"))
    build_index(spark, load_documents_as_corpus(spark, SF_SMOKE), d, CFG)
    return spark_executor_engine(spark, d, CFG)


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


def _jobs_of(spark, group, call, ungrouped=False):
    """(result, Spark job ids) of ``call()``: its job group's jobs and, with
    ``ungrouped``, the jobs without a group that start meanwhile — the
    build's writer threads do not inherit the group (perfbench's
    ``JobCounter`` counts the same way)."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    before = set(tracker.getJobIdsForGroup(None))
    sc.setJobGroup(group, group)
    try:
        result = call()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    jobs = list(tracker.getJobIdsForGroup(group))
    if ungrouped:
        jobs += sorted(set(tracker.getJobIdsForGroup(None)) - before)
    return result, jobs


_QUERIES = {
    "search": lambda e: e.search(["table", "join"], k=10),
    "phrase_search": lambda e: e.phrase_search(["table", "join"], k=10),
    "query": lambda e: e.query("table join^2 -spark", k=10),
    # the window kernel carries the hits' scores and pages its own output
    "highlight": lambda e: e.highlight(["table", "join"], k=10),
    # multi-term expansion filters the vocabulary as a local relation
    "prefix_search": lambda e: e.prefix_search("tab", k=10),
    "wildcard_search": lambda e: e.wildcard_search("t?bl*", k=10),
    "fuzzy_search": lambda e: e.fuzzy_search("tablr", k=10),
    "query_expansion": lambda e: e.query("tab* join", k=10),
}


@pytest.mark.parametrize("surface", sorted(_QUERIES))
def test_driver_resident_query_runs_no_spark_job(spark, engine, surface):
    """On an index under the postings cap the kernels run on the driver
    and the page comes back as a local relation: issuing and collecting
    the query submits no Spark job."""
    from archivesspace_virgo_spark.index.query import QueryEngine

    driver = QueryEngine(spark, engine.storage.index_dir, CFG)
    call = _QUERIES[surface]
    rows, jobs = _jobs_of(spark, f"driver-resident-{surface}",
                          lambda: call(driver).collect())
    assert rows
    assert jobs == []
    assert rows == call(engine).collect()


_EMPTY = {
    # statically empty: resolution finds an absent AND term, no scan runs
    "and_absent_term": lambda e: e.search(["table", "zzz_no_such_qq"],
                                          k=10, mode="and"),
    # every term is live, but no doc holds them side by side
    "phrase_never_adjacent": lambda e: e.phrase_search(
        ["window", "merge", "sort"], k=10, offset=2),
    # the fq clause's term posts nowhere, so every kernel finds no rows
    "fq_excludes_every_hit": lambda e: e.search(
        ["table", "join"], k=10, filters=[["zzz_no_such_qq"]]),
}


@pytest.mark.parametrize("case", sorted(_EMPTY))
def test_driver_resident_empty_result_runs_no_spark_job(spark, engine, case):
    """An empty result on a driver-resident index is an Arrow local
    relation like any other page: collecting it, after the page's sort,
    offset and limit, submits no Spark job."""
    from archivesspace_virgo_spark.index.query import QueryEngine

    driver = QueryEngine(spark, engine.storage.index_dir, CFG)
    rows, jobs = _jobs_of(spark, f"driver-resident-empty-{case}",
                          lambda: _EMPTY[case](driver).collect())
    assert rows == []
    assert jobs == []
    assert _EMPTY[case](engine).collect() == []


def test_engine_open_runs_no_spark_job(spark, engine):
    """Opening an engine reads the commit marker alone: its corpus stats
    are sums over the marker's per-shard entries."""
    from archivesspace_virgo_spark.index.query import QueryEngine

    opened, jobs = _jobs_of(spark, "engine-open", lambda: QueryEngine(
        spark, engine.storage.index_dir, CFG))
    assert jobs == []
    assert opened.field_stats == engine.field_stats
    assert opened.n_docs == engine.n_docs > 0


def _snapshot_table(spark, path):
    """A snapshot table of the test corpus's first 150 docs (input shape,
    no doc_id) and a loader for any doc range of it."""
    from archivesspace_virgo_spark.sources import SnapshotTable

    def docs(lo, hi):
        c = load_documents_as_corpus(spark, SF_SMOKE)
        return c.filter(F.col("doc_id").between(lo, hi - 1)).drop("doc_id")

    t = SnapshotTable.create(path)
    t.append(docs(0, 150))
    return t, docs


@pytest.mark.parametrize("read", ["doc_map", "doc_stats", "postings",
                                  "snapshot", "snapshot_diff", "snapshot_pruned"])
def test_declared_reads_run_no_spark_job(spark, engine, tmp_path, read):
    """Index-table and snapshot-table reads declare the schema Spark would
    infer, so opening them runs no Spark job, where inferring it runs
    one."""
    st = engine.storage
    t, docs = _snapshot_table(spark, str(tmp_path / "tbl"))
    first = t.current_snapshot_id()
    t.append(docs(150, 160))
    repo = docs(150, 151).first()["repo"]
    reads = {
        "snapshot": lambda: t.read(spark),
        "snapshot_diff": lambda: t.diff(spark, first),
        "snapshot_pruned": lambda: t.read_pruned(spark, [repo]),
    }
    declared = reads.get(read, lambda: st.read(spark, read))
    df, jobs = _jobs_of(spark, f"declared-read-{read}", declared)
    assert jobs == []
    paths = df.inputFiles() if read in reads else [st.path(read)]
    inferred, jobs = _jobs_of(spark, f"inferred-read-{read}",
                              lambda: spark.read.parquet(*paths))
    assert jobs, "inference runs a job: the declared read must run none"
    assert df.schema == inferred.schema


#: Spark jobs a snapshot-diff sync of 20 new and 5 modified docs into the
#: 150-doc index may run, counted like perfbench: 17 measured, plus 3; 61
#: when every action re-ran the classification plan from the diff read, 29
#: when every change set was classified and staged on disk
_SYNC_JOB_BUDGET = 20


def test_snapshot_diff_sync_job_budget(spark, tmp_path):
    """A snapshot-diff sync of a small change set decides it on the driver:
    one collect of the changed keys, one of the survivors' ids, and the
    build, which takes the per-shard sizes from the driver; no read infers
    a schema."""
    from archivesspace_virgo_spark.index.incremental import (
        incremental_update_from_table,
    )

    t, docs = _snapshot_table(spark, str(tmp_path / "tbl"))
    idx = str(tmp_path / "idx")
    assert incremental_update_from_table(spark, t, idx, CFG)["mode"] == "full_rebuild"
    modified = docs(10, 15).withColumn(
        "content", F.concat("content", F.lit(" modified token"))
    ).withColumn("commit", F.lit("z-v2"))
    t.append(docs(150, 170).unionByName(modified))
    meta, jobs = _jobs_of(spark, "snapshot-diff-sync", lambda: (
        incremental_update_from_table(spark, t, idx, CFG)), ungrouped=True)
    assert meta["mode"] == "snapshot_diff" and meta["dirty_shards"] == [0, 2]
    assert meta["staging"] == "driver"
    assert len(jobs) <= _SYNC_JOB_BUDGET, len(jobs)


def _scans_of(spark, call):
    """(result, the parquet scans of the SQL executions ``call`` ran): each
    scan's formatted-plan block as a dict, ``{"ReadSchema": ..., ...}``."""
    store = spark._jsparkSession.sharedState().statusStore()

    def executions():
        runs = store.executionsList()
        return [runs.apply(i) for i in range(runs.size())]

    seen = max([e.executionId() for e in executions()], default=-1)
    result = call()
    scans = []
    for e in executions():
        if e.executionId() <= seen:
            continue
        for block in e.physicalPlanDescription().split("\n\n"):
            lines = block.strip().splitlines()
            if lines and lines[0].startswith("(") and "Scan parquet" in lines[0]:
                scans.append(dict(ln.split(": ", 1) for ln in lines[1:] if ": " in ln))
    return result, scans


@pytest.mark.parametrize("staging", ["driver", "disk"])
def test_sync_reads_only_the_dirty_shards_of_doc_map(spark, tmp_path, monkeypatch,
                                                     staging):
    """The survivors' ids come from the dirty shards' doc_map partitions
    alone: that read filters on the ``doc_shard`` partition column, so
    Spark prunes the other partitions instead of scanning them all."""
    from archivesspace_virgo_spark.index import incremental as inc

    if staging == "disk":
        monkeypatch.setattr(inc, "_MAX_PRUNE_KEYS", 0)
    t, docs = _snapshot_table(spark, str(tmp_path / "tbl"))
    idx = str(tmp_path / "idx")
    inc.incremental_update_from_table(spark, t, idx, CFG)
    t.append(docs(150, 160))
    meta, scans = _scans_of(spark, lambda: inc.incremental_update_from_table(
        spark, t, idx, CFG))
    assert (meta["staging"], meta["dirty_shards"]) == (staging, [2])
    # only doc_map has both repo and doc_id; the classification join reads
    # every partition's content_sha256, the survivors' read does not
    survivors = [s for s in scans if "repo:" in s["ReadSchema"]
                 and "doc_id:" in s["ReadSchema"]
                 and "content_sha256" not in s["ReadSchema"]]
    assert survivors, scans
    for scan in survivors:
        assert "doc_shard" in scan.get("PartitionFilters", ""), scan


def test_query_layer_has_one_shard_scan():
    """Every query surface goes through ``QueryEngine._shard_scan``; the
    only other grouped-map call is grouped_search's cogroup with doc_map."""
    import inspect

    from archivesspace_virgo_spark.index import query

    assert inspect.getsource(query).count("applyInPandas(") == 2


def test_query_layer_has_one_bm25_step():
    """Every kernel scores through ``query._bm25`` and decodes postings
    through ``query._decode``: the BM25 length norm and the postings
    decode are each written once."""
    import inspect

    from archivesspace_virgo_spark.index import query

    src = inspect.getsource(query)
    assert src.count("(1.0 - b + b *") == 1
    assert src.count("codec.decode_postings(") == 1


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

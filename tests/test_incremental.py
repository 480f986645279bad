"""Incremental == full rebuild; resume; deletion handling; determinism
(SURVEY.md §5.2-4/5/6)."""

import json
import logging
import os

import pytest
from pyspark.sql import DataFrameWriter
from pyspark.sql import functions as F

from archivesspace_virgo_spark import config as config_module
from archivesspace_virgo_spark import tokenizer
from archivesspace_virgo_spark.config import IndexConfig
from archivesspace_virgo_spark.corpus import load_documents_as_corpus, with_content_sha
from archivesspace_virgo_spark.index.build import build_index
from archivesspace_virgo_spark.index.incremental import incremental_update
from archivesspace_virgo_spark.index.query import QueryEngine
from archivesspace_virgo_spark.index.storage import IndexStorage

from tests.conftest import INDEX_LAYOUT, SF_SMOKE, index_stats

CFG = IndexConfig(docs_per_shard=64, block_size=16)


def _input_hint_corpus(spark, n=None):
    """sf0.001 documents in input_hint shape WITHOUT precomputed doc_id
    (identity = (repo, path) so the incremental path derives ids)."""
    c = load_documents_as_corpus(spark, SF_SMOKE).drop("doc_id")
    if n is not None:
        c = c.filter(F.regexp_extract("path", "doc/(\\d+)", 1).cast("int") < n)
    return c


def _snapshot(spark, index_dir, table, key_cols):
    df = IndexStorage(index_dir).read(spark, table)
    return sorted([tuple(r) for r in df.collect()], key=lambda t: str(t))


def _assert_index_equal(spark, dir_a, dir_b):
    for table, keys in [
        ("doc_stats", ["doc_shard", "doc_id"]),
        ("postings", ["doc_shard", "term"]),
    ]:
        a = _snapshot(spark, dir_a, table, keys)
        b = _snapshot(spark, dir_b, table, keys)
        assert a == b, f"{table} differs: {len(a)} vs {len(b)} rows"
    assert index_stats(spark, dir_a, CFG) == index_stats(spark, dir_b, CFG)


def test_incremental_equals_full(spark, tmp_path):
    v1 = _input_hint_corpus(spark, n=150)
    # v2: modify 10 docs (content change), add 30 docs, delete 5
    base = _input_hint_corpus(spark, n=180)
    docnum = F.regexp_extract("path", "doc/(\\d+)", 1).cast("int")
    v2 = (
        base.filter(~docnum.between(50, 54))  # delete 5
        .withColumn(
            "content",
            F.when(docnum.between(0, 9), F.concat(F.col("content"), F.lit(" modified token")))
            .otherwise(F.col("content")),
        )
    )

    inc_dir = str(tmp_path / "inc")
    build_index(spark, v1, inc_dir, CFG, input_fingerprint="v1")
    meta = incremental_update(spark, v2, inc_dir, CFG, input_fingerprint="v2")
    assert meta["mode"] == "incremental"
    assert meta["dirty_shards"], "expected dirty shards"

    full_dir = str(tmp_path / "full")
    # full rebuild must see the same doc_id assignment the incremental path
    # produced: unchanged keep v1 ids, added get ids above v1 max — replicate
    # by building full from the incremental doc_map's ids
    dm = IndexStorage(inc_dir).read(spark, "doc_map").select("doc_id", "repo", "path")
    v2_ids = with_content_sha(v2).join(dm, ["repo", "path"])
    build_index(spark, v2_ids, full_dir, CFG, input_fingerprint="v2full")

    _assert_index_equal(spark, inc_dir, full_dir)

    # and queries agree end-to-end
    ea, eb = QueryEngine(spark, inc_dir, CFG), QueryEngine(spark, full_dir, CFG)
    for terms in [["spark", "window"], ["modified", "token"], ["table"]]:
        ra = [(r["doc_id"], round(r["score"], 9)) for r in ea.search(terms, k=10).collect()]
        rb = [(r["doc_id"], round(r["score"], 9)) for r in eb.search(terms, k=10).collect()]
        assert ra == rb, terms


def test_incremental_noop(spark, tmp_path):
    v1 = _input_hint_corpus(spark, n=100)
    d = str(tmp_path / "idx")
    build_index(spark, v1, d, CFG, input_fingerprint="v1")
    meta = incremental_update(spark, v1, d, CFG, input_fingerprint="v1b")
    assert meta["mode"] == "noop"


def test_incremental_pure_deletion(spark, tmp_path):
    v1 = _input_hint_corpus(spark, n=130)
    d = str(tmp_path / "idx")
    build_index(spark, v1, d, CFG, input_fingerprint="v1")
    docnum = F.regexp_extract("path", "doc/(\\d+)", 1).cast("int")
    v2 = v1.filter(docnum >= 64)  # empties shard 0 entirely (64 docs/shard)
    meta = incremental_update(spark, v2, d, CFG, input_fingerprint="v2")
    assert meta["mode"] == "incremental"
    engine = QueryEngine(spark, d, CFG)
    assert engine.n_docs == v2.count()
    # doc_map now holds exactly the surviving paths, and every query hit is
    # one of the surviving doc_ids
    dm = IndexStorage(d).read(spark, "doc_map")
    surviving_paths = {r["path"] for r in dm.select("path").collect()}
    assert surviving_paths == {r["path"] for r in v2.select("path").collect()}
    surviving_ids = {r["doc_id"] for r in dm.select("doc_id").collect()}
    got = engine.search(["table"], k=200).collect()
    assert got and {r["doc_id"] for r in got} <= surviving_ids


def test_config_change_forces_full_rebuild(spark, tmp_path):
    v1 = _input_hint_corpus(spark, n=100)
    d = str(tmp_path / "idx")
    build_index(spark, v1, d, CFG, input_fingerprint="v1")
    other = IndexConfig(docs_per_shard=32, block_size=16)
    meta = incremental_update(spark, v1, d, other, input_fingerprint="v2")
    assert meta["mode"] == "full_rebuild"


@pytest.mark.parametrize("module, name, bumped", [
    (config_module, "FORMAT_VERSION", config_module.FORMAT_VERSION + 1),
    (tokenizer, "TOKENIZER", tokenizer.TOKENIZER + "_next"),
])
def test_format_or_tokenizer_bump_forces_full_rebuild(spark, tmp_path, monkeypatch,
                                                     module, name, bumped):
    """The format version and the tokenizer name are constants, not config
    fields, yet part of every index's identity: bumping either changes
    config_hash(), and a sync over an index committed before the bump
    rebuilds it in full."""
    v1 = _input_hint_corpus(spark, n=100)
    d = str(tmp_path / "idx")
    build_index(spark, v1, d, CFG, input_fingerprint="v1")
    assert incremental_update(spark, v1, d, CFG)["mode"] == "noop"
    before = CFG.config_hash()
    monkeypatch.setattr(module, name, bumped)
    assert CFG.config_hash() != before
    assert incremental_update(spark, v1, d, CFG)["mode"] == "full_rebuild"
    assert IndexStorage(d).read_commit()["config"][name.lower()] == bumped


def test_resume_skips_completed_shards(spark, tmp_path):
    corpus = load_documents_as_corpus(spark, SF_SMOKE)
    d = str(tmp_path / "idx")
    # simulate a crash after building only shards 0-3
    m1 = build_index(spark, corpus, d, CFG, input_fingerprint="fp1",
                     only_shards=[0, 1, 2, 3], build_id="first")
    assert m1["shards"] == [0, 1, 2, 3]
    # restart with resume=True: must build only the remaining shards
    m2 = build_index(spark, corpus, d, CFG, input_fingerprint="fp1",
                     resume=True, build_id="second")
    assert set(m2["shards"]).isdisjoint({0, 1, 2, 3})
    # the marker: shards 0-3 still attributed to the first build (not
    # recomputed), the rest to the second
    builds = {s: e["build_id"] for s, e in IndexStorage(d).shards().items()}
    assert {s for s, b in builds.items() if b == "first"} == {0, 1, 2, 3}
    assert {s for s, b in builds.items() if b == "second"} == set(m2["shards"])

    # result equals a clean one-shot build
    ref = str(tmp_path / "ref")
    build_index(spark, corpus, ref, CFG, input_fingerprint="fp1")
    _assert_index_equal(spark, d, ref)


def test_determinism_across_partitioning(spark, tmp_path):
    """Same corpus through different input partitionings → byte-identical
    index tables (partition-layout independence, SURVEY §5.2-6)."""
    corpus = load_documents_as_corpus(spark, SF_SMOKE)
    d1, d2 = str(tmp_path / "a"), str(tmp_path / "b")
    build_index(spark, corpus.repartition(13), d1, CFG)
    build_index(spark, corpus.repartition(3), d2, CFG)
    _assert_index_equal(spark, d1, d2)


def test_refresh_rereads_corpus_stats(spark, tmp_path):
    """After an incremental merge that adds docs, ``refresh()`` must leave
    the engine scoring exactly like a freshly opened one — new N and avgdl,
    not the stale ones read at open."""
    d = str(tmp_path / "idx")
    build_index(spark, _input_hint_corpus(spark, n=120), d, CFG,
                input_fingerprint="v1")
    engine = QueryEngine(spark, d, CFG)
    terms = ["spark", "window", "table"]
    engine.search(terms, k=10).collect()  # warm the caches
    meta = incremental_update(spark, _input_hint_corpus(spark, n=200), d,
                              CFG, input_fingerprint="v2")
    assert meta["mode"] == "incremental"
    engine.refresh()
    fresh = QueryEngine(spark, d, CFG)
    assert (engine.n_docs, engine.avgdl) == (fresh.n_docs, fresh.avgdl)
    assert engine.field_stats == fresh.field_stats
    got = [(r["doc_id"], r["score"]) for r in engine.search(terms, k=10).collect()]
    exp = [(r["doc_id"], r["score"]) for r in fresh.search(terms, k=10).collect()]
    assert got and got == exp


def test_refresh_reloads_driver_resident_tables(spark, tmp_path):
    """A driver-resident engine answers from the index as of its last
    ``refresh()``: after an incremental merge adds a doc with a new word
    and removes another, the refreshed engine finds the word and drops
    the removed doc, with the oracle's ids and scores."""
    from archivesspace_virgo_spark.oracle import build_oracle_index, oracle_search
    from archivesspace_virgo_spark.tokenizer import tokenize_text

    d = str(tmp_path / "idx")
    v1 = _input_hint_corpus(spark, n=120)
    build_index(spark, v1, d, CFG, input_fingerprint="v1")
    engine = QueryEngine(spark, d, CFG)
    docnum = F.regexp_extract("path", "doc/(\\d+)", 1).cast("int")
    old_word = tokenize_text(v1.filter(docnum == 7).first()["content"])[0]
    new_word = "zzfreshword"
    queries = [[new_word], [old_word], [old_word, new_word]]
    for terms in queries:  # load the driver tables; cache the miss
        engine.search(terms, k=1000).collect()
    assert engine._driver_tables() is not None
    added = (v1.filter(docnum == 8)
             .withColumn("path", F.concat("path", F.lit("_fresh")))
             .withColumn("content", F.concat("content", F.lit(f" {new_word}"))))
    v2 = v1.filter(docnum != 7).unionByName(added)
    meta = incremental_update(spark, v2, d, CFG, input_fingerprint="v2")
    assert meta["mode"] == "incremental"
    engine.refresh()
    ids = IndexStorage(d).read(spark, "doc_map").select("doc_id", "repo", "path")
    docs = [(r["doc_id"], r["content"]) for r in
            v2.join(ids, ["repo", "path"]).select("doc_id", "content").collect()]
    oracle = build_oracle_index(docs)
    for terms in queries:
        got = [(r["doc_id"], r["score"])
               for r in engine.search(terms, k=1000).collect()]
        exp = oracle_search(oracle, terms, k=1000)
        assert got and [g for g, _s in got] == [e for e, _s in exp], terms
        for (_g, gs), (_e, es) in zip(got, exp):
            assert abs(gs - es) < 1e-9, terms


def test_same_identity_versions_resolve_to_newest(spark, tmp_path):
    """A corpus holding several commits of one (repo, path) merges as ONE
    doc per identity, the newest commit winning — never a second doc_map
    row per version."""
    v1 = _input_hint_corpus(spark, n=100)
    d = str(tmp_path / "idx")
    build_index(spark, v1, d, CFG, input_fingerprint="v1")
    docnum = F.regexp_extract("path", "doc/(\\d+)", 1).cast("int")
    fresh = (
        v1.filter(docnum < 5)
        .withColumn("commit", F.lit("z-fresh"))
        .withColumn("content", F.concat(F.col("content"), F.lit(" freshtoken")))
    )
    meta = incremental_update(spark, v1.unionByName(fresh), d, CFG,
                              input_fingerprint="v2")
    assert meta["mode"] == "incremental"
    dm = IndexStorage(d).read(spark, "doc_map")
    assert dm.count() == 100
    assert dm.select("doc_id").distinct().count() == 100
    engine = QueryEngine(spark, d, CFG)
    assert engine.n_docs == 100
    assert engine.search(["freshtoken"], k=20).count() == 5


def test_failed_staging_write_leaves_no_staging(spark, tmp_path, monkeypatch):
    """A merge that fails right after writing its staged rebuild rows must
    still remove them: nothing is left under ``_staging``.  The
    driver-hand-off cap is forced to 0, so the merge stages on disk."""
    from archivesspace_virgo_spark.index import incremental as inc

    monkeypatch.setattr(inc, "_MAX_PRUNE_KEYS", 0)
    v1 = _input_hint_corpus(spark, n=100)
    d = str(tmp_path / "idx")
    build_index(spark, v1, d, CFG, input_fingerprint="v1")
    real = DataFrameWriter.parquet

    def failing(self, path, *args, **kwargs):
        real(self, path, *args, **kwargs)
        if "_staging" in path:
            raise RuntimeError("injected staging failure")

    monkeypatch.setattr(DataFrameWriter, "parquet", failing)
    with pytest.raises(RuntimeError, match="injected"):
        incremental_update(spark, _input_hint_corpus(spark, n=130), d, CFG,
                           input_fingerprint="v2")
    staging = os.path.join(d, "_staging")
    assert not os.path.exists(staging) or not os.listdir(staging)


def test_failed_table_write_releases_the_cached_layout(spark, tmp_path, monkeypatch):
    """A build whose postings write fails unpersists the corpus layout its
    writes share: the session holds as many persisted RDDs as before."""
    src = str(tmp_path / "src")
    _input_hint_corpus(spark, n=100).write.parquet(src)
    jsc = spark.sparkContext._jsc
    persisted = jsc.getPersistentRDDs().size()
    real = IndexStorage.write

    def failing(self, df, table, *args, **kwargs):
        if table == "postings":
            raise RuntimeError("injected postings write failure")
        real(self, df, table, *args, **kwargs)

    monkeypatch.setattr(IndexStorage, "write", failing)
    with pytest.raises(RuntimeError, match="injected"):
        build_index(spark, spark.read.parquet(src), str(tmp_path / "idx"), CFG)
    assert jsc.getPersistentRDDs().size() == persisted


def test_build_drops_only_shard_that_gets_no_rows(spark, tmp_path):
    """``build_index(only_shards=[s])`` over rows with none in shard s (all
    its docs deleted) leaves shard s with no doc_map and no postings."""
    corpus = load_documents_as_corpus(spark, SF_SMOKE).filter("doc_id < 200")
    d = str(tmp_path / "idx")
    build_index(spark, corpus, d, CFG, input_fingerprint="v1")
    build_index(spark, corpus.filter("doc_id >= 64"), d, CFG,
                input_fingerprint="v2", only_shards=[0])
    st = IndexStorage(d)
    for table in ("doc_map", "postings"):
        assert st.read(spark, table).filter("doc_shard = 0").count() == 0, table
    assert QueryEngine(spark, d, CFG).n_docs == 136


def test_build_logs_one_json_metrics_line(spark, tmp_path, caplog):
    """Each build reports its metrics as one JSON line at INFO instead of
    a ``_metrics`` table."""
    d = str(tmp_path / "idx")
    corpus = load_documents_as_corpus(spark, SF_SMOKE).filter("doc_id < 150")
    with caplog.at_level(logging.INFO, logger="archivesspace_virgo_spark.index.build"):
        meta = build_index(spark, corpus, d, CFG)
    lines = [json.loads(r.getMessage()) for r in caplog.records
             if r.name == "archivesspace_virgo_spark.index.build"]
    assert len(lines) == 1
    line = lines[0]
    assert line["build_id"] == meta["build_id"]
    assert (line["n_docs"], line["n_shards"]) == (150, 3)
    assert line["elapsed_sec"] > 0 and line["docs_per_sec"] > 0
    assert not os.path.exists(os.path.join(d, "_metrics"))
    shards = IndexStorage(d).shards()
    assert sorted((s, e["n_docs"]) for s, e in shards.items()) == [
        (0, 64), (1, 64), (2, 22)]


def test_sync_logs_one_json_line_of_what_it_did(spark, tmp_path, caplog):
    """A merge returns, and logs as one JSON line, the path that decided
    its change set, the changed, added, deleted and surviving docs, and
    the seconds it spent deciding and building."""
    d = str(tmp_path / "idx")
    build_index(spark, _input_hint_corpus(spark, n=100), d, CFG)
    before = IndexStorage(d).shards()
    docnum = F.regexp_extract("path", "doc/(\\d+)", 1).cast("int")
    v2 = _input_hint_corpus(spark, n=130).filter(docnum != 3).withColumn(
        "content", F.when(docnum == 5, F.concat("content", F.lit(" edit")))
        .otherwise(F.col("content")))
    logger = "archivesspace_virgo_spark.index.incremental"
    with caplog.at_level(logging.INFO, logger=logger):
        meta = incremental_update(spark, v2, d, CFG)
    lines = [json.loads(r.getMessage()) for r in caplog.records if r.name == logger]
    assert len(lines) == 1
    fields = ("staging", "dirty_shards", "changed", "added", "deleted", "survivors",
              "decide_s", "build_s")
    assert {f: lines[0][f] for f in fields} == {f: meta[f] for f in fields}
    assert meta["decide_s"] > 0 and meta["build_s"] >= meta["elapsed_sec"] > 0
    assert lines[0]["build_id"] == meta["build_id"]
    assert (meta["staging"], meta["changed"], meta["added"], meta["deleted"]) == (
        "driver", 31, 30, 1)
    # the dirty shards' stored docs, less the modified and the deleted one
    stored = sum(e["n_docs"] for s, e in before.items() if s in meta["dirty_shards"])
    assert meta["survivors"] == stored - 2 == meta["n_docs"] - 31


def test_deleted_max_id_is_not_reused(spark, tmp_path):
    """A doc added after the highest-id doc was deleted gets a fresh id
    above it, never the deleted one."""
    v1 = _input_hint_corpus(spark, n=150)
    d = str(tmp_path / "idx")
    build_index(spark, v1, d, CFG, input_fingerprint="v1")
    top = IndexStorage(d).read(spark, "doc_map").orderBy(F.desc("doc_id")).first()
    v2 = v1.filter(F.col("path") != top["path"])
    incremental_update(spark, v2, d, CFG, input_fingerprint="v2")
    docnum = F.regexp_extract("path", "doc/(\\d+)", 1).cast("int")
    new = _input_hint_corpus(spark).filter(docnum == 160)
    new_path = new.first()["path"]
    incremental_update(spark, v2.unionByName(new), d, CFG,
                       input_fingerprint="v3")
    ids = {r["path"]: r["doc_id"] for r in
           IndexStorage(d).read(spark, "doc_map").collect()}
    assert top["path"] not in ids
    assert ids[new_path] == top["doc_id"] + 1


def test_full_rebuild_drops_shards_the_new_corpus_does_not_reach(spark, tmp_path):
    """A full build into a directory holding a larger index leaves only the
    new corpus's shards: no old doc is counted or found."""
    corpus = load_documents_as_corpus(spark, SF_SMOKE)
    d = str(tmp_path / "idx")
    build_index(spark, corpus.filter("doc_id < 150"), d, CFG)
    build_index(spark, corpus.filter("doc_id < 60"), d, CFG)
    engine = QueryEngine(spark, d, CFG)
    assert engine.n_docs == 60
    hits = engine.search(["table"], k=200).collect()
    assert hits and max(r["doc_id"] for r in hits) < 60
    st = IndexStorage(d)
    assert set(st.shards()) == {0}
    for table in ("doc_map", "doc_stats", "postings"):
        shards = st.read(spark, table).select("doc_shard").distinct().collect()
        assert [r["doc_shard"] for r in shards] == [0], table


def test_index_holds_three_tables_and_a_marker(spark, tmp_path):
    """After a build and after an incremental merge, the index directory
    holds doc_map, doc_stats, postings and the commit marker — no derived
    table and no staging leftovers."""
    d = str(tmp_path / "idx")
    build_index(spark, _input_hint_corpus(spark, n=100), d, CFG)
    assert sorted(os.listdir(d)) == INDEX_LAYOUT
    meta = incremental_update(spark, _input_hint_corpus(spark, n=130), d, CFG)
    assert meta["mode"] == "incremental"
    assert sorted(os.listdir(d)) == INDEX_LAYOUT

"""SnapshotTable (Iceberg semantics on parquet) + snapshot-diff incremental
sync tests: pinning, diff-scan file scope, manifest pruning, append/modify/
overwrite sync == full rebuild, and the streaming trigger."""

import os

import pytest
from pyspark.sql import functions as F

from archivesspace_virgo_spark.config import IndexConfig
from archivesspace_virgo_spark.corpus import load_documents_as_corpus
from archivesspace_virgo_spark.index.build import build_index
from archivesspace_virgo_spark.index.incremental import (
    incremental_update,
    incremental_update_from_table,
)
from archivesspace_virgo_spark.index.query import QueryEngine
from archivesspace_virgo_spark.index.storage import IndexStorage
from archivesspace_virgo_spark.sources import SnapshotTable

from tests.conftest import INDEX_LAYOUT, SF_SMOKE, index_stats, spark_executor_engine

CFG = IndexConfig(docs_per_shard=64, block_size=16)


def _corpus(spark, lo, hi):
    c = load_documents_as_corpus(spark, SF_SMOKE).drop("doc_id")
    docnum = F.regexp_extract("path", "doc/(\\d+)", 1).cast("int")
    return c.filter(docnum.between(lo, hi - 1))


def _assert_index_equal(spark, dir_a, dir_b):
    for table in ["doc_stats", "postings"]:
        a = sorted(str(tuple(r)) for r in IndexStorage(dir_a).read(spark, table).collect())
        b = sorted(str(tuple(r)) for r in IndexStorage(dir_b).read(spark, table).collect())
        assert a == b, f"{table} differs: {len(a)} vs {len(b)} rows"
    assert index_stats(spark, dir_a, CFG) == index_stats(spark, dir_b, CFG)


def test_snapshot_pinning_and_diff_scope(spark, tmp_path):
    t = SnapshotTable.create(str(tmp_path / "tbl"))
    s1 = t.append(_corpus(spark, 0, 100))
    s2 = t.append(_corpus(spark, 100, 150))
    s3 = t.append(_corpus(spark, 150, 200))

    # pinned read: snapshot s1 is immune to later commits
    assert t.read(spark, s1).count() == 100
    assert t.read(spark, s3).count() == 200

    # diff scans ONLY files appended in range — assert via actual scan files
    d = t.diff(spark, s1, s3)
    assert d.count() == 100
    added = {
        e["path"]
        for v in (s2, s3)
        for e in t.snapshot(v)["added"]
    }
    scanned = {f.replace("file:", "").replace("//", "/") for f in d.inputFiles()}
    assert scanned and all(
        any(p.endswith(os.path.basename(f)) for p in added) for f in scanned
    )

    # overwrite in range breaks incrementality (Iceberg contract)
    s4 = t.overwrite(_corpus(spark, 0, 50))
    assert t.has_overwrite_between(s3, s4)
    with pytest.raises(ValueError):
        t.diff(spark, s3, s4)
    assert t.read(spark, s4).count() == 50
    assert t.read(spark, s3).count() == 200  # pinned past overwrite


def test_manifest_pruning_skips_files(spark, tmp_path):
    t = SnapshotTable.create(str(tmp_path / "tbl"))
    lo = _corpus(spark, 0, 100).withColumn("repo", F.lit("repo-aaa"))
    hi = _corpus(spark, 100, 200).withColumn("repo", F.lit("repo-zzz"))
    t.append(lo.coalesce(1))
    t.append(hi.coalesce(1))
    pruned = t.read_pruned(spark, ["repo-zzz"])
    assert pruned.count() == 100
    assert len(pruned.inputFiles()) == 1  # the repo-aaa file was skipped


def test_snapshot_diff_sync_equals_full(spark, tmp_path):
    t = SnapshotTable.create(str(tmp_path / "tbl"))
    t.append(_corpus(spark, 0, 150))
    idx = str(tmp_path / "idx")
    meta = incremental_update_from_table(spark, t, idx, CFG)
    assert meta["mode"] == "full_rebuild"

    # append 30 new docs + modify 5 existing (same identity, new content)
    mods = _corpus(spark, 10, 15).withColumn(
        "content", F.concat(F.col("content"), F.lit(" modified token"))
    ).withColumn("commit", F.sha2(F.concat(F.col("path"), F.lit("v2")), 256))
    t.append(_corpus(spark, 150, 180).unionByName(mods))
    meta = incremental_update_from_table(spark, t, idx, CFG)
    assert meta["mode"] == "snapshot_diff"
    assert meta["dirty_shards"]

    # replaying the same snapshot is a noop (exactly-once)
    assert incremental_update_from_table(spark, t, idx, CFG)["mode"] == "noop"

    # full rebuild over the same final state with the same doc_ids
    full_dir = str(tmp_path / "full")
    dm = IndexStorage(idx).read(spark, "doc_map").select("doc_id", "repo", "path")
    final = _corpus(spark, 0, 180).withColumn(
        "content",
        F.when(
            F.regexp_extract("path", "doc/(\\d+)", 1).cast("int").between(10, 14),
            F.concat(F.col("content"), F.lit(" modified token")),
        ).otherwise(F.col("content")),
    )
    build_index(spark, final.join(dm, ["repo", "path"]), full_dir, CFG,
                input_fingerprint="full")
    _assert_index_equal(spark, idx, full_dir)

    ea, eb = QueryEngine(spark, idx, CFG), QueryEngine(spark, full_dir, CFG)
    for terms in [["spark", "window"], ["modified", "token"]]:
        ra = [(r["doc_id"], round(r["score"], 9)) for r in ea.search(terms, k=10).collect()]
        rb = [(r["doc_id"], round(r["score"], 9)) for r in eb.search(terms, k=10).collect()]
        assert ra == rb, terms


def test_overwrite_falls_back_to_full_diff(spark, tmp_path):
    t = SnapshotTable.create(str(tmp_path / "tbl"))
    t.append(_corpus(spark, 0, 150))
    idx = str(tmp_path / "idx")
    incremental_update_from_table(spark, t, idx, CFG)
    # overwrite: drop docs 0-9 (a deletion only a full diff can see)
    t.overwrite(_corpus(spark, 10, 150))
    meta = incremental_update_from_table(spark, t, idx, CFG)
    assert meta["mode"] == "incremental"
    dm = IndexStorage(idx).read(spark, "doc_map")
    assert dm.count() == 140


def test_wrap_parquet_dir_scan_scope(spark, tmp_path):
    """wrap_parquet_dir registers a plain directory's files in a snapshot
    log without copying; new files commit appends whose diff scans ONLY
    them; deleted files commit an overwrite (full-diff fallback signal)."""
    import os

    from archivesspace_virgo_spark.sources import wrap_parquet_dir

    src, log = str(tmp_path / "src"), str(tmp_path / "log")
    _corpus(spark, 0, 100).write.parquet(os.path.join(src, "b0"))
    t = wrap_parquet_dir(src, log)
    s1 = t.current_snapshot_id()
    assert t.read(spark, s1).count() == 100
    # no data copy: manifest points INTO the source dir
    assert all(e["path"].startswith(src) for e in t.snapshot(s1)["manifest"])

    # idempotent: re-wrapping an unchanged dir commits nothing
    assert wrap_parquet_dir(src, log).current_snapshot_id() == s1

    _corpus(spark, 100, 150).write.parquet(os.path.join(src, "b1"))
    t = wrap_parquet_dir(src, log)
    s2 = t.current_snapshot_id()
    d = t.diff(spark, s1, s2)
    assert d.count() == 50
    scanned = {os.path.basename(f) for f in d.inputFiles()}
    added = {os.path.basename(e["path"]) for e in t.snapshot(s2)["added"]}
    assert scanned and scanned <= added  # diff reads only the new files

    # deletion → overwrite snapshot → append-only incrementality broken
    import shutil
    shutil.rmtree(os.path.join(src, "b0"))
    t = wrap_parquet_dir(src, log)
    s3 = t.current_snapshot_id()
    assert t.snapshot(s3)["operation"] == "overwrite"
    assert t.has_overwrite_between(s2, s3)
    assert t.read(spark, s3).count() == 50


def test_read_iceberg_option_names():
    """Pin the real-Iceberg reader's option names with a mocked
    DataFrameReader (the jar is absent here; the cluster path must not
    drift)."""
    from archivesspace_virgo_spark.sources import read_iceberg

    class Rec:
        def __init__(self):
            self.fmt, self.opts, self.ident = None, {}, None

        def format(self, f):
            self.fmt = f
            return self

        def option(self, k, v):
            self.opts[k] = v
            return self

        def load(self, ident):
            self.ident = ident
            return "DF"

    class FakeSpark:
        def __init__(self, rec):
            self.read = rec

    rec = Rec()
    assert read_iceberg(FakeSpark(rec), "cat.db.corpus", snapshot_id=7) == "DF"
    assert rec.fmt == "iceberg"
    assert rec.opts == {"snapshot-id": "7"}
    assert rec.ident == "cat.db.corpus"

    rec2 = Rec()
    read_iceberg(FakeSpark(rec2), "cat.db.corpus", start_snapshot_id=3)
    assert rec2.opts == {"start-snapshot-id": "3"}

    class Broken:
        def format(self, f):
            raise RuntimeError("no iceberg jar")

    with pytest.raises(RuntimeError, match="Iceberg runtime not available"):
        read_iceberg(FakeSpark(Broken()), "cat.db.corpus")


def test_same_identity_appends_dedupe_on_full_paths(spark, tmp_path):
    """A table whose updates arrive as same-identity appends must index ONE
    doc per identity (newest commit) on the FULL-rebuild path and the
    overwrite-fallback path, not just the snapshot-diff path (ADVICE r2).
    """
    base = _corpus(spark, 0, 60)
    stale = _corpus(spark, 10, 20).withColumn("commit", F.lit("0-stale"))
    fresh = (
        _corpus(spark, 10, 20)
        .withColumn("commit", F.lit("z-fresh"))
        .withColumn("content", F.concat(F.col("content"), F.lit(" freshtoken")))
    )

    # --- first build over a table already containing duplicate identities
    t = SnapshotTable.create(str(tmp_path / "tbl"))
    t.append(base.unionByName(stale).unionByName(fresh))
    idx = str(tmp_path / "idx")
    meta = incremental_update_from_table(spark, t, idx, CFG)
    assert meta["mode"] == "full_rebuild"
    dm = IndexStorage(idx).read(spark, "doc_map")
    assert dm.count() == 60  # one row per identity
    assert dm.groupBy("repo", "path").count().filter("count > 1").count() == 0
    # the fresh version won: its token is findable
    hits = QueryEngine(spark, idx, CFG).search(["freshtoken"], k=20).count()
    assert hits == 10

    # --- overwrite fallback with duplicate identities in the new state
    t.overwrite(base.unionByName(stale).unionByName(fresh))
    # force the fallback classification to run (content unchanged -> noop
    # would hide the bug, so modify one doc too)
    meta = incremental_update_from_table(spark, t, idx, CFG)
    assert meta["mode"] in ("incremental", "noop")
    dm = IndexStorage(idx).read(spark, "doc_map")
    assert dm.count() == 60
    assert dm.groupBy("repo", "path").count().filter("count > 1").count() == 0


def test_stream_table_trigger(spark, tmp_path):
    from archivesspace_virgo_spark.streaming.incremental_stream import (
        stream_table_into_index,
    )

    t = SnapshotTable.create(str(tmp_path / "tbl"))
    t.append(_corpus(spark, 0, 100))
    idx = str(tmp_path / "idx")
    ckpt = str(tmp_path / "ckpt")
    q = stream_table_into_index(spark, t, idx, ckpt, CFG)
    q.awaitTermination(120)
    assert IndexStorage(idx).read(spark, "doc_map").count() == 100

    t.append(_corpus(spark, 100, 130))
    q = stream_table_into_index(spark, t, idx, ckpt, CFG)
    q.awaitTermination(120)
    assert IndexStorage(idx).read(spark, "doc_map").count() == 130
    c = IndexStorage(idx).read(spark, "doc_map")
    assert c.select(F.max("doc_id")).collect()[0][0] == 129


def test_expire_snapshots(spark, tmp_path):
    t = SnapshotTable.create(str(tmp_path / "tbl"))
    s1 = t.append(_corpus(spark, 0, 50).coalesce(1))
    s2 = t.overwrite(_corpus(spark, 50, 120).coalesce(1))
    s3 = t.append(_corpus(spark, 120, 140).coalesce(1))

    def n_data_files():
        return sum(
            1
            for root, _dirs, files in __import__("os").walk(t.data_dir)
            for f in files if f.endswith(".parquet")
        )

    assert n_data_files() == 3
    t.expire_snapshots(keep_from=s2)
    # s1's file is unreachable from s2.. -> physically removed
    assert n_data_files() == 2
    assert t.read(spark, s3).count() == 90
    assert t.read(spark, s2).count() == 70


def test_survivors_fetch_over_prune_cap(spark, tmp_path, monkeypatch):
    """When the survivors span more distinct repos than the bounded
    manifest-prune hand-off allows, the sync must fall back to a whole-
    snapshot read narrowed by the (broadcast) identity join — and produce
    the exact same index as a full rebuild.  Cap forced to 1 so the
    fallback actually runs."""
    from archivesspace_virgo_spark.index import incremental as inc

    monkeypatch.setattr(inc, "_MAX_PRUNE_KEYS", 1)
    t = SnapshotTable.create(str(tmp_path / "tbl"))
    # many distinct repos → survivors of any dirty shard span > 1 repo
    base = _corpus(spark, 0, 150).withColumn(
        "repo", F.concat(F.lit("repo-"), F.col("path"))
    )
    t.append(base)
    idx = str(tmp_path / "idx")
    assert incremental_update_from_table(spark, t, idx, CFG)["mode"] == "full_rebuild"

    mods = base.filter(
        F.regexp_extract("path", "doc/(\\d+)", 1).cast("int").between(10, 14)
    ).withColumn(
        "content", F.concat(F.col("content"), F.lit(" modified token"))
    ).withColumn("commit", F.sha2(F.concat(F.col("path"), F.lit("v2")), 256))
    t.append(mods)
    meta = incremental_update_from_table(spark, t, idx, CFG)
    assert meta["mode"] == "snapshot_diff" and meta["dirty_shards"]

    full_dir = str(tmp_path / "full")
    dm = IndexStorage(idx).read(spark, "doc_map").select("doc_id", "repo", "path")
    final = base.withColumn(
        "content",
        F.when(
            F.regexp_extract("path", "doc/(\\d+)", 1).cast("int").between(10, 14),
            F.concat(F.col("content"), F.lit(" modified token")),
        ).otherwise(F.col("content")),
    )
    build_index(spark, final.join(dm, ["repo", "path"]), full_dir, CFG,
                input_fingerprint="full")
    _assert_index_equal(spark, idx, full_dir)


def test_sync_stats_equal_a_fresh_build(spark, tmp_path):
    """After a snapshot-diff sync, and after a sync whose appended rows
    change no content, the index is three tables and a marker, and it
    serves the corpus and term stats of a fresh full build of the same
    snapshot."""
    t = SnapshotTable.create(str(tmp_path / "tbl"))
    t.append(_corpus(spark, 0, 150))
    idx = str(tmp_path / "idx")
    incremental_update_from_table(spark, t, idx, CFG)

    def assert_fresh(name):
        fresh = str(tmp_path / name)
        assert incremental_update_from_table(
            spark, t, fresh, CFG)["mode"] == "full_rebuild"
        assert sorted(os.listdir(idx)) == INDEX_LAYOUT
        got, want = index_stats(spark, idx, CFG), index_stats(spark, fresh, CFG)
        assert got[:2] == want[:2]

    t.append(_corpus(spark, 150, 180))
    assert incremental_update_from_table(spark, t, idx, CFG)["mode"] == "snapshot_diff"
    assert_fresh("fresh_diff")
    # same content under a newer commit: classified unchanged
    t.append(_corpus(spark, 0, 5).withColumn("commit", F.lit("z-same")))
    assert incremental_update_from_table(spark, t, idx, CFG)["mode"] == "noop_content"
    assert_fresh("fresh_noop")


def test_delta_with_reordered_columns_syncs_like_a_full_build(spark, tmp_path):
    """Reads declare the schema Spark infers, which follows one file's
    column order: a delta whose files list the columns in another order
    than the base files syncs to the index a full build of the final state
    gives."""
    t = SnapshotTable.create(str(tmp_path / "tbl"))
    t.append(_corpus(spark, 0, 150))
    idx = str(tmp_path / "idx")
    incremental_update_from_table(spark, t, idx, CFG)
    docnum = F.regexp_extract("path", "doc/(\\d+)", 1).cast("int")
    modify = lambda c: F.when(docnum.between(10, 14), F.concat(  # noqa: E731
        c, F.lit(" modified token"))).otherwise(c)
    delta = _corpus(spark, 150, 180).unionByName(
        _corpus(spark, 10, 15).withColumn("commit", F.lit("z-v2")))
    delta = delta.withColumn("content", modify(F.col("content")))
    t.append(delta.select(*reversed(delta.columns)))
    assert incremental_update_from_table(spark, t, idx, CFG)["mode"] == "snapshot_diff"

    full_dir = str(tmp_path / "full")
    dm = IndexStorage(idx).read(spark, "doc_map").select("doc_id", "repo", "path")
    final = _corpus(spark, 0, 180).withColumn("content", modify(F.col("content")))
    build_index(spark, final.join(dm, ["repo", "path"]), full_dir, CFG,
                input_fingerprint="full")
    _assert_index_equal(spark, idx, full_dir)


def test_declared_schemas_equal_inference(spark, tmp_path):
    """Every snapshot-table read and every index-table read declares the
    schema Spark infers from the footers: the same columns, order, types
    and nullability, whether a file was written by Spark or by pyarrow."""
    import datetime

    import pyarrow as pa
    import pyarrow.parquet as pq

    from archivesspace_virgo_spark.sources import wrap_parquet_dir

    # Spark-written files, the second in another column order
    t = SnapshotTable.create(str(tmp_path / "tbl"))
    s1 = t.append(_corpus(spark, 0, 60))
    base = _corpus(spark, 60, 90)
    s2 = t.append(base.select(*reversed(base.columns)))
    assert all("schema" in e for e in t.snapshot(s2)["manifest"])

    def inferred(entries):
        return spark.read.parquet(*[e["path"] for e in entries]).schema

    man = t.snapshot(s2)["manifest"]
    assert t.read(spark, s1).schema == inferred(t.snapshot(s1)["manifest"])
    assert t.read(spark, s2).schema == inferred(man)
    assert t.diff(spark, s1, s2).schema == inferred(t.snapshot(s2)["added"])
    repos = [r["repo"] for r in base.select("repo").distinct().collect()]
    pruned = t.read_pruned(spark, repos, s2)
    assert pruned.schema == spark.read.parquet(*pruned.inputFiles()).schema

    # pyarrow-written files: converted from the Arrow schema, except a
    # type Spark does not read as converted (null) or cannot (uint32),
    # which records no schema and is inferred
    ts = datetime.datetime(2024, 1, 2, 3, 4, 5)
    typed = pa.table({
        "repo": ["r"], "n": pa.array([1], pa.int16()), "x": [1.5],
        "at": pa.array([ts], pa.timestamp("us")),
        "at_utc": pa.array([ts], pa.timestamp("us", tz="UTC")),
        "tags": [["a", "b"]], "kv": [{"k": 1}],
    })
    for name, table in {
        "typed": typed,
        "with_null": typed.append_column("none", pa.nulls(1)),
        "with_uint": typed.append_column("u", pa.array([1], pa.uint32())),
    }.items():
        src = tmp_path / name
        src.mkdir()
        pq.write_table(table, str(src / "part-0.parquet"))
        w = wrap_parquet_dir(str(src), str(tmp_path / f"{name}_log"))
        entries = w.snapshot()["manifest"]
        assert ("schema" in entries[0]) == (name == "typed"), name
        assert w.read(spark).schema == inferred(entries), name

    # the index tables, over a corpus whose doc_id is an int
    idx = str(tmp_path / "idx")
    build_index(spark, _corpus(spark, 0, 90).withColumn(
        "doc_id", F.regexp_extract("path", "doc/(\\d+)", 1).cast("int")), idx, CFG)
    st = IndexStorage(idx)
    for table in ("doc_map", "doc_stats", "postings"):
        assert st.read(spark, table).schema == spark.read.parquet(st.path(table)).schema, table


def test_syncs_release_exactly_the_frames_they_persist(spark, tmp_path, monkeypatch):
    """Each sync path unpersists the frames it persisted, whether it
    rebuilds, rebuilds nothing or fails, and only those: an engine opened
    before the syncs keeps its cached postings.  The driver-hand-off cap is
    forced to 0, so every change set is classified and staged on disk, the
    path that persists frames."""
    from pyspark.sql import DataFrameWriter

    from archivesspace_virgo_spark.index import incremental as inc

    monkeypatch.setattr(inc, "_MAX_PRUNE_KEYS", 0)
    engine_dir = str(tmp_path / "engine_index")
    build_index(spark, _corpus(spark, 0, 100), engine_dir, CFG)
    engine = spark_executor_engine(spark, engine_dir, CFG)
    engine._postings_df().count()  # materialize its cached table
    jsc = spark.sparkContext._jsc
    persisted = jsc.getPersistentRDDs().size()
    assert persisted > 0

    t = SnapshotTable.create(str(tmp_path / "tbl"))
    t.append(_corpus(spark, 0, 150))
    idx = str(tmp_path / "sync_index")

    def sync(mode, run=lambda: incremental_update_from_table(spark, t, idx, CFG)):
        assert run()["mode"] == mode
        assert jsc.getPersistentRDDs().size() == persisted, mode

    sync("full_rebuild")
    t.append(_corpus(spark, 150, 170))
    sync("snapshot_diff")
    t.append(_corpus(spark, 0, 5).withColumn("commit", F.lit("z-same")))
    sync("noop_content")
    t.overwrite(_corpus(spark, 10, 170))
    sync("incremental")

    real = DataFrameWriter.parquet

    def failing(self, path, *args, **kwargs):
        real(self, path, *args, **kwargs)
        if "_staging" in path:
            raise RuntimeError("injected staging failure")

    t.append(_corpus(spark, 170, 180))
    with monkeypatch.context() as mp:
        mp.setattr(DataFrameWriter, "parquet", failing)
        with pytest.raises(RuntimeError, match="injected"):
            incremental_update_from_table(spark, t, idx, CFG)
    assert jsc.getPersistentRDDs().size() == persisted

    sync("incremental", lambda: incremental_update(
        spark, _corpus(spark, 10, 190), idx, CFG))
    assert engine._postings.storageLevel.useMemory


def test_failed_driver_decided_sync_leaves_the_index_as_it_was(spark, tmp_path, monkeypatch):
    """A sync decided on the driver that fails in one of the build's table
    writes persists nothing, keeps the committed marker and leaves no
    ``_staging`` directory."""
    from archivesspace_virgo_spark.index import incremental as inc

    t = SnapshotTable.create(str(tmp_path / "tbl"))
    t.append(_corpus(spark, 0, 150))
    idx = str(tmp_path / "idx")
    incremental_update_from_table(spark, t, idx, CFG)
    t.append(_corpus(spark, 150, 170))
    jsc = spark.sparkContext._jsc
    persisted = jsc.getPersistentRDDs().size()
    st = IndexStorage(idx)
    marker = st.read_commit()
    real = IndexStorage.write
    staged = []

    def failing(self, df, table, *args, **kwargs):
        if table == "doc_stats":
            raise RuntimeError("injected doc_stats write failure")
        real(self, df, table, *args, **kwargs)

    def stage(*args, **kwargs):
        staged.append(args)
        raise AssertionError("a small sync must not stage on disk")

    with monkeypatch.context() as mp:
        mp.setattr(IndexStorage, "write", failing)
        mp.setattr(inc, "_stage", stage)
        with pytest.raises(RuntimeError, match="injected"):
            incremental_update_from_table(spark, t, idx, CFG)
    assert not staged
    assert jsc.getPersistentRDDs().size() == persisted
    assert st.read_commit() == marker
    assert not os.path.exists(os.path.join(idx, "_staging"))


def test_crash_after_the_build_commit_keeps_the_snapshot_pin(spark, tmp_path, monkeypatch):
    """A sync whose process dies right after the build's marker write
    leaves the index pinned to the synced snapshot: the next sync diffs
    from it instead of rebuilding the whole index."""
    t = SnapshotTable.create(str(tmp_path / "tbl"))
    t.append(_corpus(spark, 0, 150))
    idx = str(tmp_path / "idx")
    incremental_update_from_table(spark, t, idx, CFG)
    t.append(_corpus(spark, 150, 170))

    real = IndexStorage.write_commit

    def dies_after_write(self, *args, **kwargs):
        real(self, *args, **kwargs)
        raise RuntimeError("process died after a marker write")

    with monkeypatch.context() as mp:
        mp.setattr(IndexStorage, "write_commit", dies_after_write)
        with pytest.raises(RuntimeError, match="process died"):
            incremental_update_from_table(spark, t, idx, CFG)
    assert not os.path.exists(os.path.join(idx, "_staging"))

    t.append(_corpus(spark, 170, 180))
    meta = incremental_update_from_table(spark, t, idx, CFG)
    assert meta["mode"] == "snapshot_diff"
    assert QueryEngine(spark, idx, CFG).n_docs == 180

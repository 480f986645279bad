"""A sync decides its change set on the driver when it is small and
distributed, staged on disk, when it is not; both give the same index.
A driver decision is also built on the driver (pyarrow writes), a disk
one through Spark.  Every sync below runs twice: as it is (the driver
path) and with the driver-hand-off cap forced to 0 (the disk path).
After each, every doc_map, doc_stats and postings row, every footer's
Spark schema and the commit marker (its build id and commit time aside)
must be identical, and the driver's files no larger than Spark's."""

import os

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from archivesspace_virgo_spark.config import IndexConfig
from archivesspace_virgo_spark.corpus import load_documents_as_corpus
from archivesspace_virgo_spark.index import incremental as inc
from archivesspace_virgo_spark.index.storage import IndexStorage
from archivesspace_virgo_spark.sources import SnapshotTable
from archivesspace_virgo_spark.sources.snapshot_table import footer_schema

from tests.conftest import SF_SMOKE

CFG = IndexConfig(docs_per_shard=64, block_size=16)
TABLES = ("doc_map", "doc_stats", "postings")


def _docnum():
    return F.regexp_extract("path", "doc/(\\d+)", 1).cast("int")


def _corpus(spark, lo, hi):
    c = load_documents_as_corpus(spark, SF_SMOKE).drop("doc_id")
    return c.filter(_docnum().between(lo, hi - 1))


def _pick(values):
    """One of ``values`` per doc, by doc number."""
    return F.element_at(F.array(*[F.lit(v) for v in values]), _docnum() % len(values) + 1)


def _appended(spark, lo, hi):
    """New files whose repos and paths order differently by code point
    than by any case- or accent-folding collation."""
    return (_corpus(spark, lo, hi)
            .withColumn("repo", _pick(["Zeta", "alpha", "Ärger", "émile", "日本"]))
            .withColumn("path", F.concat(_pick(["Z/", "a/", "é/", "ß/", "日/"]), "path")))


def _versions(df, *contents):
    """One row per (commit, content suffix): several commits of each
    identity, the newest commit carrying the last suffix."""
    out = None
    for i, suffix in enumerate(contents):
        v = (df.withColumn("commit", F.lit(f"{i}-commit"))
             .withColumn("content", F.concat("content", F.lit(suffix))))
        out = v if out is None else out.unionByName(v)
    return out


def _null_keys(spark):
    """New docs with a NULL repo, a NULL path and a NULL commit."""
    rows = _corpus(spark, 180, 183)
    return (rows.withColumn("repo", F.when(_docnum() == 180, None).otherwise(F.col("repo")))
            .withColumn("path", F.when(_docnum() == 181, None).otherwise(F.col("path")))
            .withColumn("commit", F.when(_docnum() == 182, None).otherwise(F.col("commit"))))


def _state(spark, idx):
    st = IndexStorage(idx)
    rows = {t: sorted(repr(tuple(r)) for r in st.read(spark, t).collect())
            for t in TABLES}
    schemas = {t: sorted({footer_schema(pq.ParquetFile(os.path.join(d, f)))
                          for d, _dirs, fs in os.walk(st.path(t))
                          for f in fs if f.endswith(".parquet")})
               for t in TABLES}
    marker = {k: v for k, v in st.read_commit().items()
              if k not in ("build_id", "committed_at")}
    return rows, schemas, marker


def _syncs(spark, root):
    """(metadata, index state) after each sync of one fixed sequence."""
    t = SnapshotTable.create(os.path.join(root, "tbl"))
    t.append(_corpus(spark, 0, 150))
    idx = os.path.join(root, "idx")
    table_sync = lambda: inc.incremental_update_from_table(  # noqa: E731
        spark, t, idx, CFG, build_id=f"sync{len(out)}")
    corpus_sync = lambda c: lambda: inc.incremental_update(  # noqa: E731
        spark, c, idx, CFG, build_id=f"sync{len(out)}")
    latest = _corpus(spark, 0, 140).unionByName(_null_keys(spark))
    steps = [
        ("full_rebuild", table_sync, None),
        # adds, and modifications and new docs with several commits each
        ("snapshot_diff", table_sync, lambda: t.append(
            _appended(spark, 150, 170)
            .unionByName(_versions(_corpus(spark, 10, 15), " older", " modified token"))
            .unionByName(_versions(_corpus(spark, 170, 172), "", " newest")))),
        # the same content under a newer commit
        ("noop_content", table_sync, lambda: t.append(
            _corpus(spark, 0, 5).withColumn("commit", F.lit("z-same")))),
        # an overwrite in range: deletions, a reverted modification, adds
        ("incremental", table_sync, lambda: t.overwrite(
            _corpus(spark, 0, 150).filter(~_docnum().between(20, 29))
            .unionByName(_appended(spark, 150, 175)))),
        # the whole corpus, with deletions and NULL keys; then again, which
        # changes nothing: a NULL repo or path is part of an identity
        ("incremental", corpus_sync(latest), None),
        ("noop", corpus_sync(latest), None),
    ]
    out = []
    for mode, sync, before in steps:
        if before is not None:
            before()
        meta = sync()
        assert meta["mode"] == mode, (len(out), meta)
        out.append((meta, _state(spark, idx), _files(idx)))
    return out


def _files(idx):
    """{table: (parquet bytes, row groups per file)}."""
    out = {}
    for t in TABLES:
        paths = [os.path.join(d, f) for d, _dirs, fs in os.walk(os.path.join(idx, t))
                 for f in fs if f.endswith(".parquet")]
        out[t] = (sum(os.path.getsize(p) for p in paths),
                  {pq.read_metadata(p).num_row_groups for p in paths})
    return out


def test_driver_and_disk_syncs_build_the_same_index(spark, tmp_path, monkeypatch):
    driver = _syncs(spark, str(tmp_path / "driver"))
    monkeypatch.setattr(inc, "_MAX_PRUNE_KEYS", 0)
    disk = _syncs(spark, str(tmp_path / "disk"))

    # a sync that changes nothing is decided on the driver under any cap
    assert [m.get("staging") for m, _s, _f in driver] == [None] + ["driver"] * 5
    assert [m.get("staging") for m, _s, _f in disk] == [
        None, "disk", "driver", "disk", "disk", "driver"]
    counts = ("dirty_shards", "n_docs", "shards", "changed", "added", "deleted",
              "survivors")
    for i, ((dm, ds, df), (km, ks, kf)) in enumerate(zip(driver, disk)):
        assert [dm.get(c) for c in counts] == [km.get(c) for c in counts], i
        for got, want in zip(ds, ks):
            assert got == want, i
        # the driver's pyarrow files against Spark's: no larger, one row
        # group each
        for t in TABLES:
            assert df[t][0] <= kf[t][0], (i, t, df[t], kf[t])
            assert df[t][1] == {1}, (i, t)

    # the driver build wrote files: the first sync's are Spark's
    assert driver[1][2] != disk[1][2]
    diff = driver[1][0]
    assert (diff["changed"], diff["added"], diff["deleted"]) == (27, 22, 0)
    assert diff["survivors"] == diff["n_docs"] - 27
    overwrite = driver[3][0]
    assert overwrite["deleted"] == 10 + 2  # docs 20-29 and the 2 multi-commit docs
    nulls = driver[5][0]
    assert (nulls["changed"], nulls["added"], nulls["deleted"]) == (0, 0, 0)


CFG_FIELDS = IndexConfig(docs_per_shard=64, block_size=16, fields=("content", "lang"))


def _odd_fields(spark, lo, hi):
    """New docs whose content lowers only under Unicode rules (the Kelvin
    sign, a dotted capital I, sharp s), or is empty or NULL; lang too."""
    return (_corpus(spark, lo, hi)
            .withColumn("content", _pick(["K İstanbul Straße ẞ", "ǅemal ﬁle KELVIN",
                                          "", None]))
            .withColumn("lang", _pick([None, "", "İT", "en"])))


def _field_syncs(spark, root):
    """(metadata, index state) after each sync over two indexed fields:
    odd field values added, then an overwrite that modifies one doc and
    deletes every doc of shard 1."""
    t = SnapshotTable.create(os.path.join(root, "tbl"))
    t.append(_corpus(spark, 0, 150))
    idx = os.path.join(root, "idx")
    out = []

    def sync():
        meta = inc.incremental_update_from_table(spark, t, idx, CFG_FIELDS,
                                                 build_id=f"sync{len(out)}")
        out.append((meta, _state(spark, idx)))

    sync()
    t.append(_odd_fields(spark, 150, 158))
    sync()
    paths = {s: [r["path"] for r in IndexStorage(idx).read(spark, "doc_map")
                 .filter(F.col("doc_shard") == s).collect()] for s in (0, 1)}
    t.overwrite(_corpus(spark, 0, 150).filter(~F.col("path").isin(paths[1]))
                .withColumn("content", F.when(F.col("path") == paths[0][0],
                                              F.lit("modified token"))
                            .otherwise(F.col("content")))
                .unionByName(_odd_fields(spark, 150, 158)))
    sync()
    return out


def test_driver_and_spark_builds_count_tokens_alike(spark, tmp_path, monkeypatch):
    """doc_stats' dl and the marker's token totals come from the pack
    kernel's counts on the driver and from ``regexp_count`` in Spark: they
    agree on content that lowers only under Unicode rules and on empty and
    NULL fields.  A shard emptied by deletions is dropped on both paths."""
    driver = _field_syncs(spark, str(tmp_path / "driver"))
    monkeypatch.setattr(inc, "_MAX_PRUNE_KEYS", 0)
    disk = _field_syncs(spark, str(tmp_path / "disk"))

    assert [m["mode"] for m, _s in driver] == ["full_rebuild", "snapshot_diff",
                                               "incremental"]
    assert [m.get("staging") for m, _s in driver] == [None, "driver", "driver"]
    assert [m.get("staging") for m, _s in disk] == [None, "disk", "disk"]
    for i, ((_dm, ds), (_km, ks)) in enumerate(zip(driver, disk)):
        for got, want in zip(ds, ks):
            assert got == want, i
    # the odd docs' lengths are not all 0: "k", "i", "stanbul", "stra", "e"
    marker = driver[1][1][2]
    assert marker["shards"]["2"]["tokens"]["content"] > 0
    overwrite = driver[2][0]
    assert overwrite["dirty_shards"] == [0, 1] and overwrite["shards"] == [0]
    assert "1" not in driver[2][1][2]["shards"]
    for t in TABLES:
        assert not os.path.exists(os.path.join(str(tmp_path / "driver"), "idx", t,
                                               "doc_shard=1"))


@pytest.mark.parametrize("staging", ["driver", "disk"])
def test_a_null_repo_or_path_keeps_its_identity(spark, tmp_path, monkeypatch, staging):
    """A doc whose path, or repo, is NULL is one identity like any other:
    a sync that modifies a doc of its shard rebuilds it under its id (the
    NULL repo's survivor read falls back from the manifest pruning), and
    a sync of the unchanged corpus with deletions changes nothing."""
    if staging == "disk":
        monkeypatch.setattr(inc, "_MAX_PRUNE_KEYS", 0)
    t = SnapshotTable.create(str(tmp_path / "tbl"))
    t.append(_corpus(spark, 0, 40)
             .withColumn("repo", F.when(_docnum() == 9, None).otherwise(F.col("repo")))
             .withColumn("path", F.when(_docnum() == 7, None).otherwise(F.col("path"))))
    idx = str(tmp_path / "idx")
    inc.incremental_update_from_table(spark, t, idx, CFG)
    st = IndexStorage(idx)
    ids = {(r["repo"], r["path"]): r["doc_id"] for r in st.read(spark, "doc_map").collect()}
    assert None in {p for _r, p in ids} and None in {r for r, _p in ids}

    t.append(_corpus(spark, 3, 4).withColumn("content", F.concat("content", F.lit(" edit")))
             .withColumn("commit", F.lit("z-v2")))
    meta = inc.incremental_update_from_table(spark, t, idx, CFG)
    assert (meta["staging"], meta["dirty_shards"], meta["n_docs"]) == (staging, [0], 40)
    assert {(r["repo"], r["path"]): r["doc_id"]
            for r in st.read(spark, "doc_map").collect()} == ids

    meta = inc.incremental_update(spark, t.read(spark), idx, CFG)
    assert meta["mode"] == "noop"
    assert (meta["changed"], meta["added"], meta["deleted"]) == (0, 0, 0)

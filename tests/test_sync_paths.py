"""A sync decides its change set on the driver when it is small and
distributed, staged on disk, when it is not; both give the same index.
Every sync below runs twice: as it is (the driver path) and with the
driver-hand-off cap forced to 0 (the disk path).  After each, every
doc_map, doc_stats and postings row, every footer's Spark schema and the
commit marker (its build id and commit time aside) must be identical."""

import os

import pyarrow.parquet as pq
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
        # re-adds the docs whose identity holds a NULL
        ("incremental", corpus_sync(latest), None),
        ("incremental", corpus_sync(latest), None),
    ]
    out = []
    for mode, sync, before in steps:
        if before is not None:
            before()
        meta = sync()
        assert meta["mode"] == mode, (len(out), meta)
        out.append((meta, _state(spark, idx)))
    return out


def test_driver_and_disk_syncs_build_the_same_index(spark, tmp_path, monkeypatch):
    driver = _syncs(spark, str(tmp_path / "driver"))
    monkeypatch.setattr(inc, "_MAX_PRUNE_KEYS", 0)
    disk = _syncs(spark, str(tmp_path / "disk"))

    # a sync that changes nothing is decided on the driver under any cap
    assert [m.get("staging") for m, _s in driver] == [None] + ["driver"] * 5
    assert [m.get("staging") for m, _s in disk] == [
        None, "disk", "driver", "disk", "disk", "disk"]
    counts = ("dirty_shards", "n_docs", "shards", "changed", "added", "deleted",
              "survivors")
    for i, ((dm, ds), (km, ks)) in enumerate(zip(driver, disk)):
        assert [dm.get(c) for c in counts] == [km.get(c) for c in counts], i
        for got, want in zip(ds, ks):
            assert got == want, i

    diff = driver[1][0]
    assert (diff["changed"], diff["added"], diff["deleted"]) == (27, 22, 0)
    assert diff["survivors"] == diff["n_docs"] - 27
    overwrite = driver[3][0]
    assert overwrite["deleted"] == 10 + 2  # docs 20-29 and the 2 multi-commit docs
    nulls = driver[5][0]
    assert (nulls["changed"], nulls["added"], nulls["deleted"]) == (2, 2, 2)

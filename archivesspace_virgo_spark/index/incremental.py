"""Incremental index maintenance (SURVEY.md §2.8-T12, §3.1).

The reference's incremental path (IndexRecords.java:64-75, 136-170) detects
changed records in a time window, expands the dirty set through dependency
joins, and reindexes exactly that set.  Every sync here goes through ONE
merge step, ``_merge(delta, source, deletions)``, which does each once:

1. resolve same-identity ``(repo, path)`` rows to the newest commit and
   attach ``sha256(content)``, the change detector (the reference's md5-hash
   discipline, IndexRecordsForV4.java:157);
2. classify (``detect_changes``) with a delta-sized left join against an
   id-only ``doc_map`` projection; added rows get ids above the stored max;
3. collect the dirty shards once — a changed/added/deleted doc dirties its
   whole doc_shard, the index's unit of rebuild;
4. take the dirty shards' surviving docs' ids from ``doc_map`` and their
   current rows from the caller's source;
5. stage the rebuild rows and call ``build_index(only_shards=dirty)``, which
   replaces exactly those shards (dropping any that deletions emptied) and
   re-aggregates lexicon/corpus_stats from the per-shard summaries.

The callers differ only in delta, source and deletions:
``incremental_update(new_corpus)`` passes the whole corpus as both, with
deletions (O(corpus), for one-shot merges); ``incremental_update_from_table``
over an append-only snapshot range passes ``table.diff`` — ONLY the files
appended since the last indexed snapshot — with a manifest-pruned read as
source and no deletions, so a sync costs |delta| + |dirty shards|, not the
corpus; an overwrite in range (which breaks append-only incrementality, the
Iceberg contract) passes the whole snapshot, with deletions.

Identity rules: unchanged docs keep their doc_id (rank stability); new docs
get ids above the previous max (they land in tail shards); deleted ids are
never reused (shards may go sparse — scoring tolerates holes).
"""

from __future__ import annotations

import os
import shutil
import uuid
from typing import Callable, Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from archivesspace_virgo_spark.config import IndexConfig
from archivesspace_virgo_spark.corpus import assign_doc_ids, with_content_sha
from archivesspace_virgo_spark.index.build import build_index
from archivesspace_virgo_spark.index.storage import IndexStorage

IDENTITY = ["repo", "path"]

# Cap on the distinct-repo list collected for manifest file-pruning in the
# survivors fetch.  Below it, the driver hand-off is tiny and pruning skips
# files; above it, the snapshot is read whole and the (broadcast) identity
# join narrows it distributed — never an unbounded driver list.
_MAX_PRUNE_KEYS = 10_000


def _resolve_identities(df: DataFrame) -> DataFrame:
    """Resolve multiple same-identity rows to the newest commit and attach
    ``content_sha256``.

    A snapshot table whose updates arrive as same-identity appends presents
    several versions of one (repo, path) in a full read; indexing them all
    would give doc_map two rows per identity (first build) or merge two
    source rows into one doc_id (modified-classification fan-out) —
    corrupted postings either way.  Every corpus fed to build_index or
    detect_changes funnels through here (ordering by commit string is
    arbitrary but deterministic).  Inputs without a ``commit`` column
    (already-resolved corpora) skip the window.
    """
    if "commit" in df.columns:
        from pyspark.sql.window import Window

        w = Window.partitionBy(*IDENTITY).orderBy(F.desc("commit"))
        df = (
            df.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1).drop("_rn")
        )
    return df if "content_sha256" in df.columns else with_content_sha(df)


def detect_changes(spark: SparkSession, new_corpus: DataFrame, index_dir: str) -> dict:
    """Classify new_corpus rows (one per identity) vs the stored doc_map.

    Returns dict of DataFrames: modified / added (carrying doc_id; added ids
    are dense above the stored max) and deleted (stored doc_ids whose
    identity is absent from ``new_corpus`` — meaningful only when it is the
    whole corpus).  All three are lazy except the max-id read.
    """
    old = IndexStorage(index_dir).read(spark, "doc_map").select(
        *IDENTITY, F.col("doc_id").alias("_old_id"),
        F.col("content_sha256").alias("_old_sha"),
    )
    new = new_corpus if "content_sha256" in new_corpus.columns else with_content_sha(new_corpus)
    # |new| rows vs an id-only doc_map projection: the join is bounded by
    # the delta, never the corpus bytes (AQE broadcasts the smaller side)
    joined = new.join(old, IDENTITY, "left")
    modified = joined.filter(
        F.col("_old_id").isNotNull()
        & (F.col("content_sha256") != F.col("_old_sha"))
    ).withColumn("doc_id", F.col("_old_id"))
    deleted = old.join(new.select(*IDENTITY), IDENTITY, "left_anti").select(
        F.col("_old_id").alias("doc_id")
    )

    max_old = old.agg(F.max("_old_id")).collect()[0][0]
    base = (max_old if max_old is not None else -1) + 1
    # two-phase prefix-sum id assignment with a base offset: a first
    # backfill or bulk append IS the common case at scale, so the added set
    # must never funnel through a single un-partitioned window task
    added = assign_doc_ids(joined.filter(F.col("_old_id").isNull()), base=base)

    drop = ["_old_id", "_old_sha"]
    return {
        "modified": modified.drop(*drop),
        "added": added.drop(*drop),
        "deleted": deleted,
    }


def _merge(spark: SparkSession, index_dir: str, config: IndexConfig,
           delta: DataFrame, source: Callable[[DataFrame], Optional[DataFrame]],
           deletions: bool, build_id: Optional[str],
           input_fingerprint: Optional[str]) -> dict:
    """The one incremental merge: classify ``delta`` against doc_map and
    rebuild exactly the dirty shards.  ``source(survivors_map)`` returns the
    current rows to draw the dirty shards' surviving docs from (or None when
    none can survive); ``survivors_map`` is their (repo, path, doc_id).
    Returns build_index's metadata plus ``dirty_shards`` (empty: nothing to
    do, nothing written)."""
    ch = detect_changes(spark, _resolve_identities(delta), index_dir)
    changed = ch["modified"].unionByName(ch["added"], allowMissingColumns=True)
    shard = lambda c: (c / F.lit(config.docs_per_shard)).cast("int")  # noqa: E731
    dirty_ids = changed.select("doc_id")
    if deletions:
        dirty_ids = dirty_ids.union(ch["deleted"])
    dirty = dirty_ids.select(shard(F.col("doc_id")).alias("s")).distinct()
    dirty_shards = sorted(r["s"] for r in dirty.collect())
    if not dirty_shards:
        return {"shards": [], "n_docs": 0, "dirty_shards": []}

    # surviving docs of dirty shards whose content is NOT in the delta: ids
    # from doc_map, rows from the caller's source (deleted identities are
    # absent from it, so the inner join drops them)
    survivors_map = (
        IndexStorage(index_dir).read(spark, "doc_map")
        .filter(shard(F.col("doc_id")).isin(dirty_shards))
        .join(changed.select(*IDENTITY), IDENTITY, "left_anti")
        .select(*IDENTITY, "doc_id")
    )
    rebuild = changed
    rows = source(survivors_map)
    if rows is not None:
        # stored ids win over any carried ids
        rows = _resolve_identities(rows).drop("doc_id")
        rebuild = rows.join(survivors_map, IDENTITY).unionByName(
            changed, allowMissingColumns=True
        )

    # STAGE the rebuild rows before touching the index: the lazy `rebuild`
    # plan reads doc_map, which build_index is about to overwrite — you must
    # never overwrite a table a live plan still scans (Iceberg gets this via
    # snapshot isolation; plain parquet needs an explicit staging write).
    staging = os.path.join(index_dir, "_staging", uuid.uuid4().hex[:12])
    try:
        rebuild.write.mode("overwrite").parquet(staging)
        meta = build_index(
            spark, spark.read.parquet(staging), index_dir, config,
            build_id=build_id, input_fingerprint=input_fingerprint,
            only_shards=dirty_shards,
        )
    finally:
        shutil.rmtree(staging, ignore_errors=True)
        spark.catalog.refreshByPath(index_dir)
    meta["dirty_shards"] = dirty_shards
    return meta


def incremental_update_from_table(
    spark: SparkSession,
    table,
    index_dir: str,
    config: Optional[IndexConfig] = None,
    build_id: Optional[str] = None,
) -> dict:
    """Sync the index to a SnapshotTable's current snapshot.

    - first build / config change → snapshot-pinned full rebuild;
    - overwrite in range → the merge over the whole snapshot, with
      deletions;
    - otherwise → **snapshot-diff merge**: the delta is only the files
      appended since the last indexed snapshot, and the dirty shards'
      surviving docs come from a manifest-pruned scan.

    The committed marker records ``corpus_snapshot_id`` so every build is
    pinned to (and resumable against) one immutable corpus version — the
    reference's persist-hash-after-upload discipline
    (IndexRecordsForV4.java:116-125) applied to the input side.
    """
    config = config or IndexConfig()
    storage = IndexStorage(index_dir)
    current = table.current_snapshot_id()
    commit = storage.read_commit()
    last = commit.get("corpus_snapshot_id") if commit else None
    fingerprint = f"snap-{current}"

    def _pin(meta: dict, mode: str) -> dict:
        storage.write_commit(
            config, meta.get("build_id") or build_id or "sync",
            {"input_fingerprint": fingerprint, "corpus_snapshot_id": current},
        )
        meta["mode"] = mode
        meta["corpus_snapshot_id"] = current
        return meta

    if last is None or not storage.is_committed_with(config):
        corpus = _resolve_identities(table.read(spark, current))
        meta = build_index(spark, corpus, index_dir, config, build_id=build_id,
                           input_fingerprint=fingerprint)
        return _pin(meta, "full_rebuild")
    if last == current:
        return {"mode": "noop", "shards": [], "n_docs": 0,
                "corpus_snapshot_id": current}
    if table.has_overwrite_between(last, current):
        # overwrite breaks append-only incrementality (Iceberg contract):
        # deletions/updates may hide anywhere → the whole snapshot is delta
        snapshot = table.read(spark, current)
        meta = _merge(spark, index_dir, config, snapshot, lambda _: snapshot,
                      True, build_id, fingerprint)
        return _pin(meta, "incremental" if meta["dirty_shards"] else "noop")

    def pruned(survivors_map: DataFrame) -> Optional[DataFrame]:
        # Manifest file-pruning needs the distinct survivor repos driver-side
        # (that's Iceberg planning — manifests live on the driver), but the
        # hand-off must stay BOUNDED: a delta touching many shards of a
        # many-repo corpus could otherwise collect an unbounded repo list.
        # limit(cap+1) caps the collect; past the cap, per-repo file pruning
        # can't skip much anyway, so read the whole snapshot and let the
        # identity join (survivors_map is the small, bounded side — AQE
        # broadcasts it) do the narrowing distributed.
        keys = [r["repo"] for r in survivors_map.select("repo").distinct()
                .limit(_MAX_PRUNE_KEYS + 1).collect()]
        if not keys:
            return None
        if len(keys) > _MAX_PRUNE_KEYS:
            return table.read(spark, current)
        return table.read_pruned(spark, keys, current)

    meta = _merge(spark, index_dir, config, table.diff(spark, last, current),
                  pruned, False, build_id, fingerprint)
    return _pin(meta, "snapshot_diff" if meta["dirty_shards"] else "noop_content")


def incremental_update(
    spark: SparkSession,
    new_corpus: DataFrame,
    index_dir: str,
    config: Optional[IndexConfig] = None,
    build_id: Optional[str] = None,
    input_fingerprint: Optional[str] = None,
) -> dict:
    """Merge corpus changes into an existing index; returns build metadata
    plus the dirty-shard list.  Falls back to implicit full rebuild when the
    stored config hash differs (reference: transform-hash change forces full
    reindex, IndexRecordsForV4.java:44-64).

    SCALE NOTE: the delta here is the whole of ``new_corpus``, so its scan
    cost is O(corpus).  For repeated syncs use
    ``incremental_update_from_table`` over a SnapshotTable (or
    ``sources.wrap_parquet_dir`` for a plain directory), which scans only
    the files appended since the last sync; this function remains the
    correct tool exactly where full-corpus semantics are required (ad-hoc
    one-shot merges)."""
    config = config or IndexConfig()
    if not IndexStorage(index_dir).is_committed_with(config):
        meta = build_index(spark, _resolve_identities(new_corpus), index_dir, config,
                           build_id=build_id, input_fingerprint=input_fingerprint)
        meta["mode"] = "full_rebuild"
        return meta
    meta = _merge(spark, index_dir, config, new_corpus, lambda _: new_corpus,
                  True, build_id, input_fingerprint)
    meta["mode"] = "incremental" if meta["dirty_shards"] else "noop"
    return meta

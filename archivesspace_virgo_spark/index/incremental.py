"""Incremental index maintenance (SURVEY.md §2.8-T12, §3.1).

The reference's incremental path (IndexRecords.java:64-75, 136-170) detects
changed records in a time window, expands the dirty set through dependency
joins, and reindexes exactly that set.  Every sync here goes through ONE
merge step, ``_merge(delta, source, deletions)``:

1. resolve same-identity ``(repo, path)`` rows to the newest commit and
   attach ``sha256(content)``, the change detector (the reference's md5-hash
   discipline, IndexRecordsForV4.java:157);
2. classify the delta with a delta-sized left join against an id-only
   ``doc_map`` projection: its changed rows have a new identity (added) or
   new content (modified); with deletions, the stored ids whose identity
   the delta lacks are deleted.  Modified docs keep their ids; added docs
   get ids from the marker's ``next_doc_id`` up, by rank in
   ``(repo, path, commit)`` order;
3. a changed, added or deleted doc dirties its whole doc_shard, the
   index's unit of rebuild;
4. the rebuild rows are the changed rows plus the dirty shards' surviving
   docs: their ids from ``doc_map`` (a read pruned to the dirty
   ``doc_shard`` partitions), their current rows from the caller's source;
5. ``build_index(only_shards=dirty)`` over them replaces exactly those
   shards (dropping any that deletions emptied) and commits a marker whose
   manifest replaces only their entries.

Steps 2-4 run one of two ways, chosen by the sizes the sync observes:

- **driver** (a small change set, the steady state): two bounded collects
  decide everything.  The changed keys (and the deleted ids) come back
  under ``_MAX_PRUNE_KEYS``; the driver numbers the added docs, exactly as
  ``assign_doc_ids`` does, and derives the dirty shards.  If the marker's
  ``n_docs`` over those shards fits the same cap, it collects the
  survivors' ids.  The rebuild rows are the delta and the source joined
  to Arrow local relations of ids: they read no index table, so the build
  reads them as they are, sized by the per-shard counts the driver holds.
- **disk** (past the cap): ``_stage`` classifies distributed, with
  ``detect_changes``' two-phase id assignment.  It persists three frames,
  each evaluated once (the changed rows, the changed set with its ids, the
  survivors' ids), and stages the rebuild rows under ``_staging``.  Their
  plan reads doc_map, which the build overwrites, and persisted blocks are
  no snapshot (a lost block is recomputed from the live files), so the
  rows must be on disk before the build starts.  ``_stage`` unpersists
  exactly its frames when it returns or raises.

Every read on the way declares its schema, as Spark would infer it, so
none runs a footer-reading inference job: the snapshot table's from its
manifest, doc_map's from a footer read on the driver, the staged rows'
from the frame that wrote them.

The callers differ only in delta, source and deletions:
``incremental_update(new_corpus)`` passes the whole corpus as both, with
deletions (O(corpus), for one-shot merges); ``incremental_update_from_table``
over an append-only snapshot range passes ``table.diff`` — ONLY the files
appended since the last indexed snapshot — with a manifest-pruned read as
source and no deletions, so a sync costs |delta| + |dirty shards|, not the
corpus; an overwrite in range (which breaks append-only incrementality, the
Iceberg contract) passes the whole snapshot, with deletions.  A source
never reads the index's own tables.

Identity rules: unchanged docs keep their doc_id (rank stability); new docs
get ids from ``next_doc_id`` up (they land in tail shards); deleted ids are
never reused (shards may go sparse — scoring tolerates holes).
"""

from __future__ import annotations

import contextlib
import json
import logging
import os
import shutil
from typing import Callable, List, NamedTuple, Optional, Tuple

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from archivesspace_virgo_spark.config import IndexConfig
from archivesspace_virgo_spark.corpus import KEY_COLUMNS, assign_doc_ids, with_content_sha
from archivesspace_virgo_spark.index.build import build_index
from archivesspace_virgo_spark.index.storage import IndexStorage

log = logging.getLogger(__name__)

IDENTITY = ["repo", "path"]

# Cap on every driver hand-off of a sync: the changed keys, deleted ids and
# survivors' ids a small sync decides on the driver, and the distinct
# survivor repos collected for manifest file-pruning.  Above it the work is
# distributed instead — never an unbounded driver list.
_MAX_PRUNE_KEYS = 10_000

#: the survivors' distinct repos, or None past ``_MAX_PRUNE_KEYS``
Repos = Callable[[], Optional[List[str]]]


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


def _classify(spark: SparkSession, new: DataFrame,
              index_dir: str) -> Tuple[DataFrame, DataFrame]:
    """``new``'s changed rows (new identity or new content) with the stored
    ``_old_id`` (null: added) and ``_old_sha``, and the stored doc_ids whose
    identity ``new`` lacks.  Both lazy."""
    old = IndexStorage(index_dir).read(spark, "doc_map").select(
        *IDENTITY, F.col("doc_id").alias("_old_id"),
        F.col("content_sha256").alias("_old_sha"),
    )
    new = new if "content_sha256" in new.columns else with_content_sha(new)
    # |new| rows vs an id-only doc_map projection: the join is bounded by
    # the delta, never the corpus bytes (AQE broadcasts the smaller side)
    diff = new.join(old, IDENTITY, "left").filter(
        F.col("_old_id").isNull() | (F.col("content_sha256") != F.col("_old_sha"))
    )
    deleted = old.join(new.select(*IDENTITY), IDENTITY, "left_anti").select(
        F.col("_old_id").alias("doc_id")
    )
    return diff, deleted


def detect_changes(spark: SparkSession, new_corpus: DataFrame, index_dir: str,
                   _hold: Callable[[DataFrame], DataFrame] = lambda df: df) -> dict:
    """Classify new_corpus rows (one per identity) vs the stored doc_map.

    Returns dict of DataFrames: modified / added (carrying doc_id; added ids
    are dense from the committed ``next_doc_id`` up) and deleted (stored
    doc_ids whose identity is absent from ``new_corpus`` — meaningful only
    when it is the whole corpus).  All three are lazy; modified and added
    both read the changed rows (new identity or new content), which pass
    through ``_hold`` once (internal: the merge persists them there).
    """
    diff, deleted = _classify(spark, new_corpus, index_dir)
    diff = _hold(diff)
    modified = diff.filter(F.col("_old_id").isNotNull()).withColumn(
        "doc_id", F.col("_old_id"))

    base = IndexStorage(index_dir).read_commit()["next_doc_id"]
    # two-phase prefix-sum id assignment with a base offset: a first
    # backfill or bulk append IS the common case at scale, so the added set
    # must never funnel through a single un-partitioned window task
    added = assign_doc_ids(diff.filter(F.col("_old_id").isNull()), base=base)

    drop = ["_old_id", "_old_sha"]
    return {
        "modified": modified.drop(*drop),
        "added": added.drop(*drop),
        "deleted": deleted,
    }


class _Rebuild(NamedTuple):
    """A merge's decision: the path that made it (``driver`` or ``disk``),
    the dirty shards, the rows that rebuild them (None when none is dirty),
    their per-shard ``(doc_shard, count, max doc_id)`` when the driver
    holds them, and the changed / added / deleted counts."""
    staging: str
    dirty: List[int]
    rows: Optional[DataFrame]
    sizes: Optional[List[Tuple[int, int, int]]]
    counts: dict


def _nulls_first(row) -> tuple:
    """Sort key of a key row in Spark's ascending order, NULLs first."""
    return tuple((v is not None, "" if v is None else v)
                 for v in (row[c] for c in KEY_COLUMNS))


def _join_ids(spark: SparkSession, rows: DataFrame,
              ids: List[Tuple[Optional[str], Optional[str], int]]) -> DataFrame:
    """``rows`` (one per identity) with the doc_ids of the ``(repo, path,
    doc_id)`` triples ``ids``, an Arrow local relation: the rows whose
    identity is listed, NULL keys matching NULL (a changed row's identity
    can hold one)."""
    local = spark.createDataFrame(pa.table({
        "_repo": pa.array([r for r, _p, _i in ids], pa.string()),
        "_path": pa.array([p for _r, p, _i in ids], pa.string()),
        "doc_id": pa.array([i for _r, _p, i in ids], pa.int64()),
    }))
    on = F.col("repo").eqNullSafe(F.col("_repo")) & F.col("path").eqNullSafe(F.col("_path"))
    return rows.drop("doc_id").join(local, on).drop("_repo", "_path")


def _decide_on_driver(spark: SparkSession, index_dir: str, config: IndexConfig,
                      delta: DataFrame, source: Callable[[Repos], Optional[DataFrame]],
                      deletions: bool) -> Optional[_Rebuild]:
    """Steps 2-4 of the merge in two bounded collects; None when the changed
    keys, the deleted ids or the dirty shards' docs exceed
    ``_MAX_PRUNE_KEYS``, and nothing is decided."""
    cap = _MAX_PRUNE_KEYS
    storage = IndexStorage(index_dir)
    diff, deleted = _classify(spark, delta, index_dir)
    keys = diff.select(*KEY_COLUMNS, "_old_id").limit(cap + 1).collect()
    if len(keys) > cap:
        return None
    gone = deleted.limit(cap + 1).collect() if deletions else []
    if len(gone) > cap:
        return None
    # an added doc's id is next_doc_id plus its rank in (repo, path, commit)
    # order, NULLs first: the ids assign_doc_ids computes
    added = sorted((k for k in keys if k["_old_id"] is None), key=_nulls_first)
    base = storage.read_commit()["next_doc_id"]
    ids = [(k["repo"], k["path"], k["_old_id"]) for k in keys
           if k["_old_id"] is not None]
    ids += [(k["repo"], k["path"], base + i) for i, k in enumerate(added)]
    gone = {r["doc_id"] for r in gone}
    counts = {"changed": len(ids), "added": len(added), "deleted": len(gone)}
    per = config.docs_per_shard
    dirty = sorted({i // per for _r, _p, i in ids} | {i // per for i in gone})
    if not dirty:
        return _Rebuild("driver", [], None, None, counts)
    entries = storage.shards()
    if sum(entries[s]["n_docs"] for s in dirty if s in entries) > cap:
        return None

    # the dirty shards' docs neither changed nor deleted; a NULL identity
    # joins no source row, so it cannot survive
    changed = {(r, p) for r, p, _i in ids}
    survivors = [
        (r["repo"], r["path"], r["doc_id"]) for r in
        storage.read(spark, "doc_map").filter(F.col("doc_shard").isin(dirty))
        .select(*IDENTITY, "doc_id").collect()
        if r["repo"] is not None and r["path"] is not None
        and (r["repo"], r["path"]) not in changed and r["doc_id"] not in gone
    ]
    rows = _join_ids(spark, delta, ids)
    current = source(lambda: sorted({r for r, _p, _i in survivors})) if survivors else None
    if current is None:
        survivors = []
    else:
        rows = _join_ids(spark, _resolve_identities(current), survivors).unionByName(
            rows, allowMissingColumns=True)
    sizes: dict = {}
    for _r, _p, i in ids + survivors:
        n, hi = sizes.get(i // per, (0, i))
        sizes[i // per] = (n + 1, max(hi, i))
    return _Rebuild("driver", dirty, rows,
                    [(s, n, hi) for s, (n, hi) in sorted(sizes.items())], counts)


def _stage(spark: SparkSession, index_dir: str, config: IndexConfig,
           delta: DataFrame, source: Callable[[Repos], Optional[DataFrame]],
           deletions: bool, staging: str) -> _Rebuild:
    """Steps 2-4 of the merge, distributed: classify ``delta``, collect the
    per-shard counts of its changes and write the dirty shards' rebuild
    rows to ``staging`` (nothing, when nothing changed).
    The frames it persists are unpersisted, exactly they, when it returns
    or raises: never a session-wide ``clearCache``, which would drop other
    engines' cached tables."""
    with contextlib.ExitStack() as held:
        def hold(df: DataFrame) -> DataFrame:
            df = df.persist()
            held.callback(df.unpersist)
            return df

        storage = IndexStorage(index_dir)
        base = storage.read_commit()["next_doc_id"]
        ch = detect_changes(spark, delta, index_dir, _hold=hold)
        changed = hold(ch["modified"].unionByName(ch["added"], allowMissingColumns=True))
        ids = changed.select("doc_id", F.lit(False).alias("_gone"))
        if deletions:
            ids = ids.union(ch["deleted"].select("doc_id", F.lit(True)))
        # one collect: the dirty shards with their deleted, added (ids from
        # next_doc_id up) and total counts
        per_shard = ids.groupBy(config.shard_of(F.col("doc_id")).alias("s")).agg(
            F.count_if("_gone"), F.count_if(F.col("doc_id") >= base),
            F.count(F.lit(1))).collect()
        dirty_shards = sorted(r[0] for r in per_shard)
        gone = sum(r[1] for r in per_shard)
        counts = {"changed": sum(r[3] for r in per_shard) - gone,
                  "added": sum(r[2] for r in per_shard), "deleted": gone}
        if not dirty_shards:
            return _Rebuild("disk", [], None, None, counts)

        # surviving docs of dirty shards whose content is NOT in the delta:
        # ids from doc_map, rows from the caller's source (deleted identities
        # are absent from it, so the inner join drops them)
        survivors_map = hold(
            storage.read(spark, "doc_map")
            .filter(F.col("doc_shard").isin(dirty_shards))
            .join(changed.select(*IDENTITY), IDENTITY, "left_anti")
            .select(*IDENTITY, "doc_id")
        )

        def repos() -> Optional[List[str]]:
            keys = [r["repo"] for r in survivors_map.select("repo").distinct()
                    .limit(_MAX_PRUNE_KEYS + 1).collect()]
            return None if len(keys) > _MAX_PRUNE_KEYS else keys

        rebuild = changed
        rows = source(repos)
        if rows is not None:
            # stored ids win over any carried ids
            rows = _resolve_identities(rows).drop("doc_id")
            rebuild = rows.join(survivors_map, IDENTITY).unionByName(
                changed, allowMissingColumns=True
            )
        rebuild.write.mode("overwrite").parquet(staging)
        return _Rebuild("disk", dirty_shards,
                        spark.read.schema(rebuild.schema).parquet(staging),
                        None, counts)


def _merge(spark: SparkSession, index_dir: str, config: IndexConfig,
           delta: DataFrame, source: Callable[[Repos], Optional[DataFrame]],
           deletions: bool, build_id: Optional[str],
           input_fingerprint: Optional[str], marker: Optional[dict] = None) -> dict:
    """The one incremental merge: classify ``delta`` against doc_map and
    rebuild exactly the dirty shards.  ``source(repos)`` returns the current
    rows to draw the dirty shards' surviving docs from (or None when none
    can survive); ``repos()`` gives the survivors' distinct repos, or None
    past ``_MAX_PRUNE_KEYS``.  ``marker`` holds extra entries for the
    build's commit marker.  Returns build_index's metadata plus
    ``dirty_shards`` (empty: nothing to do, nothing written), ``staging``
    (the path that decided: ``driver`` or ``disk``) and the ``changed``,
    ``added``, ``deleted`` and ``survivors`` doc counts, which it also logs
    as one JSON line."""
    # The rebuild rows must not read a table the build overwrites: you must
    # never overwrite a table a live plan still scans (Iceberg gets this
    # via snapshot isolation).  The driver path's rows read only the delta,
    # the source and local relations of ids, so the build reads them as
    # they are.  The disk path's rows read doc_map, so _stage writes them
    # under _staging first; persisting their plan would not do, as the
    # doc_map write drops its blocks.
    staging = os.path.join(index_dir, "_staging")
    delta = _resolve_identities(delta)
    plan: Optional[_Rebuild] = None
    try:
        plan = (_decide_on_driver(spark, index_dir, config, delta, source, deletions)
                or _stage(spark, index_dir, config, delta, source, deletions, staging))
        meta = {"shards": [], "n_docs": 0}
        if plan.dirty:
            meta = build_index(
                spark, plan.rows, index_dir, config, build_id=build_id,
                input_fingerprint=input_fingerprint, only_shards=plan.dirty,
                _marker=marker, _sizes=plan.sizes,
            )
    finally:
        shutil.rmtree(staging, ignore_errors=True)
        if plan is not None and plan.dirty:
            spark.catalog.refreshByPath(index_dir)
    report = dict(staging=plan.staging, **plan.counts,
                  survivors=meta["n_docs"] - plan.counts["changed"])
    log.info(json.dumps({"event": "sync", "build_id": meta.get("build_id"),
                         "dirty_shards": plan.dirty, **report}))
    return dict(meta, dirty_shards=plan.dirty, **report)


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
    (IndexRecordsForV4.java:116-125) applied to the input side.  A sync
    that builds writes it in the build's one marker write, so no crash can
    leave a rebuilt index without its pin; a sync that rebuilds nothing
    rewrites the marker with the new pin alone.
    """
    config = config or IndexConfig()
    storage = IndexStorage(index_dir)
    current = table.current_snapshot_id()
    commit = storage.read_commit()
    last = commit.get("corpus_snapshot_id") if commit else None
    fingerprint = f"snap-{current}"
    pin = {"corpus_snapshot_id": current}

    def _merged(meta: dict, mode: str, noop_mode: str) -> dict:
        if not meta["dirty_shards"]:
            # nothing rebuilt: re-pin the unchanged manifest alone
            mode = noop_mode
            storage.write_commit(config, build_id or "sync", {
                "shards": commit["shards"], "next_doc_id": commit["next_doc_id"],
                "input_fingerprint": fingerprint, **pin,
            })
        return dict(meta, mode=mode, **pin)

    if last is None or not storage.is_committed_with(config):
        corpus = _resolve_identities(table.read(spark, current))
        meta = build_index(spark, corpus, index_dir, config, build_id=build_id,
                           input_fingerprint=fingerprint, _marker=pin)
        return dict(meta, mode="full_rebuild", **pin)
    if last == current:
        return {"mode": "noop", "shards": [], "n_docs": 0,
                "corpus_snapshot_id": current}
    if table.has_overwrite_between(last, current):
        # overwrite breaks append-only incrementality (Iceberg contract):
        # deletions/updates may hide anywhere → the whole snapshot is delta
        snapshot = table.read(spark, current)
        meta = _merge(spark, index_dir, config, snapshot, lambda _: snapshot,
                      True, build_id, fingerprint, pin)
        return _merged(meta, "incremental", "noop")

    def pruned(repos: Repos) -> Optional[DataFrame]:
        # Manifest file-pruning needs the distinct survivor repos driver-side
        # (that's Iceberg planning — manifests live on the driver), but the
        # hand-off must stay BOUNDED: a delta touching many shards of a
        # many-repo corpus could otherwise collect an unbounded repo list.
        # Past the cap, per-repo file pruning can't skip much anyway, so
        # read the whole snapshot and let the identity join (the survivors
        # are the small, bounded side — AQE broadcasts them) do the
        # narrowing distributed.
        keys = repos()
        if keys is None:
            return table.read(spark, current)
        return table.read_pruned(spark, keys, current) if keys else None

    meta = _merge(spark, index_dir, config, table.diff(spark, last, current),
                  pruned, False, build_id, fingerprint, pin)
    return _merged(meta, "snapshot_diff", "noop_content")


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

"""Distributed inverted-index construction (SURVEY.md §2.8-T2..T5, §7 Phase 1).

Dataflow — ONE shuffle total:

    corpus (doc_id, content, ...)                       [parquet/Iceberg scan]
      → repartition(n_part, doc_shard), cached          [THE shuffle: raw
        corpus bytes, 5-10x smaller than the exploded token relation]
      → doc_map  (identity + sha256)                    [partition-local write]
      → doc_stats (doc_shard, doc_id, field, dl)        [partition-local write:
        explode of per-field regexp_count dl structs — no token arrays;
        Generate preserves the doc_shard partitioning]
      → groupBy(doc_shard).applyInArrow(pack): partition-LOCAL sort, no
        exchange; the kernel tokenizes (Arrow RE2), factorizes
        (dictionary_encode) and encodes (delta-gap + varbyte + block-max in
        numpy) per shard, reading Spark's Arrow buffers directly and
        emitting zero-copy Arrow output — content bytes never exist as
        Python/pandas objects
      → postings parquet partitioned by doc_shard, rows sorted by term so
        parquet rowgroup min/max stats prune term lookups at query time.

Scale notes (the 100 TB story):
- Tokens, tf rows and blobs NEVER cross an exchange; the only shuffled bytes
  are the raw corpus, once.  (An earlier 4-exchange design — tf groupBy +
  three per-table repartitions — spent more time in shuffle + write commits
  than in real work and scaled at 0.4; this layout is what made the N-vs-4N
  efficiency target reachable.)
- Shards are contiguous doc_id ranges → hot terms ("def", "if") split across
  ALL shards with disjoint doc ranges: skew is bounded by shard size by
  construction (the salting scheme of SURVEY.md §4.2), and exact df is the
  sum of per-shard n_docs.
- Each shard is one applyInArrow group; docs_per_shard controls kernel
  memory (4096 for tests; millions at cluster scale — size so one shard's
  tokens fit an Arrow batch comfortably).
- Resume: shards whose commit-marker entry has the same input fingerprint
  are skipped; dynamic partition overwrite replaces exactly the rebuilt
  shards, and partitions of shards the new marker omits are dropped
  (reference checkpoint discipline IndexRecordsForV4.java:116-125).
"""

from __future__ import annotations

import json
import logging
import os
import time
import uuid
from typing import Dict, Iterable, List, Optional, Tuple

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.window import Window

from archivesspace_virgo_spark import codec
from archivesspace_virgo_spark.config import IndexConfig
from archivesspace_virgo_spark.corpus import assign_doc_ids, with_content_sha
from archivesspace_virgo_spark.index.storage import POSTINGS_SCHEMA, IndexStorage

log = logging.getLogger(__name__)


#: the kernel's Arrow output schema, derived from the table's Spark schema
_ARROW_POSTINGS_SCHEMA = to_arrow_schema(POSTINGS_SCHEMA)


def _pa_binary_from_stream(stream: np.ndarray, offsets: np.ndarray):
    """Arrow binary array straight over the encoder's contiguous byte
    stream — (values, offsets) IS Arrow's binary layout, so no per-term
    ``bytes`` objects exist at all.  ``pa.binary()`` has int32 offsets, so
    one shard's stream must stay under 2 GiB."""
    import pyarrow as pa

    if offsets[-1] > np.iinfo(np.int32).max:
        raise ValueError(
            f"one shard's posting stream is {int(offsets[-1])} bytes, over "
            "the 2 GiB an Arrow binary column holds; lower docs_per_shard "
            "and rebuild"
        )
    return pa.Array.from_buffers(
        pa.binary(), offsets.size - 1,
        [None, pa.py_buffer(offsets.astype(np.int32)),
         pa.py_buffer(np.ascontiguousarray(stream))],
    )


def _pa_list_int64(values: np.ndarray, offsets: np.ndarray):
    import pyarrow as pa

    return pa.ListArray.from_arrays(
        pa.array(offsets.astype(np.int32), type=pa.int32()),
        pa.array(values.astype(np.int64, copy=False), type=pa.int64()),
    )


def _pack_occurrences_table(
    shard: int, codes, terms_sorted, doc_ids, dls, positions, block_size: int
):
    """Encode raw token OCCURRENCES into one posting row per term,
    returned as a ``pyarrow.Table``.

    Input: one entry per token occurrence — its term as a code into the
    LEXICOGRAPHICALLY SORTED ``terms_sorted`` dictionary (the caller
    factorizes: Arrow ``dictionary_encode`` + an argsort of the uniques
    only — a C++ hash pass over the occurrence stream; ``pd.factorize``
    hashed the same stream through Python string objects and
    ``np.unique`` would comparison-sort every occurrence), plus doc_id,
    dl, and position within the doc's field token stream.  Everything —
    tf aggregation, delta-gap, varbyte, positions, block-max — is
    computed with batched numpy over the whole shard at once (this
    replaced the round-1 per-term interpreter loop that bounded build
    CPU), and the output binary/list columns are built zero-copy over
    the encoder's contiguous streams (``codec.varbyte_encode_stream``) —
    an earlier pandas form paid one Python ``bytes`` + six ``tolist()``
    per term plus a pandas->Arrow re-conversion per batch, all pure
    overhead on the kernel's output side."""
    import pyarrow as pa

    n = codes.size
    # stable lexsort on (term, doc): occurrences are generated in ascending
    # position order per (doc, field) and a term never spans fields, so
    # positions stay ascending within each posting without a third sort key
    order = np.lexsort((doc_ids, codes))
    codes = codes[order]
    docs = doc_ids[order]
    dls = dls[order]
    poss = positions[order]

    # posting boundaries: one posting per (term, doc)
    newpost = np.empty(n, dtype=bool)
    newpost[0] = True
    newpost[1:] = (codes[1:] != codes[:-1]) | (docs[1:] != docs[:-1])
    p_start = np.flatnonzero(newpost)
    tf = np.diff(np.append(p_start, n))
    post_doc = docs[p_start]
    post_dl = dls[p_start]
    post_code = codes[p_start]
    m = p_start.size

    # per-posting position deltas (first absolute, then gaps; ascending
    # within a posting by the lexsort)
    pos_d = np.empty(n, dtype=np.int64)
    pos_d[0] = poss[0]
    pos_d[1:] = poss[1:] - poss[:-1]
    pos_d[p_start] = poss[p_start]

    # term boundaries over postings
    t_new = np.empty(m, dtype=bool)
    t_new[0] = True
    t_new[1:] = post_code[1:] != post_code[:-1]
    t_start = np.flatnonzero(t_new)
    t_end = np.append(t_start[1:], m)
    n_terms = t_start.size

    # per-term doc-id gaps (first absolute)
    gap = np.empty(m, dtype=np.int64)
    gap[0] = post_doc[0]
    gap[1:] = post_doc[1:] - post_doc[:-1]
    gap[t_start] = post_doc[t_start]

    doc_stream, doc_soff, doc_voff = codec.varbyte_encode_stream(
        gap.astype(np.uint64), t_start
    )
    tf_stream, tf_soff, tf_voff = codec.varbyte_encode_stream(
        tf.astype(np.uint64), t_start
    )
    dl_stream, dl_soff, dl_voff = codec.varbyte_encode_stream(
        post_dl.astype(np.uint64), t_start
    )
    pos_stream, pos_soff, _ = codec.varbyte_encode_stream(
        pos_d.astype(np.uint64), p_start[t_start]
    )

    # block-max metadata: fixed-size blocks WITHIN each term's posting list.
    # Block starts partition [0, m), so one reduceat per stat covers all
    # terms at once.
    counts = t_end - t_start
    nb = (counts + block_size - 1) // block_size
    total_blocks = int(nb.sum())
    block_term = np.repeat(np.arange(n_terms), nb)
    nb_prefix = np.concatenate([[0], np.cumsum(nb)[:-1]])
    within = np.arange(total_blocks) - nb_prefix[block_term]
    block_start = t_start[block_term] + within * block_size
    block_end = np.minimum(block_start + block_size, t_end[block_term])
    b_maxtf = np.maximum.reduceat(tf, block_start)
    b_mindl = np.minimum.reduceat(post_dl, block_start)
    b_last = post_doc[block_end - 1]
    # per-block byte offsets into each blob, RELATIVE to the term's segment
    # start — the random-access handles for per-block (WAND-style) decode
    b_doc_off = doc_voff[block_start] - doc_voff[t_start][block_term]
    b_tf_off = tf_voff[block_start] - tf_voff[t_start][block_term]
    b_dl_off = dl_voff[block_start] - dl_voff[t_start][block_term]
    nb_off = np.concatenate([[0], np.cumsum(nb)])

    # per-term cf (sum of tfs) via reduceat over postings
    cf = np.add.reduceat(tf, t_start)
    return pa.table(
        {
            "doc_shard": pa.array(np.full(n_terms, shard, dtype=np.int32)),
            "term": terms_sorted,
            "n_docs": pa.array(counts.astype(np.int32)),
            "cf": pa.array(cf.astype(np.int64)),
            "doc_blob": _pa_binary_from_stream(doc_stream, doc_soff),
            "tf_blob": _pa_binary_from_stream(tf_stream, tf_soff),
            "dl_blob": _pa_binary_from_stream(dl_stream, dl_soff),
            "pos_blob": _pa_binary_from_stream(pos_stream, pos_soff),
            "block_last_doc": _pa_list_int64(b_last, nb_off),
            "block_max_tf": _pa_list_int64(b_maxtf, nb_off),
            "block_min_dl": _pa_list_int64(b_mindl, nb_off),
            "block_doc_off": _pa_list_int64(b_doc_off, nb_off),
            "block_tf_off": _pa_list_int64(b_tf_off, nb_off),
            "block_dl_off": _pa_list_int64(b_dl_off, nb_off),
        },
        schema=_ARROW_POSTINGS_SCHEMA,
    )


def _make_packer_arrow(block_size: int, fields: tuple = ("content",)):
    """Arrow-native grouped-map packer (``applyInArrow``) — the build hot
    path: one call per doc_shard with rows (doc_shard, doc_id,
    <field columns...>) arriving as a ``pyarrow.Table`` (the buffers Spark
    shipped — no pandas string materialization; at ~10 KB of content per
    doc that detour re-copied the whole corpus per batch).

    Tokenization AND tf aggregation happen here, inside the Python worker:
    - Arrow ships raw content bytes (5-10x smaller than an exploded token
      relation), and tokens never exist JVM-side at all.  A JVM
      `split(lower(...))` materializes one UTF8String per token — at
      realistic file sizes that allocation storm hits a GC wall that stops
      scaling past ~8 threads in one JVM, while Python workers are separate
      processes that tokenize embarrassingly parallel.
    - the tokenizer is token-for-token the shared `tokenize_series`
      (parity property-pinned, SURVEY §2.8-T1).
    dl is the per-(doc, field) token count; non-default fields are stored
    prefix-composite ("field:token"), so each (term, doc) has exactly one dl.
    """
    from archivesspace_virgo_spark.tokenizer import tokenize_flat

    default = fields[0]

    def pack(tbl):
        import pyarrow as pa
        import pyarrow.compute as pc

        empty = _ARROW_POSTINGS_SCHEMA.empty_table()
        if tbl.num_rows == 0:
            return empty
        shard = int(tbl.column("doc_shard")[0].as_py())
        doc_ids = tbl.column("doc_id").to_numpy(
            zero_copy_only=False).astype(np.int64, copy=False)
        doc_parts, dl_parts, term_parts, pos_parts = [], [], [], []
        for f in fields:
            flat, lens = tokenize_flat(tbl.column(f))
            total = int(lens.sum())
            if total == 0:
                continue
            doc_parts.append(np.repeat(doc_ids, lens))
            dl_parts.append(np.repeat(lens, lens))
            # token position within the doc's field stream (0-based): a
            # single arange minus each doc's broadcast start offset
            starts = np.concatenate([[0], np.cumsum(lens)[:-1]])
            pos_parts.append(np.arange(total, dtype=np.int64)
                             - np.repeat(starts, lens))
            if f != default:
                # prefix-composite terms, vectorized over the FLAT token
                # array (one Arrow element-wise join, no per-row loop)
                flat = pc.binary_join_element_wise(f + ":", flat, "")
            term_parts.append(flat)
        if not term_parts:
            return empty
        # factorize the occurrence stream Arrow-side: a C++ hash encode
        # over string views (no per-token Python objects), then sort the
        # UNIQUES only and remap codes — pd.factorize(sort=True) semantics
        # (UTF-8 byte order == code-point order, so Arrow's sort agrees
        # with Python string comparison)
        enc = pc.dictionary_encode(
            pa.concat_arrays(term_parts) if len(term_parts) > 1
            else term_parts[0]
        )
        idx = enc.indices.to_numpy(zero_copy_only=False).astype(np.int64)
        perm_arr = pc.array_sort_indices(enc.dictionary)
        perm = perm_arr.to_numpy(zero_copy_only=False).astype(np.int64)
        rank = np.empty(perm.size, dtype=np.int64)
        rank[perm] = np.arange(perm.size)
        terms_sorted = pc.take(enc.dictionary, perm_arr)
        if not pa.types.is_string(terms_sorted.type):
            terms_sorted = pc.cast(terms_sorted, pa.string())
        return _pack_occurrences_table(
            shard,
            rank[idx],
            terms_sorted,
            np.concatenate(doc_parts),
            np.concatenate(dl_parts),
            np.concatenate(pos_parts),
            block_size,
        )

    return pack


def _doc_stats(layout: DataFrame, fields: tuple) -> DataFrame:
    """(doc_shard, doc_id, field, dl): one row per (doc, indexed field).
    dl via regexp_count: counts token runs WITHOUT materializing a token
    array (a JVM split would allocate one UTF8String per token — GC-bound,
    stops scaling past ~8 threads).  Equivalence with
    len(tokenize_text(x)) is pinned by a tokenizer test.  dl=0 docs appear
    here (not in postings) so N/avgdl match the oracle.  An explode of a
    per-field struct array, not a union: Generate keeps ``layout``'s
    doc_shard partitioning, so the write adds no exchange."""
    per_field_dl = F.array(
        *[
            F.struct(
                F.lit(f).alias("field"),
                # coalesce: a NULL field value must count as dl=0 (the pack
                # kernel's fill_null('') convention) — otherwise the row stays
                # in n_docs but silently drops out of avg(dl)/sum(dl),
                # skewing avgdl and breaking doc_stats' non-null dl
                F.coalesce(
                    F.regexp_count(F.lower(F.col(f)), F.lit("[a-z0-9]+")),
                    F.lit(0),
                ).cast("long").alias("dl"),
            )
            for f in fields
        ]
    )
    return layout.select(
        "doc_shard", "doc_id", F.explode(per_field_dl).alias("_fd")
    ).select(
        "doc_shard", "doc_id",
        F.col("_fd.field").alias("field"), F.col("_fd.dl").alias("dl"),
    )


def refresh_aggregates(spark: SparkSession, storage: IndexStorage,
                       shards: Optional[Iterable[int]] = None) -> Dict[int, dict]:
    """The commit marker's per-shard stats, {doc_shard: {"n_docs",
    "tokens": {field: total dl}}}, for ``shards`` (all when None), from
    ``doc_stats`` in one bounded collect of shards × fields rows.  Writes
    nothing: corpus stats are sums over these entries, so a sync pays for
    the shards it rebuilt, not for the index."""
    stats = storage.read(spark, "doc_stats")
    if shards is not None:
        stats = stats.filter(F.col("doc_shard").isin(list(shards)))
    out: Dict[int, dict] = {}
    for s, field, n, tokens in sorted(stats.groupBy("doc_shard", "field").agg(
            F.count(F.lit(1)), F.sum("dl")).collect()):
        out.setdefault(s, {"n_docs": n, "tokens": {}})["tokens"][field] = tokens
    return out


def quarantine_invalid(
    corpus: DataFrame, storage: IndexStorage, build_id: str,
    config: Optional[IndexConfig] = None,
) -> DataFrame:
    """Fail-soft row-level error isolation (reference: per-record try/catch
    with run-level error reporting, IndexRecords.java:97-101, 110-115).

    Rows that cannot be indexed — null/negative doc_id, a null value in any
    indexed field, or a duplicate doc_id (identity violation) — are appended
    to the ``_errors`` table with a reason instead of failing the build; the
    caller can assert on the table afterwards (the reference exits nonzero
    if any errors).  Returns the clean corpus.
    """
    fields = (config or IndexConfig()).fields
    reason = F.when(F.col("doc_id").isNull(), "null_doc_id").when(
        F.col("doc_id") < 0, "negative_doc_id"
    )
    for fld in fields:
        reason = reason.when(F.col(fld).isNull(), f"null_{fld}")
    reason = reason.when(
        F.count(F.lit(1)).over(Window.partitionBy("doc_id")) > 1,
        "duplicate_doc_id",
    )
    flagged = corpus.withColumn("_reason", reason)
    bad = flagged.filter(F.col("_reason").isNotNull())
    if not bad.isEmpty():
        path_col = (
            F.col("path") if "path" in corpus.columns
            else F.lit(None).cast("string")
        )
        bad.select(
            F.lit(build_id).alias("build_id"),
            F.col("doc_id").cast("long").alias("doc_id"),
            path_col.alias("path"),
            F.col("_reason").alias("reason"),
            F.lit(time.time()).alias("ts"),
        ).write.mode("append").parquet(storage.path("_errors"))
    return flagged.filter(F.col("_reason").isNull()).drop("_reason")


def build_index(
    spark: SparkSession,
    corpus: DataFrame,
    index_dir: str,
    config: Optional[IndexConfig] = None,
    build_id: Optional[str] = None,
    input_fingerprint: Optional[str] = None,
    resume: bool = False,
    only_shards: Optional[Iterable[int]] = None,
    validate: bool = False,
    _marker: Optional[dict] = None,
    _sizes: Optional[List[Tuple[int, int, int]]] = None,
) -> dict:
    """Full (or shard-scoped) index build.

    ``corpus`` must have ``content``; if it lacks ``doc_id`` one is assigned
    deterministically from (repo, path, commit).  ``only_shards`` restricts
    the build to specific doc_shards (used by incremental merge and by the
    resume test to simulate a mid-build failure); one that gets no rows has
    its doc_map/doc_stats/postings partitions dropped (a shard emptied by
    deletions — dynamic overwrite would otherwise leave its old data), as
    has, on a full build, every old shard the new corpus does not reach.
    ``_marker`` holds extra commit-marker entries, written in the build's
    one marker write (internal: a snapshot sync pins its
    ``corpus_snapshot_id`` there).  ``_sizes`` is the built rows'
    ``(doc_shard, count, max doc_id)`` per shard when the caller already
    holds it (internal: a sync that decides its change set on the driver),
    so the sizing pass does not re-run the corpus plan.  Returns build
    metadata dict.
    """
    config = config or IndexConfig()
    build_id = build_id or uuid.uuid4().hex[:12]
    storage = IndexStorage(index_dir)
    t0 = time.time()

    missing = [f for f in config.fields if f not in corpus.columns]
    if missing:
        raise ValueError(f"corpus lacks indexed field column(s) {missing}")
    if "doc_id" not in corpus.columns:
        corpus = assign_doc_ids(corpus)
    if validate:
        # opt-in: the duplicate-id window adds a shuffle, so validation is an
        # ingest-boundary step, not part of the steady-state rebuild path
        corpus = quarantine_invalid(corpus, storage, build_id, config)
    if "content_sha256" not in corpus.columns:
        corpus = with_content_sha(corpus)

    corpus = corpus.withColumn("doc_shard", config.shard_of(F.col("doc_id")))

    fingerprint = input_fingerprint or build_id
    # a resumed or shard-scoped build keeps the previous marker's entries
    # for the shards it does not touch, and its doc-id high-water mark; a
    # full build starts the manifest over
    carry = ((resume or only_shards is not None)
             and storage.is_committed_with(config))
    done: List[int] = storage.completed_shards(fingerprint) if resume and carry else []
    if done:
        corpus = corpus.filter(~F.col("doc_shard").isin(done))
    if only_shards is not None:
        only_shards = list(only_shards)
        corpus = corpus.filter(F.col("doc_shard").isin(only_shards))
    keep = {s: e for s, e in storage.shards().items()
            if s in done or (only_shards is not None and s not in only_shards)
            } if carry else {}
    next_doc_id = storage.read_commit()["next_doc_id"] if carry else 0

    # one pass over the source to size the job (column-pruned scan)
    sizes = _sizes if _sizes is not None else corpus.groupBy("doc_shard").agg(
        F.count(F.lit(1)), F.max("doc_id")).collect()
    built_shards = sorted(s for s, _n, _hi in sizes)
    n_docs_built = sum(n for _s, n, _hi in sizes)
    next_doc_id = max([next_doc_id] + [hi + 1 for _s, _n, hi in sizes])

    def commit(built: Dict[int, dict]) -> None:
        # the marker lists exactly the index's shards: drop every other
        # partition (dynamic overwrite leaves shards the input no longer
        # reaches, and a shard emptied by deletions), then publish
        shards = dict(sorted({**keep, **built}.items()))
        storage.drop_shards_except(shards)
        storage.write_commit(config, build_id, {
            "input_fingerprint": fingerprint, "next_doc_id": next_doc_id,
            "shards": shards, **(_marker or {}),
        })

    if n_docs_built == 0:
        # nothing to build, but a deletion-only update still commits the
        # surviving shards
        if os.path.exists(storage.path("postings")):
            commit({})
        return {"build_id": build_id, "n_docs": 0, "shards": [], "elapsed_sec": 0.0}

    # --- THE one shuffle of the build: repartition raw corpus bytes by
    # doc_shard.  Everything downstream (doc_map, doc_stats, postings) is
    # partition-local: tokens, tf rows and blobs never cross an exchange.
    # Explicit partition count (AQE never coalesces a user-specified
    # repartition) so the partitioned writes keep enough writers — one task
    # per shard up to ~4 tasks/core, multiple shards per task beyond that.
    n_part = max(1, min(len(built_shards), spark.sparkContext.defaultParallelism * 4))
    layout = corpus.repartition(n_part, "doc_shard").cache()

    # --- doc_map (identity + ingest invariant; facet columns live here) ---
    meta_cols = [c for c in ["repo", "path", "commit", "lang"] if c in corpus.columns]
    doc_map = layout.select("doc_shard", "doc_id", *meta_cols, "content_sha256")

    doc_stats = _doc_stats(layout, config.fields)
    # --- pack postings per shard (tokenize + tf + encode in the kernel) ---
    packed = layout.select(
        "doc_shard", "doc_id", *config.fields
    ).groupBy("doc_shard").applyInArrow(
        _make_packer_arrow(config.block_size, config.fields),
        schema=POSTINGS_SCHEMA,
    )

    # --- submit the three independent writes as CONCURRENT Spark jobs.
    # They share the cached `layout` (the block manager's per-partition
    # locks make concurrent materialization compute-once) and write to
    # disjoint tables, so ordering between them is immaterial.  The win is
    # wall-clock, not CPU: each write's driver-side commit (output listing
    # + rename, or an object-store multipart commit on a real cluster) is
    # serial latency that otherwise adds up across tables — overlapping it
    # under the long-pole postings kernel removes a fixed ~seconds residue
    # per build, which is precisely the non-scaling term in the N→4N
    # efficiency measurements (BASELINE.md's per-phase decomposition).
    # Concurrent job submission from driver threads is the standard Spark
    # pattern for this (scheduler pools); exceptions propagate via result().
    from concurrent.futures import ThreadPoolExecutor

    try:
        with ThreadPoolExecutor(max_workers=3) as pool:
            futs = [
                pool.submit(storage.write, packed, "postings"),
                pool.submit(storage.write, doc_map, "doc_map"),
                pool.submit(storage.write, doc_stats, "doc_stats"),
            ]
            for f in futs:
                f.result()
    finally:
        # the writes are layout's only readers, failed or not
        layout.unpersist()

    # --- the marker's entries for the built shards, one JSON metrics log
    # line, then the commit marker ---
    built = {
        s: dict(e, build_id=build_id, input_fingerprint=fingerprint)
        for s, e in refresh_aggregates(spark, storage, built_shards).items()
    }
    elapsed = time.time() - t0
    log.info(json.dumps({
        "event": "build", "build_id": build_id, "n_docs": n_docs_built,
        "n_shards": len(built_shards), "elapsed_sec": elapsed,
        "docs_per_sec": n_docs_built / max(elapsed, 1e-9),
    }))
    commit(built)
    return {
        "build_id": build_id,
        "n_docs": n_docs_built,
        "shards": built_shards,
        "elapsed_sec": elapsed,
    }

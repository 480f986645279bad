"""Physical index layout + lineage/commit discipline.

Layout under ``index_dir`` (parquet here; on a cluster these are Iceberg
tables — the code relies only on atomic-commit + partition-overwrite
semantics both provide):

    doc_map/      (doc_shard=N/) doc_id, repo, path, commit, lang, content_sha256
    doc_stats/    (doc_shard=N/) doc_id, field, dl     (per-field lengths)
    postings/     (doc_shard=N/) term, n_docs, cf, doc_blob, tf_blob,
                                 dl_blob, pos_blob,
                                 block_last_doc, block_max_tf, block_min_dl
                  (non-default-field terms stored prefixed "field:token" —
                   the composite (field, term) key of SURVEY §2.8-T10)
    lexicon/      term, df, cf                (global agg; df exact — shards
                                               hold disjoint doc ranges)
    corpus_stats/ field, n_docs, total_tokens, avgdl   (per-field norms)
    _lineage/     build_id, doc_shard, input_fingerprint, n_docs, finished_at
                  (one row per built shard; n_docs = docs built into it)
    _meta/commit.json   config hash + build metadata — written LAST

Build metrics are not a table: each build logs one JSON line at INFO
(logger ``archivesspace_virgo_spark.index.build``) with n_docs, n_shards,
elapsed_sec and docs_per_sec.

Commit-ordering discipline mirrors the reference: hashes are persisted only
after successful upload (IndexRecordsForV4.java:116-125); here the
``_meta/commit.json`` marker is the durable point — readers treat an index
without it as absent.  It is also the ONLY validity signal: a build writes
postings, doc_map and doc_stats as concurrent jobs, so a failed build can
leave any subset of them rewritten, and table presence or lineage rows say
nothing about whether the index is consistent.

The partition-by-doc_shard layout means postings for one term are spread
over shards with disjoint contiguous doc_id ranges: this IS the hot-term
salting of SURVEY.md §4.2 (scores are additive across sub-lists; exact df =
sum of per-shard dfs).
"""

from __future__ import annotations

import json
import os
import time
from typing import List, Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from archivesspace_virgo_spark.config import IndexConfig

POSTINGS_SCHEMA = T.StructType(
    [
        T.StructField("doc_shard", T.IntegerType(), False),
        T.StructField("term", T.StringType(), False),
        T.StructField("n_docs", T.IntegerType(), False),
        T.StructField("cf", T.LongType(), False),
        T.StructField("doc_blob", T.BinaryType(), False),
        T.StructField("tf_blob", T.BinaryType(), False),
        T.StructField("dl_blob", T.BinaryType(), False),
        # per-posting ascending position lists, delta+varbyte, concatenated
        # in posting order (segment lengths = tfs) — SURVEY §2.8-T2 "collect
        # positions"; enables Lucene-surface phrase queries
        T.StructField("pos_blob", T.BinaryType(), False),
        T.StructField("block_last_doc", T.ArrayType(T.LongType()), False),
        T.StructField("block_max_tf", T.ArrayType(T.LongType()), False),
        T.StructField("block_min_dl", T.ArrayType(T.LongType()), False),
        # per-block byte offsets (relative to the term's blob) — random-
        # access handles for block-skipping decode (WAND-style)
        T.StructField("block_doc_off", T.ArrayType(T.LongType()), False),
        T.StructField("block_tf_off", T.ArrayType(T.LongType()), False),
        T.StructField("block_dl_off", T.ArrayType(T.LongType()), False),
    ]
)

DOC_STATS_SCHEMA = T.StructType(
    [
        T.StructField("doc_shard", T.IntegerType(), False),
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("field", T.StringType(), False),
        T.StructField("dl", T.LongType(), False),
    ]
)


class IndexStorage:
    def __init__(self, index_dir: str):
        self.index_dir = index_dir

    # --- paths ---
    def path(self, table: str) -> str:
        return os.path.join(self.index_dir, table)

    @property
    def commit_path(self) -> str:
        return os.path.join(self.index_dir, "_meta", "commit.json")

    # --- tables ---
    def write(self, df: DataFrame, table: str, partition_shards: bool = False,
              mode: str = "overwrite") -> None:
        w = df.write.mode(mode)
        if partition_shards:
            # dynamic overwrite: incremental rebuilds replace only the shards
            # present in `df` (Iceberg: overwrite-by-filter on doc_shard)
            w = w.option("partitionOverwriteMode", "dynamic").partitionBy("doc_shard")
        w.parquet(self.path(table))

    def read(self, spark: SparkSession, table: str) -> DataFrame:
        return spark.read.parquet(self.path(table))

    def append(self, df: DataFrame, table: str) -> None:
        df.write.mode("append").parquet(self.path(table))

    def drop_shard_partition(self, table: str, shard: int) -> None:
        """Remove one doc_shard partition (Iceberg: DELETE WHERE doc_shard=s)."""
        import shutil

        p = os.path.join(self.path(table), f"doc_shard={shard}")
        if os.path.exists(p):
            shutil.rmtree(p)

    # --- commit marker (the reference's persist-hash-after-upload pattern) ---
    def write_commit(self, config: IndexConfig, build_id: str, extra: Optional[dict] = None) -> None:
        os.makedirs(os.path.dirname(self.commit_path), exist_ok=True)
        payload = {
            "config_hash": config.config_hash(),
            "config": {
                "k1": config.k1,
                "b": config.b,
                "docs_per_shard": config.docs_per_shard,
                "block_size": config.block_size,
                "tokenizer": config.tokenizer,
                "format_version": config.format_version,
            },
            "build_id": build_id,
            "committed_at": time.time(),
        }
        payload.update(extra or {})
        tmp = self.commit_path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(payload, f, indent=2)
        os.replace(tmp, self.commit_path)  # atomic on POSIX

    def read_commit(self) -> Optional[dict]:
        if not os.path.exists(self.commit_path):
            return None
        with open(self.commit_path) as f:
            return json.load(f)

    def is_committed_with(self, config: IndexConfig) -> bool:
        c = self.read_commit()
        return bool(c) and c.get("config_hash") == config.config_hash()

    # --- lineage ---
    def completed_shards(self, spark: SparkSession, input_fingerprint: str) -> List[int]:
        """Shards already built from the same input (resume support)."""
        p = self.path("_lineage")
        if not os.path.exists(p):
            return []
        lin = spark.read.parquet(p)
        rows = (
            lin.filter(lin.input_fingerprint == input_fingerprint)
            .select("doc_shard")
            .distinct()
            .collect()
        )
        return sorted(r["doc_shard"] for r in rows)

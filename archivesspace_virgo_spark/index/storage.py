"""Physical index layout + commit discipline.

Layout under ``index_dir`` (parquet here; on a cluster these are Iceberg
tables — the code relies only on atomic-commit + partition-overwrite
semantics both provide):

    doc_map/      (doc_shard=N/) doc_id, repo, path, commit, lang, content_sha256
    doc_stats/    (doc_shard=N/) doc_id, field, dl     (per-field lengths)
    postings/     (doc_shard=N/) term, n_docs, cf, doc_blob, tf_blob,
                                 dl_blob, pos_blob,
                                 block_last_doc, block_max_tf, block_min_dl,
                                 block_doc_off, block_tf_off, block_dl_off
                  (non-default-field terms stored prefixed "field:token" —
                   the composite (field, term) key of SURVEY §2.8-T10)
    _meta/commit.json   written LAST: config hash, build metadata,
                  ``next_doc_id`` (id high-water mark) and ``shards``, one
                  entry per shard — n_docs, per-field token totals
                  ("tokens"), build_id, input_fingerprint

Like Lucene's commit point (``segments_N``), nothing global is stored:
corpus stats are sums over ``shards``, a term's df/cf sums of its postings
rows' n_docs/cf (exact: shards hold disjoint doc ranges).

Build metrics are not a table: each build logs one JSON line at INFO
(logger ``archivesspace_virgo_spark.index.build``) with n_docs, n_shards,
elapsed_sec and docs_per_sec.

Two writers fill the doc_shard partitions, with one replace semantics:
a write replaces exactly the partitions of the shards it is given.
``write`` is Spark's dynamic partition overwrite of a DataFrame (a full or
disk-staged build).  ``replace_shards`` writes driver-held Arrow tables
with pyarrow (a sync decided on the driver), as Spark's writer would:
the same Spark schema in the footer, snappy, no Arrow schema, dictionary
encoding where parquet-mr keeps it, one row group per file.

Commit-ordering discipline mirrors the reference: hashes are persisted only
after successful upload (IndexRecordsForV4.java:116-125); here the
``_meta/commit.json`` marker is the durable point — readers treat an index
without it as absent.  It is also the ONLY validity signal: a Spark build
writes postings, doc_map and doc_stats as concurrent jobs, so a failed
build can leave any subset of them rewritten; corpus stats, resume state
and visibility all change in the marker's one atomic rename.  A driver
build writes doc_map last, so a failed one leaves doc_map as it was and
the next sync classifies the same change set again.

The partition-by-doc_shard layout means postings for one term are spread
over shards with disjoint contiguous doc_id ranges: this IS the hot-term
salting of SURVEY.md §4.2 (scores are additive across sub-lists; exact df =
sum of per-shard dfs).
"""

from __future__ import annotations

import json
import os
import shutil
import time
import uuid
from typing import Dict, List, Optional

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

from archivesspace_virgo_spark.config import IndexConfig
from archivesspace_virgo_spark.sources.snapshot_table import _SPARK_SCHEMA_KEY, footer_schema

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

#: the columns reads filter on (a postings term lookup, a doc_id join):
#: the only ones whose min/max statistics a driver write keeps
_FILTERED_COLUMNS = ("term", "doc_id")
#: parquet-mr's dictionary page limit: past it, it writes values plain
_MAX_DICTIONARY_BYTES = 1 << 20


def _plain_bytes(values: pa.Array) -> int:
    """The bytes of ``values`` (no nulls) PLAIN-encoded."""
    if pa.types.is_binary(values.type) or pa.types.is_string(values.type):
        return 4 * len(values) + pc.sum(pc.binary_length(values)).as_py()
    return len(values) * values.type.bit_width // 8


def _dictionary_paths(table: pa.Table) -> List[str]:
    """The leaf columns of ``table`` parquet-mr writes dictionary-encoded:
    those whose dictionary plus bit-packed indices take fewer bytes than
    their plain encoding (its fallback test) within its page limit."""
    paths = []
    for name in table.column_names:
        values, path = table.column(name), name
        if pa.types.is_list(values.type):
            values, path = pc.list_flatten(values), name + ".list.element"
        values = values.combine_chunks().drop_null()
        if len(values) == 0:
            continue
        uniques = pc.unique(values)
        dictionary = _plain_bytes(uniques)
        indices = len(values) * max(1, (len(uniques) - 1).bit_length()) // 8
        if dictionary <= _MAX_DICTIONARY_BYTES and dictionary + indices < _plain_bytes(values):
            paths.append(path)
    return paths


def _varint(n: int) -> bytes:
    out = bytearray()
    while n > 0x7F:
        out.append(n & 0x7F | 0x80)
        n >>= 7
    return bytes(out + bytes([n]))


def _with_key_value(data: bytes, key: bytes, value: bytes) -> bytes:
    """``data``, a parquet file pyarrow wrote with no key-value metadata,
    with the one entry ``key: value`` in its footer (pyarrow before 17
    writes key-value metadata only beside its own serialized Arrow
    schema).  The footer is thrift-compact ``FileMetaData``: the entry
    goes in as field 5, a list of one KeyValue struct, just before
    ``created_by`` (field 6), whose header then encodes a field delta of
    1 instead of 2."""
    size = int.from_bytes(data[-8:-4], "little")
    body, footer = data[:-8 - size], data[-8 - size:-8]
    created_by = pq.read_metadata(pa.BufferReader(data)).created_by.encode()
    at = footer.rindex(b"\x28" + _varint(len(created_by)) + created_by)
    entry = b"".join(b"\x18" + _varint(len(s)) + s for s in (key, value))
    footer = footer[:at] + b"\x19\x1c" + entry + b"\x00\x18" + footer[at + 1:]
    return body + footer + len(footer).to_bytes(4, "little") + b"PAR1"


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
    def write(self, df: DataFrame, table: str) -> None:
        """Write ``df`` partitioned by doc_shard.  Dynamic overwrite:
        incremental rebuilds replace only the shards present in ``df``
        (Iceberg: overwrite-by-filter on doc_shard)."""
        (df.write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
         .partitionBy("doc_shard").parquet(self.path(table)))

    def replace_shards(self, table: str, schema: T.StructType,
                       parts: Dict[int, pa.Table]) -> None:
        """Replace exactly the ``parts`` doc_shard partitions of ``table``
        with their Arrow tables, written as Spark writes a DataFrame of
        ``schema`` partitioned by doc_shard: one file per shard, holding
        ``schema``'s other columns and its JSON in the footer.  A shard
        whose table is empty keeps no partition.  Every file is written
        under a hidden directory first, then each partition is swapped
        in, as dynamic overwrite does."""
        schema = T.StructType([f for f in schema.fields if f.name != "doc_shard"])
        arrow_schema = to_arrow_schema(schema)
        spark_json = json.dumps(schema.jsonValue(), separators=(",", ":")).encode()
        root = self.path(table)
        tmp = os.path.join(root, f"_tmp-{uuid.uuid4().hex}")
        try:
            for shard, part in parts.items():
                if part.num_rows == 0:
                    continue
                part = part.select(schema.names).cast(arrow_schema)
                out = pa.BufferOutputStream()
                pq.write_table(
                    part, out, row_group_size=part.num_rows, compression="snappy",
                    store_schema=False, use_dictionary=_dictionary_paths(part),
                    write_statistics=[c for c in _FILTERED_COLUMNS if c in schema.names])
                d = os.path.join(tmp, f"doc_shard={shard}")
                os.makedirs(d)
                with open(os.path.join(d, f"part-00000-{uuid.uuid4()}.c000.snappy.parquet"),
                          "wb") as f:
                    f.write(_with_key_value(out.getvalue().to_pybytes(),
                                            _SPARK_SCHEMA_KEY, spark_json))
            for shard in parts:
                dst = os.path.join(root, f"doc_shard={shard}")
                shutil.rmtree(dst, ignore_errors=True)
                if os.path.isdir(os.path.join(tmp, f"doc_shard={shard}")):
                    os.rename(os.path.join(tmp, f"doc_shard={shard}"), dst)
        finally:
            shutil.rmtree(tmp, ignore_errors=True)

    def read(self, spark: SparkSession, table: str) -> DataFrame:
        """``table`` read with a declared schema: the one Spark would infer,
        taken from the same footer on the driver, so no read runs Spark's
        footer-reading inference job."""
        schema = self._schema(table)
        return (spark.read.schema(schema) if schema else spark.read).parquet(
            self.path(table))

    def _schema(self, table: str) -> Optional[T.StructType]:
        """The schema Spark infers for a doc_shard-partitioned ``table``:
        the Spark schema in the footer of its smallest-path file (Spark's
        pick), then the ``doc_shard`` partition column.  doc_map's and
        doc_stats' columns follow the corpus (doc_id may be int), so no
        constant serves.  None for a table with no such file: Spark infers."""
        root = self.path(table)
        shards = sorted(n for n in os.listdir(root)
                        if n.startswith("doc_shard=")) if os.path.isdir(root) else []
        for shard in shards:
            files = sorted(n for n in os.listdir(os.path.join(root, shard))
                           if n.endswith(".parquet"))
            if files:
                recorded = footer_schema(pq.ParquetFile(os.path.join(root, shard, files[0])))
                return recorded and T.StructType.fromJson(json.loads(recorded)).add(
                    "doc_shard", T.IntegerType())
        return None

    def drop_shards_except(self, keep) -> None:
        """Remove every doc_map/doc_stats/postings doc_shard partition not
        in ``keep`` (Iceberg: DELETE WHERE doc_shard NOT IN keep)."""
        for table in ("doc_map", "doc_stats", "postings"):
            p = self.path(table)
            for name in os.listdir(p) if os.path.isdir(p) else ():
                if (name.startswith("doc_shard=")
                        and int(name.split("=", 1)[1]) not in keep):
                    shutil.rmtree(os.path.join(p, name))

    # --- commit marker (the reference's persist-hash-after-upload pattern) ---
    def write_commit(self, config: IndexConfig, build_id: str, extra: Optional[dict] = None) -> None:
        os.makedirs(os.path.dirname(self.commit_path), exist_ok=True)
        payload = {
            "config_hash": config.config_hash(),
            "config": config.identity(),
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

    def shards(self) -> Dict[int, dict]:
        """The committed marker's per-shard entries, by doc_shard."""
        c = self.read_commit() or {}
        return {int(s): e for s, e in c.get("shards", {}).items()}

    def completed_shards(self, input_fingerprint: str) -> List[int]:
        """Shards already built from the same input (resume support)."""
        return sorted(s for s, e in self.shards().items()
                      if e["input_fingerprint"] == input_fingerprint)

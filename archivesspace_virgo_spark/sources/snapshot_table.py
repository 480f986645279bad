"""Snapshot-versioned corpus table — Iceberg table semantics on parquet.

BASELINE.json's input contract is "an Iceberg table of source-code
repositories".  The Iceberg runtime jar is not available in this container
(and nothing may be installed), so this module implements the SEMANTICS the
engine depends on with the same mechanics Iceberg uses, over plain parquet:

- an append-only **snapshot log** (``metadata/v{N}.json``) where each
  snapshot lists its immutable data files (the manifest), its parent, and
  its operation (append / overwrite);
- an atomically-swapped **version hint** (``metadata/version-hint.text``)
  as the commit pointer — readers never observe a half-written snapshot
  (single-writer; a real catalog arbitrates concurrent committers via CAS);
- **snapshot-pinned reads**: ``read(spark, snapshot_id)`` scans exactly
  that snapshot's manifest, immune to later commits;
- **incremental (diff) reads**: ``diff(spark, from, to)`` scans ONLY the
  data files appended between two snapshots — the Iceberg incremental-scan
  contract.  An overwrite snapshot in the range breaks append-only
  incrementality, exactly as in Iceberg; ``has_overwrite_between`` lets
  callers fall back to a full re-diff;
- **manifest pruning**: each manifest entry records per-file row count and
  the min/max of a chosen prune column (``repo`` for the corpus), so a
  point/semi-join fetch can skip files whose range cannot match — the
  file-skipping role of Iceberg's manifest stats;
- **recorded schemas**: each manifest entry also records the Spark schema
  of its file, read from the footer on the driver when the file is
  committed (the schema Spark's writer stored there, else the file's Arrow
  schema converted), as Iceberg's ``metadata.json`` records the table
  schema.  Every read declares the schema Spark would infer — that of the
  scanned file with the smallest path — so no read runs a footer-reading
  schema-inference job.  A file whose schema has no exact conversion
  records none, and reads whose smallest file lacks one infer as before.

When a real Iceberg catalog IS configured (cluster deployments),
``read_iceberg`` maps the same three operations onto
``spark.read.format("iceberg")`` with ``snapshot-id`` /
``start-snapshot-id`` options; it raises with a clear message when the
runtime jar is absent.
"""

from __future__ import annotations

import json
import os
import shutil
import time
import uuid
from typing import List, Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

#: footer key under which Spark's parquet writer stores the Spark schema
#: (Spark's own inference reads it first)
_SPARK_SCHEMA_KEY = b"org.apache.spark.sql.parquet.row.metadata"


def footer_schema(pf) -> Optional[str]:
    """The Spark schema (JSON) Spark infers from this ``pyarrow``
    ParquetFile's footer, or None when the Arrow conversion is not exact."""
    recorded = (pf.metadata.metadata or {}).get(_SPARK_SCHEMA_KEY)
    if recorded is not None:
        return recorded.decode()
    from pyspark.sql.pandas.types import from_arrow_schema

    try:
        schema = from_arrow_schema(pf.schema_arrow, prefer_timestamp_ntz=True).json()
    except TypeError:  # a type with no Spark counterpart (e.g. uint32)
        return None
    # Spark reads an all-null (Arrow null) column as int, the conversion
    # gives void: leave such files to inference
    return None if '"void"' in schema else schema


class SnapshotTable:
    def __init__(self, table_dir: str):
        self.table_dir = table_dir
        self.data_dir = os.path.join(table_dir, "data")
        self.meta_dir = os.path.join(table_dir, "metadata")

    # --- creation / commit plumbing ---
    @classmethod
    def create(cls, table_dir: str, prune_column: Optional[str] = "repo") -> "SnapshotTable":
        t = cls(table_dir)
        os.makedirs(t.data_dir, exist_ok=True)
        os.makedirs(t.meta_dir, exist_ok=True)
        t._write_version(
            0, {"snapshot_id": 0, "parent_id": None, "operation": "create",
                "manifest": [], "prune_column": prune_column,
                "ts": time.time()}
        )
        return t

    @property
    def _hint_path(self) -> str:
        return os.path.join(self.meta_dir, "version-hint.text")

    def _version_path(self, v: int) -> str:
        return os.path.join(self.meta_dir, f"v{v}.json")

    def _write_version(self, v: int, snapshot: dict) -> None:
        with open(self._version_path(v), "w") as f:
            json.dump(snapshot, f, indent=2)
        tmp = self._hint_path + ".tmp"
        with open(tmp, "w") as f:
            f.write(str(v))
        os.replace(tmp, self._hint_path)  # atomic commit pointer (POSIX)

    def current_snapshot_id(self) -> int:
        with open(self._hint_path) as f:
            return int(f.read().strip())

    def snapshot(self, snapshot_id: Optional[int] = None) -> dict:
        v = self.current_snapshot_id() if snapshot_id is None else snapshot_id
        with open(self._version_path(v)) as f:
            return json.load(f)

    # --- writes ---
    def _manifest_entry(self, path: str, prune_col: Optional[str]) -> dict:
        """Manifest entry for one immutable parquet file: row count, Spark
        schema and min/max of the prune column (Iceberg manifest stats)."""
        import pyarrow.parquet as pq

        meta = pq.ParquetFile(path)
        entry = {"path": path, "n_rows": meta.metadata.num_rows}
        schema = footer_schema(meta)
        if schema is not None:
            entry["schema"] = schema
        if prune_col is not None:
            try:
                idx = meta.schema_arrow.names.index(prune_col)
                mins, maxs = [], []
                for rg in range(meta.metadata.num_row_groups):
                    st = meta.metadata.row_group(rg).column(idx).statistics
                    if st is None or not st.has_min_max:
                        raise ValueError
                    mins.append(st.min)
                    maxs.append(st.max)
                entry["min"] = min(mins)
                entry["max"] = max(maxs)
            except (ValueError, IndexError):
                pass  # no stats → file is never pruned
        return entry

    def _stage_files(self, df: DataFrame) -> List[dict]:
        """Write df as immutable parquet files under data/, returning
        manifest entries with per-file stats (rows, schema, min/max prune
        column)."""
        sub = os.path.join(self.data_dir, uuid.uuid4().hex[:12])
        df.write.mode("overwrite").parquet(sub)
        prune_col = self.snapshot(0).get("prune_column")
        return [
            self._manifest_entry(os.path.join(sub, name), prune_col)
            for name in sorted(os.listdir(sub))
            if name.endswith(".parquet")
        ]

    def register_files(self, paths: List[str], operation: str = "append",
                       carry_entries: Optional[List[dict]] = None) -> int:
        """Commit a snapshot that REGISTERS existing immutable parquet files
        without copying them (the Iceberg ``add_files`` procedure).  With
        ``operation='append'`` the new files extend the parent manifest;
        with ``'overwrite'`` the manifest becomes exactly
        ``carry_entries + paths`` (used when source files disappeared).
        """
        parent = self.current_snapshot_id()
        prune_col = self.snapshot(0).get("prune_column")
        new_files = [self._manifest_entry(p, prune_col) for p in sorted(paths)]
        if operation == "append":
            manifest = self.snapshot(parent)["manifest"] + new_files
        else:
            manifest = list(carry_entries or []) + new_files
        v = parent + 1
        self._write_version(v, {
            "snapshot_id": v, "parent_id": parent, "operation": operation,
            "manifest": manifest, "added": new_files, "ts": time.time(),
        })
        return v

    def append(self, df: DataFrame) -> int:
        """Commit a new snapshot = parent manifest + newly written files."""
        parent = self.current_snapshot_id()
        new_files = self._stage_files(df)
        snap = self.snapshot(parent)
        v = parent + 1
        self._write_version(v, {
            "snapshot_id": v, "parent_id": parent, "operation": "append",
            "manifest": snap["manifest"] + new_files,
            "added": new_files, "ts": time.time(),
        })
        return v

    def overwrite(self, df: DataFrame) -> int:
        """Commit a snapshot replacing the whole table contents.  Old data
        files stay on disk for snapshot-pinned readers (expire separately)."""
        parent = self.current_snapshot_id()
        new_files = self._stage_files(df)
        v = parent + 1
        self._write_version(v, {
            "snapshot_id": v, "parent_id": parent, "operation": "overwrite",
            "manifest": new_files, "added": new_files, "ts": time.time(),
        })
        return v

    def expire_snapshots(self, keep_from: int) -> None:
        """Drop data files unreachable from snapshots >= keep_from (Iceberg's
        expire_snapshots maintenance action)."""
        current = self.current_snapshot_id()
        live = set()
        for v in range(keep_from, current + 1):
            if os.path.exists(self._version_path(v)):
                live.update(e["path"] for e in self.snapshot(v)["manifest"])
        for sub in os.listdir(self.data_dir):
            d = os.path.join(self.data_dir, sub)
            for name in list(os.listdir(d)):
                p = os.path.join(d, name)
                if name.endswith(".parquet") and p not in live:
                    os.remove(p)
            if not os.listdir(d):
                shutil.rmtree(d)

    # --- reads ---
    def _read_files(self, spark: SparkSession, entries: List[dict]) -> DataFrame:
        if not entries:
            # schema-less empty: derive from any snapshot that has files
            for v in range(self.current_snapshot_id(), -1, -1):
                man = self.snapshot(v)["manifest"]
                if man:
                    return self._read_files(spark, man[:1]).limit(0)
            raise ValueError("empty table with no schema source")
        # Spark infers a multi-file read's schema from the file with the
        # smallest path; declaring that file's recorded schema reads the
        # same columns, types and nullability with no inference job
        first = min(entries, key=lambda e: e["path"])
        reader = spark.read
        if "schema" in first:
            reader = reader.schema(T.StructType.fromJson(json.loads(first["schema"])))
        return reader.parquet(*[e["path"] for e in entries])

    def read(self, spark: SparkSession, snapshot_id: Optional[int] = None) -> DataFrame:
        """Snapshot-pinned scan (Iceberg: VERSION AS OF)."""
        return self._read_files(spark, self.snapshot(snapshot_id)["manifest"])

    def diff(self, spark: SparkSession, from_snapshot: int,
             to_snapshot: Optional[int] = None) -> DataFrame:
        """Rows in files appended AFTER from_snapshot up to to_snapshot
        (Iceberg incremental read: start-snapshot-id/end-snapshot-id).
        Raises if an overwrite breaks append-only incrementality in range —
        callers fall back to a full-diff path."""
        to_snapshot = self.current_snapshot_id() if to_snapshot is None else to_snapshot
        if self.has_overwrite_between(from_snapshot, to_snapshot):
            raise ValueError(
                f"snapshot range ({from_snapshot}, {to_snapshot}] contains an "
                "overwrite; incremental diff undefined (Iceberg contract)"
            )
        files: List[dict] = []
        for v in range(from_snapshot + 1, to_snapshot + 1):
            files.extend(self.snapshot(v).get("added", []))
        return self._read_files(spark, files)

    def has_overwrite_between(self, from_snapshot: int, to_snapshot: int) -> bool:
        return any(
            self.snapshot(v)["operation"] != "append"
            for v in range(from_snapshot + 1, to_snapshot + 1)
        )

    def read_pruned(self, spark: SparkSession, keys: List[Optional[str]],
                    snapshot_id: Optional[int] = None) -> DataFrame:
        """Manifest-pruned scan: only files whose [min, max] range on the
        prune column can contain one of ``keys`` (Iceberg manifest-stats
        file skipping).  Falls back to the full manifest for files without
        stats, and for a None key: min/max leave NULLs out, so a NULL can
        sit in any file."""
        man = self.snapshot(snapshot_id)["manifest"]
        if None in keys:
            return self._read_files(spark, man)
        keys_sorted = sorted(keys)
        files = []
        for e in man:
            if "min" in e and "max" in e:
                import bisect
                i = bisect.bisect_left(keys_sorted, e["min"])
                if i >= len(keys_sorted) or keys_sorted[i] > e["max"]:
                    continue  # no key falls inside this file's range
            files.append(e)
        return self._read_files(spark, files)


def wrap_parquet_dir(source_dir: str, log_dir: str,
                     prune_column: Optional[str] = "repo") -> SnapshotTable:
    """Wrap a PLAIN parquet directory in a SnapshotTable snapshot log —
    the scale-safe on-ramp for corpora that are not snapshot-versioned yet.

    The log (stored under ``log_dir``, NOT inside the source) registers the
    directory's files without copying them (Iceberg ``add_files``
    semantics).  Each call reconciles the directory against the last
    snapshot:

    - new files        → one ``append`` snapshot (downstream syncs then
      scan ONLY these files via the snapshot-diff path);
    - files removed    → one ``overwrite`` snapshot (deletions can hide
      anywhere, so downstream correctly falls back to the full-diff merge —
      the Iceberg contract);
    - unchanged        → no commit (noop sync downstream).

    Registered files are treated as immutable, like Iceberg data files; an
    in-place rewrite of an existing file is NOT detected (rewriters must
    add new files or delete old ones — parquet writers do exactly that).
    """
    if os.path.exists(os.path.join(log_dir, "metadata", "version-hint.text")):
        t = SnapshotTable(log_dir)
    else:
        t = SnapshotTable.create(log_dir, prune_column)

    current: List[str] = []
    for root, _dirs, names in os.walk(source_dir):
        current.extend(
            os.path.join(root, n) for n in names if n.endswith(".parquet")
        )
    current_set = set(current)
    known_entries = t.snapshot()["manifest"]
    known = {e["path"] for e in known_entries}
    new = sorted(current_set - known)
    removed = known - current_set
    if removed:
        survivors = [e for e in known_entries if e["path"] in current_set]
        t.register_files(new, operation="overwrite", carry_entries=survivors)
    elif new:
        t.register_files(new, operation="append")
    return t


def read_iceberg(spark: SparkSession, table_ident: str,
                 snapshot_id: Optional[int] = None,
                 start_snapshot_id: Optional[int] = None) -> DataFrame:
    """Real-Iceberg path for cluster deployments with the runtime jar +
    catalog configured: the same three scan shapes as SnapshotTable."""
    try:
        reader = spark.read.format("iceberg")
        if snapshot_id is not None:
            reader = reader.option("snapshot-id", str(snapshot_id))
        if start_snapshot_id is not None:
            reader = reader.option("start-snapshot-id", str(start_snapshot_id))
        return reader.load(table_ident)
    except Exception as e:  # jar/catalog absent in this container
        raise RuntimeError(
            "Iceberg runtime not available in this Spark session; use "
            "SnapshotTable (same semantics on parquet) or configure an "
            "Iceberg catalog + spark-runtime jar"
        ) from e

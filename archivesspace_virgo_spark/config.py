"""Index configuration.

The reference invalidates its whole output when the transform changes
(md5 hash of the XSLTs, IndexRecordsForV4.java:44-64, 116-125).  We carry the
same discipline: ``IndexConfig.config_hash()`` covers every parameter that
affects index bytes — the fields below plus the tokenizer identity and the
on-disk format version; a mismatch between a stored index's hash and the
current config forces a full rebuild instead of a (now incorrect)
incremental merge.
"""

from __future__ import annotations

import hashlib
import json
from dataclasses import asdict, dataclass

from pyspark.sql import Column
from pyspark.sql import functions as F

from archivesspace_virgo_spark import tokenizer

#: bump when tokenizer / codec / layout semantics change incompatibly
FORMAT_VERSION = 8  # v6: term positions; v7: per-block byte offsets
# (random-access block decode for WAND-style skipping); v8: the commit
# marker carries the per-shard stats (no lexicon/corpus_stats tables)


@dataclass(frozen=True)
class IndexConfig:
    """All knobs that affect index contents or query scores."""

    # BM25 (Lucene >= 8 defaults, per BASELINE.json north_star)
    k1: float = 1.2
    b: float = 0.75

    # physical layout
    docs_per_shard: int = 4096  # contiguous doc_id range per shard; at the
    # 10^12-file design point this is raised to ~2-8M docs/shard so shard
    # count stays in the 10^5-10^6 range (one Spark task each).
    block_size: int = 128  # postings per block-max block (Ding & Suel 2011)

    # indexed fields (SURVEY.md §2.8-T10: the reference's Solr surface scopes
    # queries per field, e.g. ``types:repository`` IndexRecords.java:174).
    # fields[0] is the DEFAULT field: its terms are stored bare; any other
    # field f stores terms as "f:token" — a composite (field, term) key that
    # cannot collide with content tokens because ':' never survives the
    # tokenizer.  Each field has its own dl / avgdl (per-field norms, like
    # Lucene's per-field similarity stats).
    fields: tuple = ("content",)

    def shard_of(self, doc_id: Column) -> Column:
        """The doc_shard of a doc_id column: its contiguous id range."""
        return (doc_id / F.lit(self.docs_per_shard)).cast("int")

    def identity(self) -> dict:
        """Every value that shapes the index: the fields, the tokenizer
        and the format version."""
        return dict(asdict(self), tokenizer=tokenizer.TOKENIZER,
                    format_version=FORMAT_VERSION)

    def config_hash(self) -> str:
        payload = json.dumps(self.identity(), sort_keys=True)
        return hashlib.sha256(payload.encode()).hexdigest()[:16]

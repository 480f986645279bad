"""Determinism under partition layout and parallelism (SURVEY.md §5.2-6).

The index format must be a pure function of (corpus, config): neither the
input partition layout nor the executor count may change a single byte of
doc_map/postings, a stat in the commit marker, or any query result.  This
is what makes the per-shard checkpoints trustworthy (a resumed build mixes
shards produced by different cluster incarnations) and the N-vs-4N scaling
protocol meaningful (both sizes must produce the same index).
"""

import subprocess
import sys

import pytest

from archivesspace_virgo_spark.config import IndexConfig
from archivesspace_virgo_spark.corpus import load_documents_as_corpus
from archivesspace_virgo_spark.index.build import build_index
from archivesspace_virgo_spark.index.query import QueryEngine

from tests.conftest import SF_SMOKE

CFG = IndexConfig(docs_per_shard=64, block_size=16)


def index_fingerprint(spark, index_dir: str) -> dict:
    """Canonical content digest of every logical index table."""
    import hashlib

    storage = QueryEngine(spark, index_dir, CFG).storage
    out = {}
    post = storage.read(spark, "postings").collect()
    rows = sorted(
        (r["doc_shard"], r["term"], r["n_docs"], r["cf"],
         bytes(r["doc_blob"]).hex(), bytes(r["tf_blob"]).hex(),
         bytes(r["dl_blob"]).hex(),
         tuple(r["block_last_doc"]), tuple(r["block_max_tf"]),
         tuple(r["block_min_dl"]))
        for r in post
    )
    out["postings"] = hashlib.sha256(repr(rows).encode()).hexdigest()
    stats = sorted((s, e["n_docs"], sorted(e["tokens"].items()))
                   for s, e in storage.shards().items())
    stats.append(storage.read_commit()["next_doc_id"])
    out["shard_stats"] = hashlib.sha256(repr(stats).encode()).hexdigest()
    dm = sorted(
        (r["doc_id"], r["content_sha256"])
        for r in storage.read(spark, "doc_map").collect()
    )
    out["doc_map"] = hashlib.sha256(repr(dm).encode()).hexdigest()
    return out


def test_layout_invariance(spark, tmp_path):
    """Same corpus, pathological input layouts → byte-identical index."""
    corpus = load_documents_as_corpus(spark, SF_SMOKE)
    fps = []
    for i, layout in enumerate([
        corpus.repartition(3),
        corpus.repartition(17, "lang"),      # co-clustered, different count
        corpus.coalesce(1),                  # single input partition
    ]):
        d = str(tmp_path / f"idx{i}")
        build_index(spark, layout, d, CFG)
        fps.append(index_fingerprint(spark, d))
    assert fps[0] == fps[1] == fps[2]

    # and identical query results through the engine
    e0 = QueryEngine(spark, str(tmp_path / "idx0"), CFG)
    e1 = QueryEngine(spark, str(tmp_path / "idx1"), CFG)
    for terms in (["table"], ["spark", "window", "merge"]):
        r0 = [(r["doc_id"], r["score"]) for r in e0.search(terms, k=10).collect()]
        r1 = [(r["doc_id"], r["score"]) for r in e1.search(terms, k=10).collect()]
        assert r0 == r1


_SUBPROC_SCRIPT = r"""
import json, sys
sys.path.insert(0, "{repo}")
from pyspark.sql import SparkSession
from archivesspace_virgo_spark.config import IndexConfig
from archivesspace_virgo_spark.corpus import load_documents_as_corpus
from archivesspace_virgo_spark.index.build import build_index
from tests.test_determinism import index_fingerprint, CFG

spark = (SparkSession.builder.master("local[{cpus}]")
         .config("spark.sql.shuffle.partitions", "{cpus}")
         .config("spark.ui.enabled", "false")
         .config("spark.sql.session.timeZone", "UTC")
         .getOrCreate())
spark.sparkContext.setLogLevel("ERROR")
corpus = load_documents_as_corpus(spark, "{sf}")
build_index(spark, corpus, "{out}", CFG)
print("FP::" + json.dumps(index_fingerprint(spark, "{out}")))
spark.stop()
"""


@pytest.mark.slow
def test_parallelism_invariance(tmp_path):
    """local[2] vs local[8] builds → identical fingerprints (fresh JVMs)."""
    import os

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    fps = {}
    for cpus in (2, 8):
        out = str(tmp_path / f"idx_c{cpus}")
        script = _SUBPROC_SCRIPT.format(repo=repo, cpus=cpus, sf=SF_SMOKE, out=out)
        proc = subprocess.run(
            [sys.executable, "-c", script], capture_output=True, text=True,
            timeout=540, cwd=repo,
        )
        assert proc.returncode == 0, proc.stderr[-3000:]
        line = [l for l in proc.stdout.splitlines() if l.startswith("FP::")][-1]
        import json

        fps[cpus] = json.loads(line[4:])
    assert fps[2] == fps[8]

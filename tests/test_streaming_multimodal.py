"""Streaming incremental-index merge + windowed agg + multimodal plumbing."""

import hashlib

import pytest
from pyspark.sql import functions as F

from archivesspace_virgo_spark.config import IndexConfig
from archivesspace_virgo_spark.corpus import load_documents_as_corpus
from archivesspace_virgo_spark.index.query import QueryEngine
from archivesspace_virgo_spark.index.storage import IndexStorage
from archivesspace_virgo_spark.operators.multimodal import (
    attach_fake_media,
    extract_media_features,
    frame_sample_plan,
)
from archivesspace_virgo_spark.streaming.incremental_stream import (
    run_windowed_events_stream,
    stream_corpus_into_index,
    windowed_event_counts,
)

from tests.conftest import SF_SMOKE

CFG = IndexConfig(docs_per_shard=64, block_size=16)


def test_stream_merges_into_index(spark, tmp_path):
    """Two corpus files arriving over time → index reflects both, built
    through the streaming foreachBatch path."""
    corpus = load_documents_as_corpus(spark, SF_SMOKE).drop("doc_id")
    src = str(tmp_path / "arrivals")
    num = F.regexp_extract("path", "doc/(\\d+)", 1).cast("int")
    corpus.filter(num < 100).write.mode("overwrite").parquet(src)

    index_dir = str(tmp_path / "idx")
    ckpt = str(tmp_path / "ckpt")
    schema = spark.read.parquet(src).schema.simpleString()[7:-1]  # strip struct<>
    schema = spark.read.parquet(src).schema

    q = stream_corpus_into_index(spark, src, schema, index_dir, ckpt, CFG)
    q.awaitTermination()
    e1 = QueryEngine(spark, index_dir, CFG)
    assert e1.n_docs == 100

    # second file arrives; rerun AvailableNow → only the new file is indexed
    corpus.filter((num >= 100) & (num < 150)).write.mode("append").parquet(src)
    q = stream_corpus_into_index(spark, src, schema, index_dir, ckpt, CFG)
    q.awaitTermination()
    e2 = QueryEngine(spark, index_dir, CFG)
    assert e2.n_docs == 150
    assert e2.search(["table"], k=5).count() > 0

    # the second micro-batch merged via the snapshot-diff path, NOT a
    # full rebuild: its marker entries cover only the dirty tail shards
    # (appended ids 100-149 → shards 1,2 at 64 docs/shard; shard 0 untouched)
    st = IndexStorage(index_dir)
    commit = st.read_commit()
    assert commit["corpus_snapshot_id"] == 2  # wrap committed one append
    snap2 = {s for s, e in st.shards().items()
             if e["input_fingerprint"] == "snap-2"}
    assert snap2 == {1, 2}


def test_windowed_event_counts_stream_matches_batch(spark):
    events_path = f"{SF_SMOKE}/events.parquet"
    streamed = run_windowed_events_stream(spark, events_path, "evt_test")
    batch = windowed_event_counts(spark.read.parquet(events_path))
    a = sorted([tuple(r) for r in streamed.collect()], key=str)
    b = sorted([tuple(r) for r in batch.collect()], key=str)
    assert a == b and len(a) > 0


def test_windowed_events_stream_removes_its_copy(spark, tmp_path,
                                                monkeypatch):
    """A single events file is streamed from a temporary directory copy;
    the copy is gone once the stream has run."""
    import tempfile

    scratch = tmp_path / "tmp"
    scratch.mkdir()
    monkeypatch.setattr(tempfile, "tempdir", str(scratch))
    events_path = f"{SF_SMOKE}/events.parquet"
    streamed = run_windowed_events_stream(spark, events_path, "evt_cleanup")
    assert streamed.count() > 0
    assert list(scratch.iterdir()) == []


def test_media_feature_extraction(spark):
    docs = load_documents_as_corpus(spark, SF_SMOKE).limit(50)
    with_media = attach_fake_media(docs, "doc_id", "content")
    feats = extract_media_features(with_media, "doc_id", dim=16)
    rows = feats.collect()
    assert len(rows) == 50
    src = {r["doc_id"]: r["content"] for r in docs.collect()}
    for r in rows[:10]:
        payload = src[r["doc_id"]].encode()
        assert r["n_bytes"] == len(payload)
        assert r["payload_sha256"] == hashlib.sha256(payload).hexdigest()
        assert len(r["feature"]) == 16
        assert abs(sum(x * x for x in r["feature"]) - 1.0) < 1e-5


def test_frame_sample_plan(spark):
    df = spark.createDataFrame(
        [(1, bytearray(b"xx"), "video/fake", 3500), (2, bytearray(b"yy"), "video/fake", 0)],
        "doc_id long, payload binary, mime string, duration_ms int",
    ).select(
        "doc_id",
        F.struct(
            F.col("payload"), F.col("mime"),
            F.lit(None).cast("int").alias("width"),
            F.lit(None).cast("int").alias("height"),
            F.col("duration_ms"),
        ).alias("media"),
    )
    plan = frame_sample_plan(df, every_ms=1000)
    per_doc = {r["doc_id"]: r["n"] for r in plan.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert per_doc[1] == 4  # ts 0,1000,2000,3000
    assert per_doc[2] == 1  # ts 0 only


def test_streaming_stateful_dedup(spark, tmp_path):
    """applyInPandasWithState dedup: first arrival of a content hash is
    emitted, re-arrivals (within AND across micro-batch runs) are dropped —
    state persists in the checkpoint."""
    import os

    from pyspark.sql import functions as F

    from archivesspace_virgo_spark.streaming.incremental_stream import (
        streaming_exact_dedup,
    )

    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(src, exist_ok=True)
    schema = "doc_id long, content_sha256 string"

    def run_once(name):
        # foreachBatch sink: the memory sink refuses checkpoint recovery,
        # and state-store persistence across runs is exactly what we test
        emitted = []

        def collect(batch_df, _epoch):
            emitted.extend(batch_df.collect())

        stream = spark.readStream.schema(schema).format("parquet").load(src)
        q = (
            streaming_exact_dedup(stream)
            .writeStream.outputMode("append")
            .foreachBatch(collect)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        return emitted

    spark.createDataFrame(
        [(1, "sha-a"), (2, "sha-a"), (3, "sha-b")], schema
    ).coalesce(1).write.mode("append").parquet(src)
    first = run_once("dedup1")
    assert {r["content_sha256"] for r in first} == {"sha-a", "sha-b"}
    assert len(first) == 2

    # second run, same checkpoint: sha-a/sha-b are remembered; only sha-c emits
    spark.createDataFrame(
        [(4, "sha-a"), (5, "sha-c"), (6, "sha-b")], schema
    ).coalesce(1).write.mode("append").parquet(src)
    second = run_once("dedup2")
    assert {r["content_sha256"] for r in second} == {"sha-c"}

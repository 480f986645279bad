"""Structured-Streaming front-end for the incremental index (SURVEY.md §2.9).

The reference is batch-incremental by hand: a cron run every ``interval``
hours applies a time-window predicate (IndexRecords.java:46, 124-132) and
propagates deltas.  The idiomatic Spark mapping is a ``Trigger.AvailableNow``
stream over the corpus directory with ``foreachBatch`` calling the same
``incremental_update`` used by the batch path — exactly-once per micro-batch
via the checkpointed source offsets plus the index's own commit marker.

Also provided: a windowed event aggregation (the reference's run-report
analog S11) as the streaming-native operator demo — watermark + tumbling
window, memory sink for tests.
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from archivesspace_virgo_spark.config import IndexConfig


def _sync_each_batch(spark: SparkSession, stream: DataFrame, table_of,
                     index_dir: str, checkpoint_dir: str,
                     config: Optional[IndexConfig]):
    """Start ``stream`` (AvailableNow → drain & stop) with each micro-batch
    running a snapshot-diff sync of ``table_of()`` into the index.  The
    micro-batch is only the TRIGGER: the merge is driven by the snapshot
    log, so each sync scans ONLY the files appended since the last indexed
    snapshot — never the full corpus.  Exactly-once: the index commit
    marker records ``corpus_snapshot_id``; a replayed trigger batch becomes
    a noop."""
    from archivesspace_virgo_spark.index.incremental import (
        incremental_update_from_table,
    )

    cfg = config or IndexConfig()

    def merge_batch(batch_df: DataFrame, epoch_id: int) -> None:
        incremental_update_from_table(
            spark, table_of(), index_dir, cfg,
            build_id=f"stream-epoch-{epoch_id}",
        )

    return (
        stream.writeStream.foreachBatch(merge_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def stream_corpus_into_index(
    spark: SparkSession,
    corpus_dir: str,
    corpus_schema: str,
    index_dir: str,
    checkpoint_dir: str,
    config: Optional[IndexConfig] = None,
):
    """Index every new corpus file exactly once (AvailableNow → drain & stop).

    The plain-directory on-ramp: each micro-batch reconciles the directory
    into a SnapshotTable snapshot log (``wrap_parquet_dir`` — files are
    REGISTERED, never copied) and merges via the snapshot-diff path.
    Deleted source files commit an overwrite snapshot, which correctly
    falls back to the full-diff merge (the Iceberg contract).  The log
    lives under ``{index_dir}/_corpus_log``.  Returns the StreamingQuery
    (caller awaits termination).
    """
    import os

    from archivesspace_virgo_spark.sources import wrap_parquet_dir

    log_dir = os.path.join(index_dir, "_corpus_log")
    stream = (
        spark.readStream.schema(corpus_schema).format("parquet").load(corpus_dir)
    )
    return _sync_each_batch(spark, stream,
                            lambda: wrap_parquet_dir(corpus_dir, log_dir),
                            index_dir, checkpoint_dir, config)


def stream_table_into_index(
    spark: SparkSession,
    table,
    index_dir: str,
    checkpoint_dir: str,
    config: Optional[IndexConfig] = None,
):
    """Stream a SnapshotTable's commits into the index via snapshot diffs:
    a file stream over the table's data directory triggers each sync.
    Returns the StreamingQuery."""
    stream = (
        spark.readStream.schema(table.read(spark).schema)
        .format("parquet")
        .load(f"{table.data_dir}/*")
    )
    return _sync_each_batch(spark, stream, lambda: table, index_dir,
                            checkpoint_dir, config)


def windowed_event_counts(
    events: DataFrame,
    window: str = "5 minutes",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Streaming windowed aggregation (works on batch DataFrames too):
    per (window, event_type) count + value sum with late-data watermark."""
    # watermarks need TIMESTAMP (not NTZ); session TZ is pinned UTC so the
    # cast is value-preserving
    events = events.withColumn("ts", F.col("ts").cast("timestamp"))
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("value_sum"))
        .select(
            F.col("window.start").alias("win_start"),
            F.col("window.end").alias("win_end"),
            "event_type", "n", "value_sum",
        )
    )


def streaming_exact_dedup(
    stream_df: DataFrame,
    key_col: str = "content_sha256",
    id_col: str = "doc_id",
):
    """Custom stateful operator (``applyInPandasWithState``): emit each
    content hash's FIRST arrival, drop every re-arrival — the streaming
    rendering of exact dedup (A3/U3) for an ingest firehose, where a batch
    ``dropDuplicates`` can't see across micro-batches.

    State per key: a single seen-flag row in the state store (checkpointed,
    so dedup survives restarts).  Keys shard across executors by hash — the
    same groupBy-on-digest scaling story as the batch operator.
    """
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def dedup(key, pdfs, state: GroupState):
        if state.exists:
            return  # key already emitted in an earlier batch
        first = None
        for pdf in pdfs:
            if not pdf.empty:
                first = pdf.iloc[[0]][[id_col, key_col]]
                break
        state.update((1,))
        if first is not None:
            yield first

    return stream_df.groupBy(key_col).applyInPandasWithState(
        dedup,
        outputStructType=f"{id_col} long, {key_col} string",
        stateStructType="seen int",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def run_windowed_events_stream(
    spark: SparkSession,
    events_path: str,
    query_name: str = "event_counts",
) -> DataFrame:
    """Drive the windowed agg as a real stream over the events parquet
    (memory sink, AvailableNow) and return the materialized result.  A
    single events file is streamed from a temporary directory copy, which
    is removed once the stream has terminated."""
    import os
    import shutil
    import tempfile

    copy = None
    if os.path.isfile(events_path):  # file streams need a directory source
        copy = tempfile.mkdtemp(prefix="avs_stream_events_")
        shutil.copy(events_path,
                    os.path.join(copy, os.path.basename(events_path)))
        events_path = copy
    try:
        schema = spark.read.parquet(events_path).schema
        stream = spark.readStream.schema(schema).format("parquet").load(
            events_path)
        agg = windowed_event_counts(stream)
        q = (
            agg.writeStream.outputMode("complete")
            .format("memory").queryName(query_name)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        if copy is not None:
            shutil.rmtree(copy, ignore_errors=True)
    return spark.sql(f"SELECT * FROM {query_name}")

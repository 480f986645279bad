"""Corpus ingestion: the input_hint contract + deterministic identity.

Input contract (BASELINE.json input_hint): a table of source-code files
``(repo:string, path:string, commit:string, lang:string, content:string)``.

Identity discipline mirrors the reference (SURVEY.md §1.4): the reference
derives a deterministic primary key from source coordinates
(SolrHelper.java:105-111 ``getIdFromRef``); we derive ``doc_id`` from a total
order on ``(repo, path, commit)`` — NEVER ``monotonically_increasing_id()``,
which is partition-layout-dependent and nondeterministic under retries.

At the 10^12-row design point a global ``row_number() OVER (ORDER BY ...)``
is a single-reducer sort; ``assign_doc_ids`` therefore uses the two-phase
scheme: range-repartition by key → per-partition counts collected (one tiny
row per partition) → prefix-sum offsets → partition-local row_number + offset.
The ingest invariant is per-row ``sha2(content, 256)`` (input_hint / the
reference's md5 change-detection analog, IndexRecordsForV4.java:157).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

CORPUS_COLUMNS = ["repo", "path", "commit", "lang", "content"]
KEY_COLUMNS = ["repo", "path", "commit"]


def with_content_sha(df: DataFrame) -> DataFrame:
    """Attach the ingest-invariant column (input_hint: sha256 of content)."""
    return df.withColumn("content_sha256", F.sha2(F.col("content"), 256))


#: key rows sampled per range bucket
_SAMPLE_PER_BUCKET = 64
#: range buckets of a doc-id assignment
_ID_BUCKETS = 32


def range_bucket_column(df: DataFrame, keys, num_partitions: int):
    """Deterministic range-bucket id for the two-phase prefix-sum pattern.

    Samples the key columns ONCE — one bounded collect of the
    ``num_partitions × 64`` rows whose keys have the smallest ``xxhash64``
    (a TakeOrdered: one job, no count, no seed; every row of a frame that
    small) — picks ``num_partitions − 1`` boundary tuples driver-side, and
    returns ``(bucket_col, n_buckets)`` where ``bucket_col`` assigns each
    row its bucket via a binary-search tree of struct comparisons —
    O(log P) comparisons per row, evaluated JVM-side.

    Why not ``repartitionByRange`` twice: Spark re-seeds the range
    boundary sampling per physical plan (the sampler seed derives from the
    RDD id), so the offsets job and the window job of a two-phase prefix
    sum can partition a DETERMINISTIC input differently at real scale —
    small inputs are fully sampled, so tests never catch it.  Boundaries
    collected once and baked into a pure expression make both phases agree
    by construction, and rows with equal keys always land in one bucket
    (a literal ``k < boundary`` comparison is consistent, where two range
    exchanges need not be).

    The bucket id is monotone in the key tuple (struct ordering is
    lexicographic, null fields first — matching ``orderBy`` asc defaults),
    so downstream ``Window.partitionBy(bucket).orderBy(*keys)`` plus the
    broadcast per-bucket offsets reproduce the exact global total order no
    matter how the sample fell.  Skew caveat: a single key value that
    dominates the distribution lands in one bucket, exactly as it would in
    one range partition.  The hash sample is uniform over DISTINCT keys,
    not over rows: rows sharing a key share its hash, so a frame whose keys
    repeat many times yields fewer distinct boundaries (ids and results are
    unaffected, only the bucket balance).
    """
    if num_partitions <= 1:
        return F.lit(0), 1
    sample = (df.select(*keys)
              .orderBy(F.xxhash64(*keys), *keys)
              .limit(num_partitions * _SAMPLE_PER_BUCKET))
    vals = sorted(
        {tuple(r) for r in sample.collect()
         if all(v is not None for v in r)}
    )
    if not vals:
        return F.lit(0), 1
    step = len(vals) / float(num_partitions)
    bounds = sorted({vals[int(i * step)] for i in range(1, num_partitions)
                     if 0 < int(i * step) < len(vals)})
    if not bounds:
        return F.lit(0), 1
    # ALWAYS compare as a struct, even for one key: Spark's bare `col < lit`
    # yields NULL for NULL keys (F.when treats it as false → last bucket),
    # while struct comparison orders a NULL field FIRST — the same
    # nulls-first order the downstream Window.orderBy(asc) uses, keeping
    # the bucket id monotone in the sort order for NULL keys too
    k = F.struct(*[F.col(c) for c in keys])

    def lit_key(b):
        return F.struct(*[F.lit(v).alias(c) for v, c in zip(b, keys)])

    def build(lo: int, hi: int):
        # buckets lo..hi, separated by bounds[lo..hi-1]
        if lo == hi:
            return F.lit(lo)
        mid = (lo + hi + 1) // 2
        return (F.when(k < lit_key(bounds[mid - 1]), build(lo, mid - 1))
                .otherwise(build(mid, hi)))

    return build(0, len(bounds)), len(bounds) + 1


def prefix_sum_offsets(spark: SparkSession, counts: dict, n_buckets: int):
    """Broadcastable (bucket, exclusive-prefix-offset) df from per-bucket
    totals — the tiny phase-1 → phase-2 hand-off of the two-phase scheme."""
    offsets, acc = [], 0
    for p in range(n_buckets):
        offsets.append((p, acc))
        acc += int(counts.get(p, 0))
    return F.broadcast(
        spark.createDataFrame(offsets, "_pid int, _offset long")
    )


def assign_doc_ids(df: DataFrame, base: int = 0) -> DataFrame:
    """Deterministic dense doc_id from the total order on (repo, path, commit).

    Two-phase prefix-sum: scales to 10^12 rows because no single task ever
    sees more than one range-bucket, and the driver only collects one
    count per bucket.  Buckets come from ``range_bucket_column`` —
    boundaries sampled ONCE and baked into a deterministic expression, so
    the counts job and the window job agree by construction (two
    ``repartitionByRange`` executions need not: their boundary sampling is
    re-seeded per plan).  The resulting ids are independent of the
    boundaries entirely — doc_id is the rank in the total key order, and
    the bucket id is monotone in the key.  ``base`` offsets the whole
    sequence (incremental appends allocate above the stored max id).
    """
    pid_col, n_buckets = range_bucket_column(df, KEY_COLUMNS, _ID_BUCKETS)
    part = df.withColumn("_pid", pid_col)
    counts = {
        int(r["_pid"]): int(r["count"])
        for r in part.groupBy("_pid").count().collect()
    }
    offsets_df = prefix_sum_offsets(df.sparkSession, counts, n_buckets)
    w = Window.partitionBy("_pid").orderBy(*KEY_COLUMNS)
    out = (
        part.join(offsets_df, "_pid")
        .withColumn("doc_id", F.row_number().over(w) - 1 + F.col("_offset") + F.lit(base))
        .drop("_pid", "_offset")
    )
    return out


def adapt_documents(docs: DataFrame) -> DataFrame:
    """Adapt a driver-shaped ``documents`` table (doc_id, text, lang, source,
    n_chars) into the input_hint shape, keeping its stable doc_id.

    FIXTURES.md §1: text→content, source→repo, path=f"doc/{doc_id}",
    commit=sha256(doc_id).
    """
    return docs.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("source").alias("repo"),
        F.concat(F.lit("doc/"), F.col("doc_id").cast("string")).alias("path"),
        F.sha2(F.col("doc_id").cast("string"), 256).alias("commit"),
        F.col("lang"),
        F.col("text").alias("content"),
    )


def load_documents_as_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Read the driver's documents.parquet and adapt it (see adapt_documents)."""
    return adapt_documents(spark.read.parquet(f"{sf_dir}/documents.parquet"))

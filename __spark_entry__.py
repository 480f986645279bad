"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` — flagship: build the compressed inverted index over the
sf0.001 corpus and run a BM25 top-k query through the real engine.

``queries()`` / ``oracle_sql()`` — one entry per implemented operator from
SURVEY.md §2 plus the training-data-pipeline operators (dedup / similarity /
text stats).  Convention: every real-valued output column is emitted as
``<name>_micro`` = CAST(round(value * 1e6) AS BIGINT) in BOTH engines so the
driver's value-hash compare never trips on float formatting.
"""

from __future__ import annotations

import atexit
import shutil
import tempfile
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from archivesspace_virgo_spark.config import IndexConfig
from archivesspace_virgo_spark.corpus import load_documents_as_corpus
from archivesspace_virgo_spark.functions.bm25 import bm25_topk_df
from archivesspace_virgo_spark.index.build import build_index
from archivesspace_virgo_spark.index.query import QueryEngine
from archivesspace_virgo_spark.operators import dedup as D
from archivesspace_virgo_spark.operators import etl as E
from archivesspace_virgo_spark.operators import similarity as S
from archivesspace_virgo_spark.operators import textstats as TS
from archivesspace_virgo_spark.tokenizer import TOKEN_SPLIT_PATTERN

# fixed reference query-term sets (drawn from the synthetic corpus vocab)
TERMS_OR = ["spark", "window", "merge"]
TERMS_AND = ["table", "join"]
TERMS_RARE = ["customer", "vector"]
PHRASE = ["value", "table"]  # consecutive-bigram phrase present at every sf
K = 10

_TOKS = (
    f"list_filter(string_split_regex(lower(text), '{TOKEN_SPLIT_PATTERN}'), "
    "t -> t <> '')"
)

# deterministic ANN query vector (no data dependence; works at every sf)
ANN_QUERY = S.deterministic_hyperplanes(64, 1, seed=7)[0]

_ENGINE_CACHE: dict = {}


def _scratch_dir(prefix: str) -> str:
    """A temp dir for a cached index or store, removed at interpreter
    exit (the ``_ENGINE_CACHE`` entries that use it live until then)."""
    d = tempfile.mkdtemp(prefix=prefix)
    atexit.register(shutil.rmtree, d, ignore_errors=True)
    return d


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _micro(col):
    return F.round(col * 1000000.0).cast("long")


def _engine_for(
    spark: SparkSession, sf_dir: str, fields: tuple = ("content",)
) -> QueryEngine:
    key = (sf_dir, fields)
    if key not in _ENGINE_CACHE:
        cfg = IndexConfig(docs_per_shard=256, fields=fields)
        index_dir = _scratch_dir("avs_entry_idx_")
        corpus = load_documents_as_corpus(spark, sf_dir)
        build_index(spark, corpus, index_dir, cfg)
        _ENGINE_CACHE[key] = QueryEngine(spark, index_dir, cfg)
    return _ENGINE_CACHE[key]


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: compressed-index BM25 top-k on sf0.001 via the real engine."""
    engine = _engine_for(spark, "/root/testdata/sf0.001")
    res = engine.search(TERMS_OR, k=K)
    return res.select("doc_id", _micro(F.col("score")).alias("score_micro"))


# ---------------------------------------------------------------------------
# queries(): (spark, sf_dir) -> DataFrame
# ---------------------------------------------------------------------------

def _q_bm25(mode, terms):
    def run(spark, sf_dir):
        res = bm25_topk_df(_docs(spark, sf_dir), terms, k=K, mode=mode,
                           id_col="doc_id", text_col="text")
        return res.select("doc_id", _micro(F.col("score")).alias("score_micro"))
    return run


def _q_bm25_engine(terms):
    def run(spark, sf_dir):
        engine = _engine_for(spark, sf_dir)
        res = engine.search(terms, k=K)
        return res.select("doc_id", _micro(F.col("score")).alias("score_micro"))
    return run


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    q: dict[str, Callable[[SparkSession, str], DataFrame]] = {}

    # --- full-text engine surface (SURVEY §2.8) ---
    q["bm25_topk_or"] = _q_bm25("or", TERMS_OR)
    q["bm25_topk_and"] = _q_bm25("and", TERMS_AND)
    q["bm25_topk_rare"] = _q_bm25("or", TERMS_RARE)
    q["bm25_engine_topk"] = _q_bm25_engine(TERMS_OR)

    def q_multi_alias(spark, sf_dir):
        # distributed collection alias (SolrCloud two-phase): two REAL
        # member indexes over disjoint halves (doc_id parity), global
        # top-k = one TakeOrdered merge of member top-k, per-member stats
        from archivesspace_virgo_spark.index.multi import MultiIndexEngine

        key = ("multi_alias", sf_dir)
        if key not in _ENGINE_CACHE:
            cfg = IndexConfig(docs_per_shard=256)
            corpus = load_documents_as_corpus(spark, sf_dir)
            members = []
            for name, rem in [("a", 0), ("b", 1)]:
                d = _scratch_dir(f"avs_alias_{name}_")
                build_index(
                    spark, corpus.filter(F.col("doc_id") % 2 == rem), d, cfg
                )
                members.append(QueryEngine(spark, d, cfg))
            _ENGINE_CACHE[key] = MultiIndexEngine(members, labels=["a", "b"])
        res = _ENGINE_CACHE[key].search(TERMS_OR, k=K)
        return res.select(
            "index_id", "doc_id", _micro(F.col("score")).alias("score_micro")
        )
    q["multi_alias_topk"] = q_multi_alias

    def q_bm25_boost_exclude(spark, sf_dir):
        # Lucene BoostQuery + BooleanClause.MUST_NOT through the real engine
        # (q = spark^2 window merge -table): boost scales the term's idf so
        # pruning bounds stay exact; exclusion is a shard-local mask
        res = _engine_for(spark, sf_dir).search(
            TERMS_OR, k=K, exclude=["table"], boosts={"spark": 2.0}
        )
        return res.select("doc_id", _micro(F.col("score")).alias("score_micro"))
    q["bm25_boost_exclude"] = q_bm25_boost_exclude

    def q_bm25_field_scoped(spark, sf_dir):
        # SURVEY §2.8-T10: Solr-style field-scoped clause (lang:en) AND a
        # content term, through the compressed-index engine with per-field
        # norms (lang field: dl=1, avgdl=1 for every doc)
        engine = _engine_for(spark, sf_dir, fields=("content", "lang"))
        res = engine.search(["table", "lang:en"], k=K, mode="and")
        return res.select("doc_id", _micro(F.col("score")).alias("score_micro"))
    q["bm25_field_scoped"] = q_bm25_field_scoped

    def q_bm25_phrase(spark, sf_dir):
        # T2 positions + T8: Lucene-surface exact-phrase query through the
        # compressed index (positions decoded from pos_blob per shard)
        engine = _engine_for(spark, sf_dir)
        res = engine.phrase_search(PHRASE, k=K)
        return res.select("doc_id", _micro(F.col("score")).alias("score_micro"))
    q["bm25_phrase"] = q_bm25_phrase

    def q_bm25_paged(spark, sf_dir):
        # O3 (Solr cursor paging, start=5&rows=10, SolrHelper.java:43-66)
        # + Solr minimum-should-match in one query: page 2 of the mm=2
        # result set — both parameters must be exactly right for the rows
        # to match the oracle
        engine = _engine_for(spark, sf_dir)
        res = engine.search(TERMS_OR, k=K, offset=5, min_should_match=2)
        return res.select("doc_id", _micro(F.col("score")).alias("score_micro"))
    q["bm25_paged"] = q_bm25_paged

    def q_bm25_boolean_fq(spark, sf_dir):
        # the full Lucene BooleanQuery occur surface in one query: MUST
        # clauses (each an OR), MUST_NOT, non-scoring FILTER, and a boost
        engine = _engine_for(spark, sf_dir)
        res = engine.boolean_search(
            [["table"], ["join", "merge"]], k=K,
            exclude=["vector"], boosts={"join": 2.0},
            filters=[["value", "data"]],
        )
        return res.select("doc_id", _micro(F.col("score")).alias("score_micro"))
    q["bm25_boolean_fq"] = q_bm25_boolean_fq

    def q_bm25_dismax(spark, sf_dir):
        # Solr DisMax across content+lang fields (qf, tie) on the
        # multi-field index — per-term DisjunctionMax under per-field stats
        engine = _engine_for(spark, sf_dir, fields=("content", "lang"))
        res = engine.dismax_search(["table", "en"], fields=("content", "lang"),
                                   tie=0.3, k=K)
        return res.select("doc_id", _micro(F.col("score")).alias("score_micro"))
    q["bm25_dismax"] = q_bm25_dismax

    def q_bm25_with_fields(spark, sf_dir):
        # Solr fl= parity: hits enriched with stored doc_map fields via a
        # broadcast lookup join (SolrHelper.java:39-66 reads these back)
        engine = _engine_for(spark, sf_dir)
        res = engine.search_with_fields(TERMS_OR, k=K, fields=("repo", "lang"))
        return res.select(
            "doc_id", "repo", "lang", _micro(F.col("score")).alias("score_micro")
        )
    q["bm25_with_fields"] = q_bm25_with_fields

    def q_facet_search(spark, sf_dir):
        # T11/A6 consolidated (one driver row, two operators — the 50-row
        # evaluation window): facet.field over a query's full result set
        # (facet_count) joined with the unfiltered corpus facet
        # (total_count, the former facet_lang row)
        engine = _engine_for(spark, sf_dir)
        matched = engine.facet_search(TERMS_OR, "lang")
        totals = engine.facet("lang").withColumnRenamed(
            "facet_count", "total_count"
        )
        return matched.join(totals, "lang")
    q["facet_search_lang"] = q_facet_search

    def q_sorted_multi(spark, sf_dir):
        # Solr sort=f1 asc, f2 desc: unranked match set ordered by a
        # composite stored-field key (second key breaks first-key ties,
        # doc_id breaks the rest); merge stays TakeOrdered ≤k rows
        engine = _engine_for(spark, sf_dir)
        return engine.sorted_search(["table"], "lang asc, path desc", k=K)
    q["sorted_multi_field"] = q_sorted_multi

    def q_doc_stats(spark, sf_dir):
        # T5 consolidated (one driver row, two operators — the 50-row
        # evaluation window): per-doc dl plus the corpus-level stats row
        # (the former corpus_stats entry) broadcast onto every row
        from archivesspace_virgo_spark.tokenizer import tokens_column
        d = _docs(spark, sf_dir).select(
            "doc_id", F.size(tokens_column("text")).alias("dl")
        )
        stats = d.agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("dl").alias("total_tokens"),
            _micro(F.avg("dl")).alias("avgdl_micro"),
        )
        return d.crossJoin(F.broadcast(stats))
    q["doc_stats"] = q_doc_stats

    def q_df(spark, sf_dir):
        from archivesspace_virgo_spark.tokenizer import tokens_column
        d = _docs(spark, sf_dir)
        return (
            d.select(F.explode(F.array_distinct(tokens_column("text"))).alias("term"))
            .groupBy("term").agg(F.count(F.lit(1)).alias("df"))
        )
    q["term_doc_freq"] = q_df

    # --- text analysis (training-data pipeline) ---
    # consolidated multi-column entries (one driver row each) so every
    # operator fits inside the driver's evaluated-entry budget; each column
    # is still a distinct SURVEY/pipeline operator with its own SQL twin
    def q_token_counts(spark, sf_dir):
        # canonical-tokenizer, whitespace, and BPE-ish token counts in one
        # scan (three independent counting operators)
        return _docs(spark, sf_dir).select(
            "doc_id",
            TS.token_count("text").alias("n_tokens"),
            TS.token_count_ws("text").alias("n_tokens_ws"),
            TS.token_count_bpe("text").alias("n_tokens_bpe"),
        )
    q["token_counts"] = q_token_counts

    def q_text_quality_stats(spark, sf_dir):
        # language-ID heuristic + quality score + rolling-hash fingerprint
        # (F18/md5 change detection) in one scan
        return _docs(spark, sf_dir).select(
            "doc_id",
            TS.lang_id("text").alias("lang_guess"),
            _micro(TS.quality_score("text")).alias("quality_micro"),
            TS.fingerprint("text").alias("fp"),
        )
    q["text_quality_stats"] = q_text_quality_stats

    # --- dedup family ---
    def q_dedup_exact(spark, sf_dir):
        # the fixture has no exact duplicates, so a bare run verifies only
        # emptiness — union a re-keyed slice (doc_id+1000000) so real
        # duplicate groups exist; the oracle applies the same union
        d = _docs(spark, sf_dir).select("doc_id", "text")
        dup = d.filter(F.col("doc_id") < 50).select(
            (F.col("doc_id") + 1000000).alias("doc_id"), "text"
        )
        return D.exact_duplicates(d.unionByName(dup), "doc_id", "text")
    q["dedup_exact"] = q_dedup_exact

    def q_minhash(spark, sf_dir):
        # MinHash signature + SimHash fingerprint in one per-doc row (two
        # §2 sketch operators, one driver entry — same 500-doc row set)
        sig = D.minhash_signature(_docs(spark, sf_dir), "doc_id", "text", n_hashes=4)
        sh = D.simhash(_docs(spark, sf_dir), "doc_id", "text", bits=16)
        return sig.select(
            "doc_id",
            F.col("sig")[0].alias("h0"), F.col("sig")[1].alias("h1"),
            F.col("sig")[2].alias("h2"), F.col("sig")[3].alias("h3"),
        ).join(sh, "doc_id")
    q["minhash_signature"] = q_minhash

    def q_jaccard(spark, sf_dir):
        return D.ngram_jaccard_pairs(
            _docs(spark, sf_dir), "doc_id", "text", shingle_n=3, threshold=0.2
        ).select("id_a", "id_b", _micro(F.col("jaccard")).alias("jaccard_micro"))
    q["ngram_jaccard_pairs"] = q_jaccard

    def q_minhash_bands(spark, sf_dir):
        return D.minhash_band_pairs(
            _docs(spark, sf_dir), "doc_id", "text", n_hashes=8, bands=4
        )
    q["minhash_band_pairs"] = q_minhash_bands

    def q_dedup_clusters(spark, sf_dir):
        # the post-LSH operator of a real pretraining pipeline: candidate
        # pairs → connected components → one keeper per duplicate cluster
        pairs = D.minhash_band_pairs(
            _docs(spark, sf_dir), "doc_id", "text", n_hashes=8, bands=4
        )
        return D.duplicate_clusters(pairs)
    q["dedup_clusters"] = q_dedup_clusters

    # --- similarity search ---
    def q_cosine(spark, sf_dir):
        emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        res = S.cosine_topk(emb, ANN_QUERY, k=K)
        return res.select("vec_id", _micro(F.col("cos")).alias("cos_micro"))
    q["cosine_topk"] = q_cosine

    def q_ann_lsh(spark, sf_dir):
        emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        res = S.lsh_cosine_topk(emb, ANN_QUERY, k=K, n_planes=8, probe_hamming=1)
        return res.select("vec_id", _micro(F.col("cos")).alias("cos_micro"))
    q["ann_lsh_topk"] = q_ann_lsh

    def q_ivf_ann(spark, sf_dir):
        # IVF ANN through the REAL store path: embeddings materialized
        # partitioned by list_id (write_ivf_embeddings), probe reads only
        # the nprobe nearest lists' partitions, exact cosine re-rank.
        # Centroids are the seeded deterministic init (the k-means n_iter=0
        # point) so the SQL twin can inline them as literals; the Lloyd
        # training loop itself is pytest-verified (full-probe == exact).
        import numpy as np
        cent = np.asarray(S.deterministic_hyperplanes(64, 8, seed=21))
        key = ("ivf", sf_dir)
        if key not in _ENGINE_CACHE:
            emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
            store = _scratch_dir("avs_ivf_store_")
            S.write_ivf_embeddings(emb, cent, store)
            _ENGINE_CACHE[key] = store
        res = S.ivf_topk(spark, _ENGINE_CACHE[key], cent, ANN_QUERY, k=K, nprobe=2)
        return res.select("vec_id", _micro(F.col("cos")).alias("cos_micro"))
    q["ivf_ann_topk"] = q_ivf_ann

    def q_neardup_exact(spark, sf_dir):
        emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        res = S.embedding_neardup_pairs(emb, threshold=0.35)
        return res.select("id_a", "id_b", _micro(F.col("cos")).alias("cos_micro"))
    q["embedding_neardup_exact"] = q_neardup_exact

    def q_neardup_lsh(spark, sf_dir):
        emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        res = S.embedding_neardup_pairs_lsh(emb, threshold=0.35, n_planes=4)
        return res.select("id_a", "id_b", _micro(F.col("cos")).alias("cos_micro"))
    q["embedding_neardup_lsh"] = q_neardup_lsh

    # --- multimodal plumbing (binary payload + mapInPandas extraction) ---
    def q_multimodal_features(spark, sf_dir):
        # payload rides Arrow into the Python kernel and back; sha256 of the
        # payload proves byte fidelity end-to-end (the decode step itself is
        # an honest stub — no media libs in this container)
        from archivesspace_virgo_spark.operators import multimodal as M
        media = M.attach_fake_media(_docs(spark, sf_dir), "doc_id", "text")
        feats = M.extract_media_features(media, "doc_id", dim=16)
        return feats.select("doc_id", "mime", "n_bytes", "payload_sha256")
    q["multimodal_features"] = q_multimodal_features

    def q_frame_sample(spark, sf_dir):
        # frame-sampling plan shape: one row per sampled timestamp, payload
        # untouched until the (stubbed) decode map stage
        from archivesspace_virgo_spark.operators import multimodal as M
        media = M.attach_fake_media(_docs(spark, sf_dir), "doc_id", "text")
        media = media.withColumn(
            "media",
            F.col("media").withField(
                "duration_ms", (F.col("n_chars") % 5000).cast("int")
            ),
        )
        return M.frame_sample_plan(media, every_ms=100).select(
            "doc_id", F.col("frame_ts_ms").cast("long").alias("frame_ts_ms")
        )
    q["frame_sample_plan"] = q_frame_sample

    # --- reference ETL parity ops over the TPC-H-ish tables ---
    def q_schema_migrate(spark, sf_dir):
        # the reference's second entry point: v3→v4 field-map re-render
        # (aspace-solr-v3-to-v4.xsl applied by IndexRecordsForV4.java);
        # a v3-shaped relation is synthesized deterministically from orders
        from archivesspace_virgo_spark.operators.migrate import (
            schema_migrate_v3_to_v4,
        )
        o = spark.read.parquet(f"{sf_dir}/orders.parquet")
        v3 = o.select(
            F.col("o_orderkey").cast("string").alias("id"),
            F.col("o_orderpriority").alias("main_title_display"),
            F.concat(F.lit("ms box "), F.col("o_orderstatus")).alias("call_number_facet"),
            F.year("o_orderdate").alias("date_multisort_i"),
            F.when(F.col("o_orderkey") % 3 == 0, "Special Collections")
            .when(F.col("o_orderkey") % 3 == 1, "Law Library")
            .otherwise("Alderman").alias("library_facet"),
            F.when(F.col("o_orderkey") % 2 == 0, "Online")
            .otherwise("Book").alias("format_facet"),
            F.when(
                F.col("o_orderkey") % 5 == 0,
                F.concat(F.lit("http://guides.example/"),
                         F.col("o_orderkey").cast("string")),
            ).alias("online_url_display"),
            F.lit('{"location": "stacks"}').alias("special_collections_holding_display"),
            F.col("o_orderstatus").alias("source_facet"),
        )
        out = schema_migrate_v3_to_v4(v3, record_date="2026-01-01T00:00:00Z")
        # driver wire format: the two multivalued availability columns are
        # scalarized (','-join) — the operator itself keeps array semantics
        # (golden-tested in tests/test_migrate.py); the driver canonicalizer
        # cannot sort list-typed cells
        return out.withColumn(
            "uva_availability_f_stored",
            F.array_join("uva_availability_f_stored", ","),
        ).withColumn(
            "anon_availability_f_stored",
            F.array_join("anon_availability_f_stored", ","),
        )
    q["schema_migrate_v4"] = q_schema_migrate

    def q_natural_sort(spark, sf_dir):
        # O1, both branches in one row set: nat_key = the plain strnatcmp
        # key over p_name; frac_key = the fractional (leading-zero,
        # StringNaturalCompare.java:57-82) variant over labels synthesized
        # with and without leading zeros so that branch is exercised.
        # Driver wire format: the array<string> run key is joined with the
        # unit separator (chr(31) < '0' < every key byte), which preserves
        # element-wise ordering exactly; array semantics + ordering are
        # hypothesis-tested vs the strnatcmp comparator in
        # tests/test_natural_order.py
        p = spark.read.parquet(f"{sf_dir}/part.parquet")
        num = (F.col("p_partkey") % 50).cast("string")
        label = F.concat(
            F.lit("Box "),
            F.when(F.col("p_partkey") % 4 == 0, F.lpad(num, 3, "0")).otherwise(num),
        )
        return p.select(
            "p_partkey",
            E.natural_sort_key("p_name").alias("nat_key"),
            label.alias("label"),
            F.array_join(E.natural_sort_key_frac(label), "\x1f").alias("frac_key"),
        )
    q["natural_sort_key"] = q_natural_sort

    def q_scalar_etl_orders(spark, sf_dir):
        # consolidated per-orderkey scalar operators (one driver row, five
        # SURVEY ops, each its own column):
        #   age_buckets    — F5 date bucketing (ref_year=1998 sits inside the
        #                    synthetic 1995-2001 range so every label occurs)
        #   joined_id      — F2/F6/F12 null-skipping concat_ws id build
        #   end_year       — F4 end-year regex parse ('1912'/'1912-1918'/junk)
        #   published_date — F15 year -> ISO timestamp
        #   doc            — P4 shadow gate (status F rows emit the skeletal
        #                    projection, ASpaceObject.java:256-258)
        o = spark.read.parquet(f"{sf_dir}/orders.parquet")
        y = F.year("o_orderdate").cast("string")
        year_expr = (
            F.when(F.col("o_orderkey") % 3 == 0, y)
            .when(F.col("o_orderkey") % 3 == 1,
                  F.concat(y, F.lit("-"), (F.year("o_orderdate") + 5).cast("string")))
            .otherwise(F.concat(F.lit("circa "), y))
        )
        skeletal = F.concat_ws("|", F.col("o_orderkey").cast("string"))
        enriched = F.concat_ws(
            "|", F.col("o_orderkey").cast("string"), F.col("o_orderpriority"),
            F.col("o_custkey").cast("string"),
        )
        return o.select(
            "o_orderkey",
            E.date_bucket_labels(F.year("o_orderdate"), ref_year=1998).alias("age_buckets"),
            F.concat_ws(
                "-",
                F.col("o_orderstatus"),
                F.nullif(F.col("o_orderpriority"), F.lit("1-URGENT")),
                F.col("o_custkey").cast("string"),
            ).alias("joined_id"),
            E.end_year(year_expr).alias("end_year"),
            E.year_to_timestamp(F.year("o_orderdate")).alias("published_date"),
            E.shadow_gate(F.col("o_orderstatus") == "F", skeletal, enriched)
            .alias("doc"),
        )
    q["scalar_etl_orders"] = q_scalar_etl_orders

    def q_scalar_etl_part(spark, sf_dir):
        # consolidated per-partkey scalar operators (one driver row, ten
        # SURVEY ops, each its own column):
        #   norm_id                       — F1 id normalize
        #   translated                    — F13 XSLT translate
        #   has_green                     — P12 field-value membership
        #   manifest_url                  — F8 mirador URL extraction
        #   thumb_url                     — F9 thumbnail regex rewrite
        #   extracted_id, extracted_name  — F20 XPath extraction round-trip
        #   route                         — P5/U2 first-match route label
        #   candidate_id, is_virgo_id     — F22 prefix classification
        #   nonfiling                     — O5 non-filing sort offset
        #   extent_display                — F3 extent string build
        p = spark.read.parquet(f"{sf_dir}/part.parquet")
        k = F.col("p_partkey").cast("string")
        murl = F.when(
            F.col("p_partkey") % 2 == 0,
            F.concat(F.lit("http://mirador.lib/view?manifest=https://iiif.example/"), k),
        ).otherwise(F.concat(F.lit("https://plain.example/"), k))
        thumb_src = F.concat(
            F.lit("https://img.example/"),
            F.regexp_replace("p_name", " ", "-"),
            F.lit("/full/max/0/default.jpg"),
        )
        xml = F.concat(
            F.lit("<r><id>"), k, F.lit("</id><n>"), F.col("p_name"), F.lit("</n></r>"),
        )
        candidates = [
            F.concat(F.lit("VIU"), k), F.concat(F.lit("MSS "), k),
            F.concat(F.lit("RG_"), k), F.concat(F.lit("MS_/"), k),
            F.concat(F.lit("OTHER"), k),
        ]
        cid = F.array(*candidates)[(F.col("p_partkey") % 5).cast("int")]
        the_title = F.concat(F.lit("The "), F.col("p_name"))
        title = F.when(F.col("p_partkey") % 3 == 0, the_title).otherwise(F.col("p_name"))
        ext_type = F.regexp_replace("p_type", " ", "_")
        summary = F.when(F.col("p_partkey") % 3 == 0, F.col("p_brand"))
        return p.select(
            "p_partkey",
            E.normalize_id("p_type").alias("norm_id"),
            F.translate("p_name", "ms ", "MS_").alias("translated"),
            F.array_contains(F.split(F.col("p_name"), " "), "green").alias("has_green"),
            E.extract_manifest_url(murl).alias("manifest_url"),
            E.thumbnail_resize(thumb_src).alias("thumb_url"),
            F.xpath_string(xml, F.lit("/r/id")).alias("extracted_id"),
            F.xpath_string(xml, F.lit("/r/n")).alias("extracted_name"),
            E.route_label(
                "p_type",
                [
                    (F.col("p_type").startswith("ECONOMY"), "economy"),
                    (F.col("p_type").contains("BRASS"), "brass"),
                ],
                default="other",
            ).alias("route"),
            cid.alias("candidate_id"),
            E.is_unique_virgo_id(cid).alias("is_virgo_id"),
            E.nonfiling_offset(title).alias("nonfiling"),
            E.extent_string(F.col("p_size"), ext_type, summary).alias("extent_display"),
        )
    q["scalar_etl_part"] = q_scalar_etl_part

    def q_scalar_etl_customer(spark, sf_dir):
        # consolidated per-custkey scalar operators (one driver row):
        #   cust_num, id_valid      — F21/P10 regex-validated id projection
        #   role, display_name      — F17 role-suffix concat map
        #   location                — F7 exact-match location case map
        c = spark.read.parquet(f"{sf_dir}/customer.parquet")
        roles = F.array(*[F.lit(r) for r in ["cmp", "cnd", "aut", "sng", "zzz"]])
        role = roles[(F.col("c_custkey") % 5).cast("int")]
        loc = (
            F.when(F.col("c_mktsegment") == "BUILDING", "Building Dept")
            .when(F.col("c_mktsegment") == "AUTOMOBILE", "Auto Dept")
            .when(F.col("c_mktsegment") == "MACHINERY", "Machinery Dept")
            .when(F.col("c_mktsegment") == "HOUSEHOLD", "Household Dept")
            .otherwise("UNKNOWN")
        )
        return c.select(
            "c_custkey",
            F.regexp_extract("c_name", "Customer#(\\d+)", 1).cast("long").alias("cust_num"),
            F.col("c_name").rlike("^Customer#\\d{9}$").alias("id_valid"),
            role.alias("role"),
            E.role_suffix(F.col("c_name"), role).alias("display_name"),
            loc.alias("location"),
        )
    q["scalar_etl_customer"] = q_scalar_etl_customer

    def q_scalar_etl_events(spark, sf_dir):
        # consolidated per-event scalar operators (one driver row):
        #   prop_k                            — F19 dynamic JSON field access
        #   note_type, note_display, note_text — P9 note-type conditional
        #                                        projection
        ev = spark.read.parquet(f"{sf_dir}/events.parquet")
        ntype = F.when(F.col("event_id") % 4 == 0, "scopecontent").otherwise(
            F.col("event_type")
        )
        published = F.col("event_id") % 3 != 0
        text = F.col("props")
        return ev.select(
            "event_id",
            F.get_json_object("props", "$.k").cast("long").alias("prop_k"),
            ntype.alias("note_type"),
            F.when(ntype == "scopecontent", text).alias("note_display"),
            F.when(published, text).alias("note_text"),
        )
    q["scalar_etl_events"] = q_scalar_etl_events

    def q_collect_json(spark, sf_dir):
        # A2 (collect-to-JSON-array, suppliers) + A1 (order-stable
        # string-agg, customers) joined per nation — two agg operators,
        # one driver entry on the shared nation grain
        s = spark.read.parquet(f"{sf_dir}/supplier.parquet")
        c = spark.read.parquet(f"{sf_dir}/customer.parquet")
        ja = E.collect_json_array(
            s.select("s_nationkey", "s_name", "s_suppkey"),
            "s_nationkey", ["s_name", "s_suppkey"],
        )
        sa = E.string_agg(c, "c_nationkey", "c_name", sep="|")
        return ja.join(
            sa.withColumnRenamed("c_nationkey", "s_nationkey"), "s_nationkey"
        )
    q["collect_json_array"] = q_collect_json

    def q_semi(spark, sf_dir):
        c = spark.read.parquet(f"{sf_dir}/customer.parquet")
        o = spark.read.parquet(f"{sf_dir}/orders.parquet")
        return E.existing_semi_join(
            c.select(F.col("c_custkey")), o.select(F.col("o_custkey").alias("c_custkey")), "c_custkey"
        )
    q["semi_join_has_orders"] = q_semi

    def q_anti(spark, sf_dir):
        # every fixture customer has ≥1 order, so the unfiltered anti-join
        # is vacuously empty — anti-join against RECENT orders only
        # (o_orderdate ≥ 2000-01-01) so some customers genuinely lack a
        # matching order; the oracle applies the same cutoff
        c = spark.read.parquet(f"{sf_dir}/customer.parquet")
        o = spark.read.parquet(f"{sf_dir}/orders.parquet").filter(
            F.col("o_orderdate") >= F.lit("2000-01-01").cast("timestamp")
        )
        return E.shadowed_anti_join(
            c.select(F.col("c_custkey")), o.select(F.col("o_custkey").alias("c_custkey")), "c_custkey"
        )
    q["anti_join_no_orders"] = q_anti

    def q_ancestors(spark, sf_dir):
        # J2: iterative self-join to fixpoint over a synthetic 4-level tree
        # (parent = key // 10); oracle is DuckDB's recursive CTE
        from archivesspace_virgo_spark.operators.hierarchy import transitive_ancestors
        p = spark.read.parquet(f"{sf_dir}/part.parquet")
        edges = p.select(
            F.col("p_partkey").alias("id"),
            F.when(F.col("p_partkey") >= 10, (F.col("p_partkey") / 10).cast("long"))
            .alias("parent"),
        )
        return transitive_ancestors(edges, "id", "parent")
    q["hierarchy_ancestors"] = q_ancestors

    def q_subtree(spark, sf_dir):
        from archivesspace_virgo_spark.operators.hierarchy import subtree_aggregate
        p = spark.read.parquet(f"{sf_dir}/part.parquet")
        edges = p.select(
            F.col("p_partkey").alias("id"),
            F.when(F.col("p_partkey") >= 10, (F.col("p_partkey") / 10).cast("long"))
            .alias("parent"),
        )
        values = p.select(F.col("p_partkey").alias("id"), F.col("p_size").alias("value"))
        return subtree_aggregate(edges, values)
    q["hierarchy_subtree_sum"] = q_subtree

    def q_broadcast_dim(spark, sf_dir):
        # J1/J5: FK dimension enrichment as an explicit broadcast hash join
        # (the resolveReference point-lookup pattern, ArchivesSpaceClient.java:62-65)
        c = spark.read.parquet(f"{sf_dir}/customer.parquet")
        n = spark.read.parquet(f"{sf_dir}/nation.parquet")
        r = spark.read.parquet(f"{sf_dir}/region.parquet")
        dim = F.broadcast(
            n.join(F.broadcast(r), n["n_regionkey"] == r["r_regionkey"])
            .select(F.col("n_nationkey"), F.col("n_name"), F.col("r_name"))
        )
        return (
            c.join(dim, c["c_nationkey"] == dim["n_nationkey"], "left")
            .select("c_custkey", "n_name", "r_name")
        )
    q["broadcast_dim_join"] = q_broadcast_dim

    def q_topn_per_group(spark, sf_dir):
        # O2: bounded fan-out guard (<=5 digital objects, ASpaceObject.java:409)
        # + A5 first-value-per-group (the rn=1 row carries top_price_micro,
        # the sortDateSet/first-manifest semantics, ASpaceObject.java:303-321)
        from pyspark.sql.window import Window
        o = spark.read.parquet(f"{sf_dir}/orders.parquet")
        w = Window.partitionBy("o_custkey").orderBy(
            F.desc("o_totalprice"), F.asc("o_orderkey")
        )
        return (
            o.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= 3)
            .select(
                "o_custkey", "o_orderkey", "rn",
                F.when(F.col("rn") == 1, _micro(F.col("o_totalprice")))
                .alias("top_price_micro"),
            )
        )
    q["topn_per_group"] = q_topn_per_group

    def q_collection_visible(spark, sf_dir):
        # P1 (ASpaceCollection.java:45-49): visibility conjunction
        o = spark.read.parquet(f"{sf_dir}/orders.parquet")
        publish = F.col("o_orderkey") % 2 == 0
        status = F.when(F.col("o_orderkey") % 3 == 0, "completed").otherwise("pending")
        n_cont = (F.col("o_custkey") % 4).cast("int")
        return (
            o.withColumn("_vis", E.collection_visible(publish, status, n_cont))
            .filter(F.col("_vis"))
            .select("o_orderkey")
        )
    q["collection_visibility"] = q_collection_visible

    def q_postjoin_publish(spark, sf_dir):
        # P6+P8 (publish filters on joined dims; status predicate
        # ASpaceTopContainer.java:65): join then filter both sides'
        # publish/status flags
        c = spark.read.parquet(f"{sf_dir}/customer.parquet")
        o = spark.read.parquet(f"{sf_dir}/orders.parquet")
        return (
            o.join(c, o["o_custkey"] == c["c_custkey"])
            .filter((F.col("o_orderstatus") == "O")
                    & (F.col("c_mktsegment") == "BUILDING"))
            .select("o_orderkey", "c_custkey")
        )
    q["postjoin_publish_filter"] = q_postjoin_publish

    def q_barcode_coalesce(spark, sf_dir):
        # F10/F11 (ASpaceTopContainer.java:80-92): stored barcode else
        # derived AS:<repo>C<id> from the uri
        s = spark.read.parquet(f"{sf_dir}/supplier.parquet")
        barcode = F.when(F.col("s_suppkey") % 2 == 0, F.col("s_name"))
        uri = F.concat(F.lit("/repositories/3/top_containers/"),
                       F.col("s_suppkey").cast("string"))
        derived = F.concat(
            F.lit("AS:"),
            F.regexp_extract(uri, "/repositories/(\\d+)/", 1),
            F.lit("C"),
            F.regexp_extract(uri, "/top_containers/(\\d+)$", 1),
        )
        return s.select(
            "s_suppkey",
            E.coalesce_or_derived(barcode, derived).alias("barcode"),
        )
    q["barcode_coalesce"] = q_barcode_coalesce

    def q_union_dirty(spark, sf_dir):
        o = spark.read.parquet(f"{sf_dir}/orders.parquet")
        a = o.filter(F.col("o_orderstatus") == "F").select("o_custkey")
        b = o.filter(F.col("o_orderpriority") == "1-URGENT").select("o_custkey")
        return a.union(b).distinct()
    q["union_dirty_keys"] = q_union_dirty

    def q_range_filter(spark, sf_dir):
        ev = spark.read.parquet(f"{sf_dir}/events.parquet")
        return (
            ev.filter(
                (F.col("ts") >= "2024-01-10 00:00:00")
                & (F.col("ts") < "2024-01-20 00:00:00")
            )
            .groupBy("event_type")
            .agg(F.count(F.lit(1)).alias("n"), _micro(F.avg("value")).alias("avg_value_micro"))
        )
    q["range_filter_events"] = q_range_filter

    def q_bm25_prefix(spark, sf_dir):
        # Lucene PrefixQuery / Solr q=s* (SCORING_BOOLEAN rewrite): expand
        # against the index lexicon, BM25-score the expansion as an OR
        engine = _engine_for(spark, sf_dir)
        res = engine.prefix_search("s*", k=K)
        return res.select("doc_id", _micro(F.col("score")).alias("score_micro"))
    q["bm25_prefix"] = q_bm25_prefix

    def q_repetition_stats(spark, sf_dir):
        # Gopher-style repetition quality signals (Rae et al. 2021 §A1.1):
        # top-n-gram char coverage + duplicate-n-gram instance fraction,
        # n∈{2,3} — one shuffle-free fold per column (see textstats.py)
        d = _docs(spark, sf_dir)
        return d.select(
            "doc_id",
            _micro(TS.top_ngram_char_frac("text", 2)).alias("top2gram_frac_micro"),
            _micro(TS.dup_ngram_frac("text", 2)).alias("dup2gram_frac_micro"),
            _micro(TS.top_ngram_char_frac("text", 3)).alias("top3gram_frac_micro"),
            _micro(TS.dup_ngram_frac("text", 3)).alias("dup3gram_frac_micro"),
        )
    q["repetition_stats"] = q_repetition_stats

    return q


# ---------------------------------------------------------------------------
# oracle_sql(): DuckDB ANSI SQL over the pre-registered views
# ---------------------------------------------------------------------------

def oracle_sql() -> dict[str, str]:
    from archivesspace_virgo_spark.functions.bm25 import bm25_oracle_sql

    def micro(expr: str) -> str:
        return f"CAST(round(({expr}) * 1000000.0) AS BIGINT)"

    o: dict[str, str] = {}

    def bm25_micro(terms, mode, **kw):
        inner = bm25_oracle_sql(terms, k=K, mode=mode, **kw)
        return (
            f"SELECT doc_id, {micro('score')} AS score_micro FROM ({inner}) t"
        )

    o["bm25_topk_or"] = bm25_micro(TERMS_OR, "or")
    o["bm25_topk_and"] = bm25_micro(TERMS_AND, "and")
    o["bm25_topk_rare"] = bm25_micro(TERMS_RARE, "or")
    o["bm25_engine_topk"] = bm25_micro(TERMS_OR, "or")

    # distributed alias: per-member BM25 (each half is its own corpus with
    # its own N/avgdl/df — the per-shard-stats SolrCloud default), member
    # top-k unioned, ONE global order on (score, index_id, doc_id).
    # Ordering runs on the full-precision score; micro-rounding happens in
    # the projection, mirroring the engine's merge-then-round.
    half_a = bm25_oracle_sql(
        TERMS_OR, k=K, mode="or", raw_score=True,
        table="(SELECT * FROM documents WHERE doc_id % 2 = 0)",
    )
    half_b = bm25_oracle_sql(
        TERMS_OR, k=K, mode="or", raw_score=True,
        table="(SELECT * FROM documents WHERE doc_id % 2 = 1)",
    )
    o["multi_alias_topk"] = f"""
SELECT index_id, doc_id, {micro('score')} AS score_micro
FROM (
  SELECT 'a' AS index_id, doc_id, score FROM ({half_a}) ta
  UNION ALL
  SELECT 'b' AS index_id, doc_id, score FROM ({half_b}) tb
)
ORDER BY score DESC, index_id ASC, doc_id ASC
LIMIT {K}
"""
    o["bm25_boost_exclude"] = bm25_micro(
        TERMS_OR, "or", boosts={"spark": 2.0}, exclude=["table"]
    )

    # field-scoped AND: content BM25 for 'table' + lang-field contribution.
    # The lang field tokenizes to exactly one token per doc -> dl=1, avgdl=1,
    # tf=1, so its per-doc BM25 term is idf_lang * 1/(1 + k1*(1-b+b*1/1)),
    # written below with the engine's literal formula shape.
    o["bm25_field_scoped"] = f"""
WITH tok AS (
  SELECT doc_id,
         unnest({_TOKS}) AS term
  FROM documents
),
tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2),
dl AS (SELECT doc_id, count(*) AS dl FROM tok GROUP BY 1),
stats AS (
  SELECT count(*) AS n_docs, avg(dl) AS avgdl
  FROM (SELECT d.doc_id, coalesce(dl.dl, 0) AS dl
        FROM documents d LEFT JOIN dl ON d.doc_id = dl.doc_id)
),
dft AS (SELECT count(*) AS df FROM tf WHERE term = 'table'),
langdf AS (SELECT count(*) AS df FROM documents WHERE lower(lang) = 'en'),
scored AS (
  SELECT tf.doc_id,
         ln(1.0 + (stats.n_docs - dft.df + 0.5) / (dft.df + 0.5))
           * tf.tf / (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * dl.dl / stats.avgdl))
         + ln(1.0 + (stats.n_docs - langdf.df + 0.5) / (langdf.df + 0.5))
           * 1.0 / (1.0 + 1.2 * (1.0 - 0.75 + 0.75 * 1.0 / 1.0)) AS _score
  FROM tf
  JOIN documents d ON tf.doc_id = d.doc_id
  JOIN dl ON tf.doc_id = dl.doc_id
  CROSS JOIN stats CROSS JOIN dft CROSS JOIN langdf
  WHERE tf.term = 'table' AND lower(d.lang) = 'en'
)
SELECT doc_id, CAST(round(_score * 1000000.0) AS BIGINT) AS score_micro
FROM scored ORDER BY _score DESC, doc_id ASC LIMIT {K}
"""

    from archivesspace_virgo_spark.functions.bm25 import phrase_oracle_sql
    phrase_inner = phrase_oracle_sql(PHRASE, k=K)
    o["bm25_phrase"] = (
        f"SELECT doc_id, {micro('score')} AS score_micro FROM ({phrase_inner}) t"
    )

    paged_inner = bm25_oracle_sql(TERMS_OR, k=K, mode="or", offset=5,
                                  min_should_match=2)
    o["bm25_paged"] = (
        f"SELECT doc_id, {micro('score')} AS score_micro FROM ({paged_inner}) t"
    )

    from archivesspace_virgo_spark.functions.bm25 import (
        bm25_boolean_oracle_sql,
        dismax_oracle_sql,
    )
    bool_inner = bm25_boolean_oracle_sql(
        [["table"], ["join", "merge"]], k=K,
        exclude=["vector"], boosts={"join": 2.0},
        filter_sql=["tf.doc_id IN (SELECT DISTINCT doc_id FROM tok "
                    "WHERE term IN ('value', 'data'))"],
    )
    o["bm25_boolean_fq"] = (
        f"SELECT doc_id, {micro('score')} AS score_micro FROM ({bool_inner}) t"
    )
    dm_inner = dismax_oracle_sql(["table", "en"],
                                 {"content": "text", "lang": "lang"},
                                 tie=0.3, k=K)
    o["bm25_dismax"] = (
        f"SELECT doc_id, {micro('score')} AS score_micro FROM ({dm_inner}) t"
    )

    # fl= parity: bm25 hits joined to the documents table's stored fields
    # (doc_map repo = documents.source per the corpus adapter)
    fl_inner = bm25_oracle_sql(TERMS_OR, k=K, mode="or")
    o["bm25_with_fields"] = f"""
SELECT t.doc_id, d.source AS repo, d.lang,
       {micro('t.score')} AS score_micro
FROM ({fl_inner}) t JOIN documents d ON t.doc_id = d.doc_id
"""

    terms_list = ", ".join(f"'{t}'" for t in TERMS_OR)
    o["facet_search_lang"] = f"""
SELECT m.lang, m.facet_count, t.total_count
FROM (
  SELECT lang, count(*) AS facet_count
  FROM documents
  WHERE len(list_intersect({_TOKS}, [{terms_list}])) > 0
  GROUP BY lang
) m JOIN (
  SELECT lang, count(*) AS total_count FROM documents GROUP BY lang
) t ON m.lang = t.lang
"""

    o["sorted_multi_field"] = f"""
SELECT doc_id, lang, 'doc/' || CAST(doc_id AS VARCHAR) AS path
FROM documents
WHERE len(list_intersect({_TOKS}, ['table'])) > 0
ORDER BY lang ASC NULLS FIRST, path DESC NULLS LAST, doc_id ASC
LIMIT {K}
"""

    o["doc_stats"] = f"""
SELECT doc_id, len({_TOKS}) AS dl, s.n_docs, s.total_tokens, s.avgdl_micro
FROM documents
CROSS JOIN (
  SELECT count(*) AS n_docs, CAST(sum(dl) AS BIGINT) AS total_tokens,
         {micro('avg(dl)')} AS avgdl_micro
  FROM (SELECT len({_TOKS}) AS dl FROM documents)
) s
"""

    o["term_doc_freq"] = f"""
SELECT term, count(*) AS df
FROM (SELECT doc_id, unnest(list_distinct({_TOKS})) AS term FROM documents)
GROUP BY term
"""

    o["token_counts"] = f"""
SELECT doc_id,
       {TS.token_count_sql('text')} AS n_tokens,
       {TS.token_count_ws_sql('text')} AS n_tokens_ws,
       {TS.token_count_bpe_sql('text')} AS n_tokens_bpe
FROM documents
"""
    o["text_quality_stats"] = f"""
SELECT doc_id,
       {TS.lang_id_sql('text')} AS lang_guess,
       {micro(TS.quality_score_sql('text'))} AS quality_micro,
       {TS.fingerprint_sql('text')} AS fp
FROM documents
"""

    o["dedup_exact"] = D.exact_duplicates_sql(
        "(SELECT doc_id, text FROM documents UNION ALL "
        "SELECT doc_id + 1000000, text FROM documents WHERE doc_id < 50)",
        "doc_id", "text",
    )

    # multimodal: fake payload = utf-8(text), so byte fidelity through the
    # Arrow round-trip is checkable as sha256/octet_length of the text
    o["multimodal_features"] = """
SELECT doc_id, 'application/x-fake' AS mime,
       CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
       sha256(text) AS payload_sha256
FROM documents
"""
    o["frame_sample_plan"] = """
SELECT doc_id,
       CAST(unnest(generate_series(0, ((n_chars % 5000) // 100) * 100, 100))
            AS BIGINT) AS frame_ts_ms
FROM documents
"""

    sh = D.shingles_sql("text", 3)
    hash_sql = lambda seed: D.hash64_sql("sh", seed)  # noqa: E731
    _th = D.hash64_sql("term", 7)
    o["minhash_signature"] = f"""
WITH ex AS (SELECT doc_id, unnest({sh}) AS sh FROM documents),
sig AS (
  SELECT doc_id,
         min({hash_sql(0)}) AS h0, min({hash_sql(1)}) AS h1,
         min({hash_sql(2)}) AS h2, min({hash_sql(3)}) AS h3
  FROM ex GROUP BY doc_id
),
stf AS (
  SELECT doc_id AS _id, term, count(*) AS tf
  FROM (SELECT doc_id, unnest({_TOKS}) AS term FROM documents)
  GROUP BY 1, 2
),
sth AS (SELECT _id, tf, {_th} AS h FROM stf),
sbits AS (
  SELECT _id, i,
         sum(CASE WHEN (h >> i) & 1 = 1 THEN tf ELSE -tf END) AS s
  FROM sth, range(16) r(i)
  GROUP BY 1, 2
),
spacked AS (
  SELECT _id, sum(CASE WHEN s > 0 THEN (1::BIGINT << i) ELSE 0 END) AS simhash
  FROM sbits GROUP BY _id
)
SELECT d.doc_id, sig.h0, sig.h1, sig.h2, sig.h3,
       CAST(coalesce(p.simhash, 0) AS BIGINT) AS simhash
FROM documents d
LEFT JOIN sig ON d.doc_id = sig.doc_id
JOIN spacked p ON d.doc_id = p._id
"""

    o["ngram_jaccard_pairs"] = f"""
WITH ex AS (SELECT doc_id AS _id, unnest({sh}) AS sh FROM documents),
sizes AS (SELECT _id, count(*) AS n_sh FROM ex GROUP BY _id),
minsh AS (SELECT _id, min({hash_sql(0)}) AS min_h FROM ex GROUP BY _id),
cand AS (
  SELECT a._id AS id_a, b._id AS id_b
  FROM minsh a JOIN minsh b ON a.min_h = b.min_h AND a._id < b._id
),
inter AS (
  SELECT c.id_a, c.id_b, count(*) AS n_inter
  FROM cand c
  JOIN ex x ON c.id_a = x._id
  JOIN ex y ON c.id_b = y._id AND x.sh = y.sh
  GROUP BY c.id_a, c.id_b
)
SELECT i.id_a, i.id_b,
       {micro('round(n_inter / (sa.n_sh + sb.n_sh - n_inter), 6)')} AS jaccard_micro
FROM inter i
JOIN sizes sa ON i.id_a = sa._id
JOIN sizes sb ON i.id_b = sb._id
WHERE round(n_inter / (sa.n_sh + sb.n_sh - n_inter), 6) >= 0.2
"""

    # the LSH trio is approximate w.r.t. the exhaustive answer but fully
    # deterministic by construction (seeded md5 hyperplanes / band hashes),
    # so each has an EXACT SQL twin — the scale path is oracle-verified
    o["minhash_band_pairs"] = D.minhash_band_pairs_sql(
        "documents", "doc_id", "text", n_hashes=8, bands=4
    )
    o["dedup_clusters"] = D.duplicate_clusters_sql(
        D.minhash_band_pairs_sql("documents", "doc_id", "text", n_hashes=8, bands=4)
    )
    o["ann_lsh_topk"] = (
        "SELECT vec_id, {m} AS cos_micro FROM ({inner}) t".format(
            m=micro("cos"),
            inner=S.lsh_cosine_topk_sql(ANN_QUERY, k=K, n_planes=8, probe_hamming=1),
        )
    )
    import numpy as _np
    _ivf_cent = _np.asarray(S.deterministic_hyperplanes(64, 8, seed=21))
    o["ivf_ann_topk"] = (
        "SELECT vec_id, {m} AS cos_micro FROM ({inner}) t".format(
            m=micro("cos"),
            inner=S.ivf_topk_sql(_ivf_cent, ANN_QUERY, k=K, nprobe=2),
        )
    )
    o["embedding_neardup_lsh"] = (
        "SELECT id_a, id_b, {m} AS cos_micro FROM ({inner}) t".format(
            m=micro("cos"),
            inner=S.embedding_neardup_pairs_lsh_sql(threshold=0.35, n_planes=4),
        )
    )

    o["cosine_topk"] = (
        "SELECT vec_id, {m} AS cos_micro FROM ({inner}) t".format(
            m=micro("cos"), inner=S.cosine_topk_sql(ANN_QUERY, k=K)
        )
    )

    o["embedding_neardup_exact"] = (
        "SELECT id_a, id_b, {m} AS cos_micro FROM ({inner}) t".format(
            m=micro("cos"), inner=S.embedding_neardup_pairs_sql(threshold=0.35)
        )
    )

    o["schema_migrate_v4"] = """
WITH v3 AS (
  SELECT CAST(o_orderkey AS VARCHAR) AS id,
         o_orderpriority AS main_title_display,
         'ms box ' || o_orderstatus AS call_number_facet,
         year(o_orderdate) AS date_multisort_i,
         CASE WHEN o_orderkey % 3 = 0 THEN 'Special Collections'
              WHEN o_orderkey % 3 = 1 THEN 'Law Library'
              ELSE 'Alderman' END AS library_facet,
         CASE WHEN o_orderkey % 2 = 0 THEN 'Online' ELSE 'Book' END AS format_facet,
         CASE WHEN o_orderkey % 5 = 0
              THEN 'http://guides.example/' || CAST(o_orderkey AS VARCHAR)
         END AS online_url_display,
         '{"location": "stacks"}' AS special_collections_holding_display,
         o_orderstatus AS source_facet
  FROM orders
)
SELECT 'archival' AS pool_f,
       'false' AS circulating_f,
       '2026-01-01T00:00:00Z' AS record_date_stored,
       CASE WHEN format_facet = 'Online' THEN 'Online,On shelf'
            ELSE 'On shelf' END AS uva_availability_f_stored,
       CASE WHEN format_facet = 'Online' THEN 'Online,On shelf'
            ELSE 'On shelf' END AS anon_availability_f_stored,
       translate(call_number_facet, 'ms', 'MS') AS call_number_tsearch_stored,
       translate(call_number_facet, 'ms ', 'MS_') AS mss_work_key_sort,
       translate(call_number_facet, 'ms ', 'MS_') AS work_title3_key_ssort,
       translate(call_number_facet, 'ms ', 'MS_') AS work_title2_key_ssort,
       CASE WHEN date_multisort_i IS NOT NULL
            THEN CAST(date_multisort_i AS VARCHAR) || '-01-01T00:00:00Z'
       END AS published_date,
       replace(special_collections_holding_display,
               '"location"', '"current_location"') AS sc_availability_large_single,
       online_url_display AS url_supp_a,
       CASE WHEN online_url_display IS NOT NULL
            THEN 'GUIDE TO THE COLLECTION AVAILABLE ONLINE'
       END AS url_label_supp_a,
       library_facet AS library_f_stored,
       CASE WHEN library_facet = 'Special Collections' THEN library_facet
            ELSE source_facet END AS source_f_stored,
       id AS id,
       CAST(NULL AS VARCHAR) AS shadowed_location_f,
       CAST(NULL AS VARCHAR) AS aspace_version_f,
       main_title_display AS title_tsearch_stored,
       CAST(NULL AS VARCHAR) AS full_title_tsearchf_stored,
       format_facet AS format_f_stored,
       CAST(NULL AS VARCHAR) AS subject_tsearchf_stored,
       CAST(NULL AS VARCHAR) AS extent_tsearch_stored,
       CAST(NULL AS VARCHAR) AS published_display_tsearch_stored,
       CAST(NULL AS VARCHAR) AS author_tsearchf_stored,
       CAST(NULL AS VARCHAR) AS note_tsearch_stored,
       CAST(NULL AS VARCHAR) AS rs_uri_a
FROM v3
"""

    frac_label = ("'Box ' || (CASE WHEN p_partkey % 4 = 0 "
                  "THEN lpad(CAST(p_partkey % 50 AS VARCHAR), 3, '0') "
                  "ELSE CAST(p_partkey % 50 AS VARCHAR) END)")
    o["natural_sort_key"] = f"""
WITH lab AS (SELECT p_partkey, p_name, {frac_label} AS label FROM part)
SELECT p_partkey, {E.natural_sort_key_sql('p_name')} AS nat_key, label,
       array_to_string({E.natural_sort_key_frac_sql('label')}, chr(31)) AS frac_key
FROM lab
"""

    yexpr = ("CASE WHEN o_orderkey % 3 = 0 THEN CAST(year(o_orderdate) AS VARCHAR) "
             "WHEN o_orderkey % 3 = 1 THEN CAST(year(o_orderdate) AS VARCHAR) || '-' "
             "|| CAST(year(o_orderdate) + 5 AS VARCHAR) "
             "ELSE 'circa ' || CAST(year(o_orderdate) AS VARCHAR) END")
    o["scalar_etl_orders"] = f"""
SELECT o_orderkey,
       {E.date_bucket_labels_sql("year(o_orderdate)", ref_year=1998)} AS age_buckets,
       concat_ws('-', o_orderstatus, nullif(o_orderpriority, '1-URGENT'),
                 CAST(o_custkey AS VARCHAR)) AS joined_id,
       {E.end_year_sql(yexpr)} AS end_year,
       {E.year_to_timestamp_sql("year(o_orderdate)")} AS published_date,
       CASE WHEN o_orderstatus = 'F'
            THEN concat_ws('|', CAST(o_orderkey AS VARCHAR))
            ELSE concat_ws('|', CAST(o_orderkey AS VARCHAR), o_orderpriority,
                           CAST(o_custkey AS VARCHAR))
       END AS doc
FROM orders
"""

    nf_title = ("CASE WHEN p_partkey % 3 = 0 THEN 'The ' || p_name "
                "ELSE p_name END")
    thumb_src = ("'https://img.example/' || regexp_replace(p_name, ' ', '-', 'g') "
                 "|| '/full/max/0/default.jpg'")
    murl = ("CASE WHEN p_partkey % 2 = 0 THEN "
            "'http://mirador.lib/view?manifest=https://iiif.example/' || CAST(p_partkey AS VARCHAR) "
            "ELSE 'https://plain.example/' || CAST(p_partkey AS VARCHAR) END")
    ext = E.extent_string_sql(
        "p_size", "regexp_replace(p_type, ' ', '_', 'g')",
        "CASE WHEN p_partkey % 3 = 0 THEN p_brand END",
    )
    cid = ("['VIU' || k, 'MSS ' || k, 'RG_' || k, 'MS_/' || k, 'OTHER' || k]"
           "[CAST(p_partkey % 5 AS INT) + 1]")
    o["scalar_etl_part"] = f"""
WITH src AS (SELECT *, CAST(p_partkey AS VARCHAR) AS k FROM part),
lab AS (SELECT *, {cid} AS candidate_id FROM src)
SELECT p_partkey,
       {E.normalize_id_sql('p_type')} AS norm_id,
       translate(p_name, 'ms ', 'MS_') AS translated,
       list_contains(string_split(p_name, ' '), 'green') AS has_green,
       {E.extract_manifest_url_sql(murl)} AS manifest_url,
       {E.thumbnail_resize_sql(thumb_src)} AS thumb_url,
       k AS extracted_id,
       p_name AS extracted_name,
       CASE WHEN starts_with(p_type, 'ECONOMY') THEN 'economy'
            WHEN contains(p_type, 'BRASS') THEN 'brass'
            ELSE 'other' END AS route,
       candidate_id,
       {E.is_unique_virgo_id_sql('candidate_id')} AS is_virgo_id,
       {E.nonfiling_offset_sql(nf_title)} AS nonfiling,
       {ext} AS extent_display
FROM lab
"""

    role = "['cmp', 'cnd', 'aut', 'sng', 'zzz'][CAST(c_custkey % 5 AS INT) + 1]"
    o["scalar_etl_customer"] = rf"""
SELECT c_custkey,
       CAST(regexp_extract(c_name, 'Customer#(\d+)', 1) AS BIGINT) AS cust_num,
       regexp_matches(c_name, '^Customer#\d{{9}}$') AS id_valid,
       {role} AS role,
       {E.role_suffix_sql('c_name', role)} AS display_name,
       CASE c_mktsegment
         WHEN 'BUILDING' THEN 'Building Dept'
         WHEN 'AUTOMOBILE' THEN 'Auto Dept'
         WHEN 'MACHINERY' THEN 'Machinery Dept'
         WHEN 'HOUSEHOLD' THEN 'Household Dept'
         ELSE 'UNKNOWN' END AS location
FROM customer
"""

    o["scalar_etl_events"] = """
SELECT event_id,
       CAST(json_extract_string(props, '$.k') AS BIGINT) AS prop_k,
       CASE WHEN event_id % 4 = 0 THEN 'scopecontent' ELSE event_type END AS note_type,
       CASE WHEN (CASE WHEN event_id % 4 = 0 THEN 'scopecontent' ELSE event_type END)
                 = 'scopecontent' THEN props END AS note_display,
       CASE WHEN event_id % 3 <> 0 THEN props END AS note_text
FROM events
"""

    o["collect_json_array"] = """
WITH ja AS (
  SELECT s_nationkey,
         '[' || string_agg(json_object('s_name', s_name, 's_suppkey', s_suppkey)::VARCHAR,
                           ',' ORDER BY s_name, s_suppkey) || ']' AS json_arr
  FROM supplier GROUP BY s_nationkey
),
sa AS (
  SELECT c_nationkey, string_agg(c_name, '|' ORDER BY c_name) AS agg_value
  FROM customer GROUP BY c_nationkey
)
SELECT ja.s_nationkey, ja.json_arr, sa.agg_value
FROM ja JOIN sa ON ja.s_nationkey = sa.c_nationkey
"""
    o["semi_join_has_orders"] = """
SELECT c_custkey FROM customer
WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
"""
    o["anti_join_no_orders"] = """
SELECT c_custkey FROM customer
WHERE NOT EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey
                    AND o_orderdate >= TIMESTAMP '2000-01-01')
"""
    o["hierarchy_ancestors"] = """
WITH RECURSIVE anc AS (
  SELECT p_partkey AS id,
         CAST(p_partkey // 10 AS BIGINT) AS ancestor, 1 AS depth
  FROM part WHERE p_partkey >= 10
  UNION ALL
  SELECT a.id, CAST(p.ancestor AS BIGINT), a.depth + 1
  FROM anc a
  JOIN (SELECT p_partkey AS id, CAST(p_partkey // 10 AS BIGINT) AS ancestor
        FROM part WHERE p_partkey >= 10) p
    ON a.ancestor = p.id
)
SELECT id, ancestor, depth FROM anc
"""

    o["hierarchy_subtree_sum"] = """
WITH RECURSIVE anc AS (
  SELECT p_partkey AS id,
         CAST(p_partkey // 10 AS BIGINT) AS ancestor, 1 AS depth
  FROM part WHERE p_partkey >= 10
  UNION ALL
  SELECT a.id, CAST(p.ancestor AS BIGINT), a.depth + 1
  FROM anc a
  JOIN (SELECT p_partkey AS id, CAST(p_partkey // 10 AS BIGINT) AS ancestor
        FROM part WHERE p_partkey >= 10) p
    ON a.ancestor = p.id
),
pairs AS (
  SELECT id AS node, ancestor AS agg_to FROM anc
  UNION ALL
  SELECT p_partkey, p_partkey FROM part
)
SELECT pr.agg_to AS id, CAST(sum(p.p_size) AS BIGINT) AS subtree_sum
FROM pairs pr JOIN part p ON pr.node = p.p_partkey
GROUP BY pr.agg_to
"""

    o["broadcast_dim_join"] = """
SELECT c_custkey, n_name, r_name
FROM customer
LEFT JOIN nation ON c_nationkey = n_nationkey
LEFT JOIN region ON n_regionkey = r_regionkey
"""

    o["topn_per_group"] = f"""
SELECT o_custkey, o_orderkey, rn,
       CASE WHEN rn = 1 THEN {micro('o_totalprice')} END AS top_price_micro
FROM (
  SELECT o_custkey, o_orderkey, o_totalprice,
         row_number() OVER (PARTITION BY o_custkey
                            ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
  FROM orders
) WHERE rn <= 3
"""

    o["collection_visibility"] = """
SELECT o_orderkey FROM orders
WHERE (o_orderkey % 2 = 0)
  AND (CASE WHEN o_orderkey % 3 = 0 THEN 'completed' ELSE 'pending' END) = 'completed'
  AND CAST(o_custkey % 4 AS INT) > 0
"""

    o["postjoin_publish_filter"] = """
SELECT o_orderkey, c_custkey
FROM orders JOIN customer ON o_custkey = c_custkey
WHERE o_orderstatus = 'O' AND c_mktsegment = 'BUILDING'
"""

    o["barcode_coalesce"] = """
SELECT s_suppkey,
       coalesce(CASE WHEN s_suppkey % 2 = 0 THEN s_name END,
                'AS:3C' || CAST(s_suppkey AS VARCHAR)) AS barcode
FROM supplier
"""

    o["union_dirty_keys"] = """
SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
UNION
SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
"""
    o["range_filter_events"] = f"""
SELECT event_type, count(*) AS n, {micro('avg(value)')} AS avg_value_micro
FROM events
WHERE ts >= TIMESTAMP '2024-01-10 00:00:00' AND ts < TIMESTAMP '2024-01-20 00:00:00'
GROUP BY event_type
"""

    from archivesspace_virgo_spark.functions.bm25 import bm25_prefix_oracle_sql
    prefix_inner = bm25_prefix_oracle_sql("s", k=K)
    o["bm25_prefix"] = (
        f"SELECT doc_id, {micro('score')} AS score_micro FROM ({prefix_inner}) t"
    )

    o["repetition_stats"] = f"""
SELECT doc_id,
       {micro(TS.top_ngram_char_frac_sql('text', 2))} AS top2gram_frac_micro,
       {micro(TS.dup_ngram_frac_sql('text', 2))} AS dup2gram_frac_micro,
       {micro(TS.top_ngram_char_frac_sql('text', 3))} AS top3gram_frac_micro,
       {micro(TS.dup_ngram_frac_sql('text', 3))} AS dup3gram_frac_micro
FROM documents
"""
    return o

"""Position storage + phrase query tests (SURVEY.md §2.8-T2 "collect
positions" / T8; the reference's quoted-phrase Solr surface,
SolrHelper.java:39-80)."""

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from archivesspace_virgo_spark import codec
from archivesspace_virgo_spark.config import IndexConfig
from archivesspace_virgo_spark.corpus import load_documents_as_corpus
from archivesspace_virgo_spark.index.build import build_index
from archivesspace_virgo_spark.index.query import QueryEngine
from archivesspace_virgo_spark.oracle import oracle_phrase_search

from tests.conftest import SF_SMOKE

CFG = IndexConfig(docs_per_shard=64, block_size=16)


# --- codec: segment-batched varbyte + position round-trips ---

@settings(max_examples=100, deadline=None)
@given(
    st.lists(st.integers(min_value=0, max_value=2**40), max_size=200),
    st.data(),
)
def test_varbyte_segments_match_per_segment_encode(vals, data):
    v = np.array(vals, dtype=np.uint64)
    n_segs = data.draw(st.integers(min_value=1, max_value=max(1, len(vals))))
    cuts = sorted(
        data.draw(
            st.lists(
                st.integers(min_value=0, max_value=len(vals)),
                min_size=n_segs - 1, max_size=n_segs - 1,
            )
        )
    )
    starts = np.array([0] + cuts, dtype=np.int64)
    ends = np.append(starts[1:], len(vals))
    stream, seg_off, _ = codec.varbyte_encode_stream(v, starts)
    assert seg_off.size == starts.size + 1 and seg_off[-1] == stream.size
    for a, z, s, e in zip(seg_off[:-1], seg_off[1:], starts, ends):
        assert stream[a:z].tobytes() == codec.varbyte_encode(v[s:e])


def test_position_roundtrip():
    rng = np.random.default_rng(7)
    for n_postings in [1, 5, 50]:
        tfs = rng.integers(1, 9, size=n_postings).astype(np.int64)
        segs = [np.sort(rng.choice(500, size=t, replace=False)) for t in tfs]
        flat = np.concatenate(segs).astype(np.int64)
        # delta-encode exactly like the packer: first absolute per segment
        d = np.empty(flat.size, dtype=np.int64)
        d[0] = flat[0]
        d[1:] = flat[1:] - flat[:-1]
        seg_starts = np.concatenate([[0], np.cumsum(tfs)[:-1]])
        d[seg_starts] = flat[seg_starts]
        blob = codec.varbyte_encode(d.astype(np.uint64))
        out = codec.decode_positions(blob, tfs)
        assert (out == flat).all()


# --- engine vs brute-force oracle ---

@pytest.fixture(scope="module")
def engine(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("phrase_idx"))
    corpus = load_documents_as_corpus(spark, SF_SMOKE)
    build_index(spark, corpus, d, CFG)
    return QueryEngine(spark, d, CFG)


@pytest.fixture(scope="module")
def raw_docs(spark):
    corpus = load_documents_as_corpus(spark, SF_SMOKE)
    return [
        (r["doc_id"], r["content"])
        for r in corpus.select("doc_id", "content").collect()
    ]


@pytest.mark.parametrize(
    "phrase",
    [
        ["value", "table"],
        ["table", "table"],        # adjacent self-repeat
        ["fast", "table", "value"],  # 3-gram (may be rare/absent: both agree)
        ["spark", "window"],
    ],
)
def test_phrase_matches_oracle(engine, raw_docs, phrase):
    got = [
        (r["doc_id"], round(r["score"], 6))
        for r in engine.phrase_search(phrase, k=10).collect()
    ]
    exp = [(d, round(s, 6)) for d, s in oracle_phrase_search(raw_docs, phrase, k=10)]
    assert got == exp


def test_phrase_string_input_tokenizes(engine, raw_docs):
    got = [(r["doc_id"], round(r["score"], 6))
           for r in engine.phrase_search("Value, TABLE!", k=5).collect()]
    exp = [(d, round(s, 6))
           for d, s in oracle_phrase_search(raw_docs, ["value", "table"], k=5)]
    assert got == exp


def test_phrase_absent_term_empty(engine):
    assert engine.phrase_search(["value", "zzzznotaterm"], k=5).count() == 0


def test_phrase_offset_paging(engine):
    full = engine.phrase_search(["value", "table"], k=10).collect()
    page2 = engine.phrase_search(["value", "table"], k=5, offset=5).collect()
    assert [r["doc_id"] for r in page2] == [r["doc_id"] for r in full[5:10]]

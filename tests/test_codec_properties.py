"""Property-based codec tests (SURVEY.md §5.2-3).

Hypothesis generates adversarial posting shapes: the varbyte/delta round-trip
must be the identity on any strictly-increasing doc_id array, and every
block-max bound must dominate the true BM25 term contribution of every
posting in its block for arbitrary (k1, b, avgdl) — the exactness guarantee
that makes WAND/MaxScore pruning safe (Ding & Suel, SIGIR 2011).
"""

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from archivesspace_virgo_spark import codec

uint64s = st.lists(
    st.integers(min_value=0, max_value=2**64 - 1), min_size=0, max_size=300
)

posting_lists = st.lists(
    st.tuples(
        st.integers(min_value=1, max_value=2**40),   # doc_id gap
        st.integers(min_value=1, max_value=10_000),  # tf
        st.integers(min_value=1, max_value=1_000_000),  # dl
    ),
    min_size=1,
    max_size=400,
)


@given(uint64s)
@settings(max_examples=200, deadline=None)
def test_varbyte_roundtrip(vals):
    arr = np.array(vals, dtype=np.uint64)
    out = codec.varbyte_decode(codec.varbyte_encode(arr))
    assert out.dtype == np.uint64
    np.testing.assert_array_equal(out, arr)


@given(posting_lists)
@settings(max_examples=200, deadline=None)
def test_delta_roundtrip_strictly_increasing(rows):
    gaps = np.array([g for g, _, _ in rows], dtype=np.int64)
    ids = np.cumsum(gaps)  # strictly increasing by construction
    out = codec.delta_decode(codec.varbyte_decode(
        codec.varbyte_encode(codec.delta_encode(ids))
    ))
    np.testing.assert_array_equal(out, ids)


@given(posting_lists, st.integers(min_value=1, max_value=64))
@settings(max_examples=150, deadline=None)
def test_postings_roundtrip_and_blockmax_dominates(rows, block_size):
    gaps = np.array([g for g, _, _ in rows], dtype=np.int64)
    ids = np.cumsum(gaps)
    tfs = np.array([t for _, t, _ in rows], dtype=np.int64)
    dls = np.array([d for _, _, d in rows], dtype=np.int64)

    d_blob, t_blob, l_blob, b_last, b_maxtf, b_mindl = codec.encode_postings(
        ids, tfs, dls, block_size
    )
    rid, rtf, rdl = codec.decode_postings(d_blob, t_blob, l_blob)
    np.testing.assert_array_equal(rid, ids)
    np.testing.assert_array_equal(rtf, tfs)
    np.testing.assert_array_equal(rdl, dls)

    # block-max exactness: for ANY scoring parameters the stored
    # (max_tf, min_dl) pair yields an upper bound on tf/(tf + k1*norm(dl))
    # because the kernel is monotone increasing in tf, decreasing in dl
    for k1, b, avgdl in [(1.2, 0.75, 50.0), (0.5, 0.0, 1.0), (2.0, 1.0, 500.0)]:
        kernel = lambda tf, dl: tf / (tf + k1 * (1 - b + b * dl / avgdl))  # noqa: E731
        n_blocks = len(b_last)
        for blk in range(n_blocks):
            s, e = blk * block_size, min((blk + 1) * block_size, ids.size)
            bound = kernel(float(b_maxtf[blk]), float(b_mindl[blk]))
            actual = kernel(tfs[s:e].astype(float), dls[s:e].astype(float))
            assert (actual <= bound + 1e-12).all()
            assert ids[s:e].max() <= b_last[blk]


# --- the build's pack kernel against the per-term reference encoder ---

_WORDS = ["alpha", "beta", "Gamma", "snake_case", "x1", "héllo", "K"]
_texts = st.one_of(st.none(),
                   st.lists(st.sampled_from(_WORDS), max_size=12).map(" ".join))


@given(st.data(), st.integers(min_value=1, max_value=4))
@settings(max_examples=100, deadline=None)
def test_pack_kernel_matches_per_term_encoder(data, block_size):
    """Every postings row the build's kernel packs for a shard is the row
    ``codec.encode_postings`` makes for that term: byte-equal doc/tf/dl
    blobs, equal block metadata (so the block-max bound property tested
    above holds for the index the build writes), block offsets that point
    at each block's first value, and positions that decode to the
    ``tokenize_text`` offsets.  Rows arrive in no particular doc order, and
    non-default fields store "field:token" terms."""
    import pyarrow as pa

    from archivesspace_virgo_spark.index.build import _make_packer_arrow
    from archivesspace_virgo_spark.tokenizer import tokenize_text

    fields = data.draw(st.sampled_from(
        [("content",), ("content", "path"), ("content", "path", "lang")]))
    ids = data.draw(st.lists(st.integers(0, 10**6), min_size=1, max_size=30,
                             unique=True))
    shard = data.draw(st.integers(0, 3))
    text = {f: data.draw(st.lists(_texts, min_size=len(ids), max_size=len(ids)))
            for f in fields}
    tbl = pa.table({
        "doc_shard": pa.array([shard] * len(ids), pa.int32()),
        "doc_id": pa.array(ids, pa.int64()),
        **{f: pa.array(text[f], pa.string()) for f in fields},
    })
    packed = _make_packer_arrow(block_size, fields)(tbl).to_pylist()

    ref: dict = {}  # term -> doc -> (dl, positions)
    for i, d in enumerate(ids):
        for f in fields:
            toks = tokenize_text(text[f][i] or "")
            for p, t in enumerate(toks):
                term = t if f == fields[0] else f"{f}:{t}"
                ref.setdefault(term, {}).setdefault(d, (len(toks), []))[1].append(p)
    assert [r["term"] for r in packed] == sorted(ref)
    for r in packed:
        per_doc = ref[r["term"]]
        docs = np.array(sorted(per_doc), dtype=np.int64)
        dls = np.array([per_doc[d][0] for d in docs], dtype=np.int64)
        tfs = np.array([len(per_doc[d][1]) for d in docs], dtype=np.int64)
        d_blob, t_blob, l_blob, b_last, b_maxtf, b_mindl = codec.encode_postings(
            docs, tfs, dls, block_size)
        assert (r["doc_shard"], r["n_docs"], r["cf"]) == (shard, docs.size, tfs.sum())
        assert (r["doc_blob"], r["tf_blob"], r["dl_blob"]) == (d_blob, t_blob, l_blob)
        assert r["block_last_doc"] == b_last.tolist()
        assert r["block_max_tf"] == b_maxtf.tolist()
        assert r["block_min_dl"] == b_mindl.tolist()
        starts = range(0, docs.size, block_size)
        for col, vals in [("block_doc_off", codec.delta_encode(docs)),
                          ("block_tf_off", tfs), ("block_dl_off", dls)]:
            assert r[col] == [len(codec.varbyte_encode(vals[:j].astype(np.uint64)))
                              for j in starts]
        assert codec.decode_positions(r["pos_blob"], tfs).tolist() == [
            p for d in docs for p in per_doc[d][1]]

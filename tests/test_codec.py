"""Codec round-trip + block-max property tests (SURVEY.md §5.2-3)."""

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from archivesspace_virgo_spark import codec


def test_varbyte_roundtrip_basic():
    for arr in [
        [], [0], [1], [127], [128], [129], [16383], [16384],
        [0, 1, 2], [2**40, 2**50], list(range(1000)),
    ]:
        v = np.array(arr, dtype=np.uint64)
        assert codec.varbyte_decode(codec.varbyte_encode(v)).tolist() == arr


@settings(max_examples=200, deadline=None)
@given(st.lists(st.integers(min_value=0, max_value=2**62), max_size=300))
def test_varbyte_roundtrip_property(vals):
    v = np.array(vals, dtype=np.uint64)
    assert codec.varbyte_decode(codec.varbyte_encode(v)).tolist() == vals


@settings(max_examples=100, deadline=None)
@given(
    st.lists(st.integers(min_value=0, max_value=10**12), min_size=1, max_size=500, unique=True)
)
def test_delta_roundtrip(ids):
    ids = np.array(sorted(ids), dtype=np.int64)
    assert (codec.delta_decode(codec.delta_encode(ids)) == ids).all()


def test_encode_postings_roundtrip_and_blockmax():
    rng = np.random.default_rng(42)
    for n in [1, 127, 128, 129, 1000]:
        doc_ids = np.sort(rng.choice(10**6, size=n, replace=False)).astype(np.int64)
        tfs = rng.integers(1, 50, size=n).astype(np.int64)
        dls = rng.integers(1, 5000, size=n).astype(np.int64)
        d_blob, t_blob, l_blob, b_last, b_maxtf, b_mindl = codec.encode_postings(
            doc_ids, tfs, dls, block_size=128
        )
        got_ids, got_tfs, got_dls = codec.decode_postings(d_blob, t_blob, l_blob)
        assert (got_ids == doc_ids).all()
        assert (got_tfs == tfs).all()
        assert (got_dls == dls).all()
        # block-max invariants: every posting's (tf, dl) is bounded by its
        # block's (max_tf, min_dl); block_last_doc is the block's last doc
        n_blocks = len(b_last)
        for blk in range(n_blocks):
            s, e = blk * 128, min((blk + 1) * 128, n)
            assert b_maxtf[blk] == tfs[s:e].max()
            assert b_mindl[blk] == dls[s:e].min()
            assert b_last[blk] == doc_ids[s:e][-1]


def test_empty_postings():
    d, t, l, bl, bm, bd = codec.encode_postings(
        np.empty(0, dtype=np.int64), np.empty(0, dtype=np.int64),
        np.empty(0, dtype=np.int64), 128,
    )
    ids, tfs, dls = codec.decode_postings(d, t, l)
    assert ids.size == 0 and tfs.size == 0 and dls.size == 0 and len(bl) == 0


def test_block_random_access_decode():
    """decode_posting_blocks on any block subset == the matching slice of
    the full decode (format v7 per-block byte offsets)."""
    rng = np.random.default_rng(11)
    for n, bs in [(1, 16), (40, 16), (128, 16), (301, 64)]:
        doc_ids = np.sort(rng.choice(10**6, size=n, replace=False)).astype(np.int64)
        tfs = rng.integers(1, 50, size=n).astype(np.uint64)
        dls = rng.integers(1, 5000, size=n).astype(np.uint64)
        gaps = codec.delta_encode(doc_ids)
        starts = np.array([0], dtype=np.int64)
        doc_blob, _, doc_voff = codec.varbyte_encode_stream(gaps, starts)
        tf_blob, _, tf_voff = codec.varbyte_encode_stream(tfs, starts)
        dl_blob, _, dl_voff = codec.varbyte_encode_stream(dls, starts)
        doc_blob, tf_blob, dl_blob = (s.tobytes() for s in (doc_blob, tf_blob, dl_blob))
        n_blocks = (n + bs - 1) // bs
        bstart = np.arange(n_blocks) * bs
        bend = np.minimum(bstart + bs, n)
        b_last = doc_ids[bend - 1]
        d_off, t_off, l_off = doc_voff[bstart], tf_voff[bstart], dl_voff[bstart]
        # every subset shape: single block, stride, all
        for sel in [np.array([0]), np.arange(0, n_blocks, 2), np.arange(n_blocks)]:
            got_d, got_t, got_l = codec.decode_posting_blocks(
                doc_blob, tf_blob, dl_blob, d_off, t_off, l_off, b_last, sel
            )
            idx = np.concatenate([np.arange(bstart[b], bend[b]) for b in sel])
            assert (got_d == doc_ids[idx]).all()
            assert (got_t == tfs[idx].astype(np.int64)).all()
            assert (got_l == dls[idx].astype(np.int64)).all()


def test_binary_stream_over_int32_offsets_is_refused():
    """An Arrow binary column has int32 offsets: a shard stream past 2 GiB
    must fail loudly with the knob to turn, not build a short column."""
    from archivesspace_virgo_spark.index.build import _pa_binary_from_stream

    with pytest.raises(ValueError, match="docs_per_shard"):
        _pa_binary_from_stream(np.zeros(2, dtype=np.uint8),
                               np.array([0, 2**31]))

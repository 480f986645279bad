"""Posting-list compression: delta-gap + varbyte, with block-max metadata.

SURVEY.md §2.8-T3/T7.  Lucene stores postings as delta-gapped varints with
skip data; we do the same in numpy so encode/decode are vectorized inside
Arrow batches (no per-row Python).  Block-max metadata follows Ding & Suel,
"Faster Top-k Document Retrieval Using Block-Max Indexes" (SIGIR 2011): per
fixed-size block we keep ``(last_doc, max_tf, min_dl)`` so a query-time upper
bound for the block's BM25 contribution can be computed with *current* corpus
stats — storing (max_tf, min_dl) instead of a precomputed score bound keeps
the bound valid across incremental rebuilds that shift avgdl, because
tf/(tf + k1*(1-b+b*dl/avgdl)) is monotone ↑ in tf and ↓ in dl.

Varbyte layout: little-endian 7-bit groups, high bit set on the *last* byte
of each value (Lucene-style VInt continuation).  Values are uint64.
"""

from __future__ import annotations

from typing import Tuple

import numpy as np


def _varbyte_encode_raw(values: np.ndarray):
    """Core varbyte encoder: returns (uint8 array, per-value byte counts)."""
    v = np.asarray(values, dtype=np.uint64)
    if v.size == 0:
        return np.empty(0, dtype=np.uint8), np.empty(0, dtype=np.int64)
    # number of 7-bit groups per value (at least 1); max 10 for 64-bit
    tmp = v.copy()
    nbytes = np.ones(v.shape, dtype=np.int64)
    tmp = tmp >> np.uint64(7)
    while tmp.any():
        nbytes += (tmp > 0).astype(np.int64)
        tmp = tmp >> np.uint64(7)
    total = int(nbytes.sum())
    out = np.empty(total, dtype=np.uint8)
    # write positions: end offset per value
    ends = np.cumsum(nbytes)
    starts = ends - nbytes
    # emit groups least-significant first; terminator bit on the last byte
    maxb = int(nbytes.max())
    rem = v.copy()
    for i in range(maxb):
        mask = nbytes > i
        pos = starts[mask] + i
        byte = (rem[mask] & np.uint64(0x7F)).astype(np.uint8)
        last = (nbytes[mask] - 1) == i
        byte[last] |= 0x80
        out[pos] = byte
        rem = rem >> np.uint64(7)
    return out, nbytes


def varbyte_encode(values: np.ndarray) -> bytes:
    """Encode a uint64 array to varbyte. Fully vectorized."""
    out, _ = _varbyte_encode_raw(values)
    return out.tobytes()


def varbyte_encode_stream(values: np.ndarray, seg_starts: np.ndarray):
    """Encode MANY value segments in one vectorized pass: returns
    ``(stream, seg_byte_offsets, value_offsets)`` where ``stream`` is ONE
    contiguous uint8 array holding every segment back to back and
    ``seg_byte_offsets`` (int64, ``n_seg + 1``) delimits each segment's
    bytes within it.  This is exactly the (values, offsets) pair an Arrow
    binary array is made of, so the pack kernel can hand the encoded
    stream to Arrow without materializing one Python ``bytes`` per term.

    ``seg_starts``: ascending value-index starts (first must be 0); segment
    i covers values[seg_starts[i]:seg_starts[i+1]].  ``value_offsets`` is
    the byte offset of every value in ``stream`` (int64, len(values)+1 with
    the total last) — the pack kernel derives per-block offsets for
    random-access block decode from it.
    """
    out, nbytes = _varbyte_encode_raw(values)
    seg_starts = np.asarray(seg_starts, dtype=np.int64)
    value_offsets = np.concatenate([[0], np.cumsum(nbytes)])
    if seg_starts.size == 0:
        return out[:0], np.zeros(1, dtype=np.int64), value_offsets
    seg_byte_offsets = np.append(value_offsets[seg_starts], out.size)
    return out, seg_byte_offsets, value_offsets


def decode_posting_blocks(
    doc_blob: bytes,
    tf_blob: bytes,
    dl_blob: bytes,
    doc_off,
    tf_off,
    dl_off,
    block_last_doc,
    block_sel: np.ndarray,
):
    """Random-access decode of SELECTED blocks of one term's posting list.

    ``*_off``: per-block byte offsets into the respective blobs (block i's
    values start at offset[i]); ``block_sel``: sorted selected block indices.
    Doc gaps chain across blocks, so block b's ids rebuild from
    ``block_last_doc[b-1]`` as the base (block 0 from gap-0 absolute).
    Returns (doc_ids, tfs, dls) for exactly the selected blocks' postings.
    """
    doc_off = np.asarray(doc_off, dtype=np.int64)
    tf_off = np.asarray(tf_off, dtype=np.int64)
    dl_off = np.asarray(dl_off, dtype=np.int64)
    last = np.asarray(block_last_doc, dtype=np.int64)
    n_blocks = doc_off.size
    d_end = np.append(doc_off[1:], len(doc_blob))
    t_end = np.append(tf_off[1:], len(tf_blob))
    l_end = np.append(dl_off[1:], len(dl_blob))
    docs_parts, tf_parts, dl_parts = [], [], []
    for b in block_sel:
        b = int(b)
        gaps = varbyte_decode(doc_blob[doc_off[b]:d_end[b]]).astype(np.int64)
        base = np.int64(0) if b == 0 else last[b - 1]
        docs_parts.append(base + np.cumsum(gaps))
        tf_parts.append(varbyte_decode(tf_blob[tf_off[b]:t_end[b]]).astype(np.int64))
        dl_parts.append(varbyte_decode(dl_blob[dl_off[b]:l_end[b]]).astype(np.int64))
    if not docs_parts:
        z = np.empty(0, dtype=np.int64)
        return z, z.copy(), z.copy()
    return (
        np.concatenate(docs_parts),
        np.concatenate(tf_parts),
        np.concatenate(dl_parts),
    )


def varbyte_decode(buf: bytes) -> np.ndarray:
    """Decode varbyte back to uint64. Vectorized via cumsum group-splitting."""
    raw = np.frombuffer(buf, dtype=np.uint8)
    if raw.size == 0:
        return np.empty(0, dtype=np.uint64)
    is_last = (raw & 0x80) > 0
    # group index per byte: 0-based value index
    group = np.zeros(raw.size, dtype=np.int64)
    group[1:] = np.cumsum(is_last)[:-1]
    n_values = int(is_last.sum())
    # position of byte within its group
    group_start = np.zeros(n_values + 1, dtype=np.int64)
    np.add.at(group_start, group + 1, 1)
    group_start = np.cumsum(group_start)
    within = np.arange(raw.size, dtype=np.int64) - group_start[group]
    vals = np.zeros(n_values, dtype=np.uint64)
    payload = (raw & 0x7F).astype(np.uint64) << (within.astype(np.uint64) * np.uint64(7))
    np.add.at(vals, group, payload)
    return vals


def delta_encode(sorted_ids: np.ndarray) -> np.ndarray:
    """Strictly-increasing int64 ids → first id + gaps (gap>=1)."""
    ids = np.asarray(sorted_ids, dtype=np.int64)
    if ids.size == 0:
        return ids.astype(np.uint64)
    gaps = np.empty(ids.size, dtype=np.uint64)
    gaps[0] = np.uint64(ids[0])
    gaps[1:] = np.diff(ids).astype(np.uint64)
    return gaps


def delta_decode(gaps: np.ndarray) -> np.ndarray:
    if gaps.size == 0:
        return np.empty(0, dtype=np.int64)
    return np.cumsum(gaps.astype(np.int64))


def encode_postings(
    doc_ids: np.ndarray, tfs: np.ndarray, doc_lens: np.ndarray, block_size: int
) -> Tuple[bytes, bytes, bytes, np.ndarray, np.ndarray, np.ndarray]:
    """Pack one term's postings (within a shard).

    Returns (doc_blob, tf_blob, dl_blob, block_last_doc, block_max_tf,
    block_min_dl).  ``doc_ids`` must be strictly increasing; arrays parallel.

    dl (doc length) is stored PER POSTING rather than in a shard-stats side
    table: queries then ship only query-term rows — no per-shard stats blob
    rides the scoring exchange (which would dominate shuffle volume at the
    10^12-doc design point).  This trades ~30% index size for a
    stats-shipping-free query path; Lucene makes the same co-location call
    with its per-doc norms stored in the posting-adjacent .nvd files.
    """
    doc_ids = np.asarray(doc_ids, dtype=np.int64)
    tfs = np.asarray(tfs, dtype=np.int64)
    doc_lens = np.asarray(doc_lens, dtype=np.int64)
    n = doc_ids.size
    doc_blob = varbyte_encode(delta_encode(doc_ids))
    tf_blob = varbyte_encode(tfs.astype(np.uint64))
    dl_blob = varbyte_encode(doc_lens.astype(np.uint64))
    if n == 0:
        z = np.empty(0, dtype=np.int64)
        return doc_blob, tf_blob, dl_blob, z, z, z
    n_blocks = (n + block_size - 1) // block_size
    pad = n_blocks * block_size - n
    if pad:
        doc_pad = np.concatenate([doc_ids, np.full(pad, doc_ids[-1], dtype=np.int64)])
        tf_pad = np.concatenate([tfs, np.zeros(pad, dtype=np.int64)])
        dl_pad = np.concatenate([doc_lens, np.full(pad, np.iinfo(np.int64).max, dtype=np.int64)])
    else:
        doc_pad, tf_pad, dl_pad = doc_ids, tfs, doc_lens
    doc_pad = doc_pad.reshape(n_blocks, block_size)
    tf_pad = tf_pad.reshape(n_blocks, block_size)
    dl_pad = dl_pad.reshape(n_blocks, block_size)
    return (
        doc_blob,
        tf_blob,
        dl_blob,
        doc_pad[:, -1].copy(),
        tf_pad.max(axis=1),
        dl_pad.min(axis=1),
    )


def decode_positions(pos_blob: bytes, tfs: np.ndarray) -> np.ndarray:
    """Decode a term's position blob back to absolute positions.

    The blob is the concatenation, in posting (doc) order, of each doc's
    ascending position list delta-encoded (first position absolute, then
    gaps).  ``tfs`` gives the per-doc occurrence counts, i.e. the segment
    lengths.  Returns one flat int64 array (sum(tfs) long); segment i is
    ``out[cum_tf[i]:cum_tf[i+1]]``.
    """
    d = varbyte_decode(pos_blob).astype(np.int64)
    if d.size == 0:
        return d
    tfs = np.asarray(tfs, dtype=np.int64)
    seg_starts = np.concatenate([[0], np.cumsum(tfs)[:-1]])
    g = np.cumsum(d)
    # subtract the running total accumulated BEFORE each segment so each
    # segment's cumsum restarts at its absolute first position
    prefix = np.zeros(seg_starts.size, dtype=np.int64)
    nz = seg_starts > 0
    prefix[nz] = g[seg_starts[nz] - 1]
    return g - np.repeat(prefix, tfs)


def decode_postings(
    doc_blob: bytes, tf_blob: bytes, dl_blob: bytes = b""
) -> Tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Inverse of ``encode_postings`` (doc_ids, tfs, dls — all int64)."""
    doc_ids = delta_decode(varbyte_decode(doc_blob))
    tfs = varbyte_decode(tf_blob).astype(np.int64)
    dls = varbyte_decode(dl_blob).astype(np.int64)
    return doc_ids, tfs, dls

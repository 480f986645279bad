"""BM25 top-k query engine (SURVEY.md §2.8-T6..T11, §3.3).

Query lifecycle (the reference's Solr ``q=...&rows=k`` surface,
SolrHelper.java:39-80, re-expressed natively):

    search(terms, k, mode)
    → ``_resolve``: lexicon point-lookup of the query terms (≤ |q| tiny
      rows, cached per engine) → idf with CURRENT corpus N, per-field avgdl,
      MUST_NOT and fq terms — or None when the query is statically empty
    → ``_shard_scan``: postings WHERE term IN terms (rowgroup min/max stats
      prune: postings are term-sorted within each shard), grouped by
      doc_shard → one Arrow batch per shard → numpy decode (doc lengths
      ride in each posting's dl_blob) + vectorized scoring + per-shard
      partial top-k (exact MaxScore-style block-max skipping)
    → ``_page``: ≤ k·n_shards partials → TakeOrderedAndProject (score
      desc, doc_id asc), offset, limit k.

``_shard_scan`` is the query layer's only grouped-map scan: every surface
hands it a kernel; ``grouped_search`` alone cogroups the same filtered
postings with doc_map.  The one exchange groups ≤ |terms| postings rows
per shard; the merge moves only partials — the document-partitioned
"local index" of production engines: one map task per shard, an
O(k · n_shards) merge.
"""

from __future__ import annotations

import math
from typing import List, NamedTuple, Optional, Sequence

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from archivesspace_virgo_spark.config import IndexConfig
from archivesspace_virgo_spark.index.storage import IndexStorage

_SCORED = "doc_id long, score double"
# postings columns a kernel reads besides doc_shard/term; pos_blob (and cf)
# stay out unless positions are needed: shipping them would roughly double
# the per-query transfer bytes
_SCORE_COLS = ("doc_blob", "tf_blob", "dl_blob")
_BLOCK_COLS = _SCORE_COLS + ("block_last_doc", "block_max_tf", "block_min_dl",
                             "block_doc_off", "block_tf_off", "block_dl_off")
_POS_COLS = _SCORE_COLS + ("pos_blob",)
_M = np.int64(1) << np.int64(33)  # doc·_M + position keys; > any doc length


def lucene_idf(n_docs: int, df: int) -> float:
    return math.log(1.0 + (n_docs - df + 0.5) / (df + 0.5))


def _check_page(k: int, offset: int) -> None:
    """Lucene's TopDocs contract: n must be >= 1 (IllegalArgumentException
    there; a descriptive ValueError here — the numpy top-k cuts in the
    shard kernels fail with opaque bounds errors on k=0; a caller who wants
    only the match COUNT uses count()/match_ids()), and Solr's ``start``
    must be >= 0 (Spark would reject a negative OFFSET only at execution,
    with an AnalysisException)."""
    if int(k) < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    if int(offset) < 0:
        raise ValueError(f"offset must be >= 0, got {offset}")


def _page(df: DataFrame, k: int, offset: int, *keys) -> DataFrame:
    """The paging tail of every top-k surface (Solr ``start=N&rows=k``):
    order by ``keys`` (default score desc, doc_id asc), skip ``offset``
    rows, keep ``k`` — one TakeOrderedAndProject over the partials."""
    _check_page(k, offset)
    ordered = df.orderBy(*(keys or (F.desc("score"), F.asc("doc_id"))))
    if offset:
        ordered = ordered.offset(offset)
    return ordered.limit(k)


def parse_sort_spec(sort_field, ascending: bool = True):
    """Normalize a Solr sort spec to ``[(field, asc_bool), ...]``.

    Accepts a bare field name, a Solr sort string (``"f1 asc, f2 desc"``,
    directions optional — missing directions take ``ascending``), or a
    sequence whose items are field names or ``(field, direction)`` pairs
    (direction: "asc"/"desc" or a bool meaning ascending)."""
    def _dir(d):
        if isinstance(d, str):
            dl = d.strip().lower()
            if dl not in ("asc", "desc"):
                raise ValueError(f"sort direction must be asc|desc, got {d!r}")
            return dl == "asc"
        return bool(d)

    if isinstance(sort_field, str):
        out = []
        for part in sort_field.split(","):
            toks = part.split()
            if not toks:
                continue
            if len(toks) > 2:
                raise ValueError(f"bad sort clause {part!r}")
            out.append((toks[0], _dir(toks[1]) if len(toks) == 2
                        else ascending))
    else:
        out = []
        for item in sort_field:
            if isinstance(item, str):
                out.append((item, ascending))
            else:
                f, d = item
                out.append((f, _dir(d)))
    if not out:
        raise ValueError("empty sort spec")
    return out


def _excluded_mask(by_term, neg, filter_clauses, docs_per_shard, base,
                   codec):
    """Shard-local exclusion mask shared by every scoring kernel:
    MUST_NOT postings mark docs excluded; each FILTER clause (Solr fq)
    marks docs NOT matching any of its terms excluded.  Returns
    (mask | None, impossible): ``impossible`` is True when a filter
    clause has no postings in this shard at all (no doc can qualify)."""
    excluded = None
    if neg:
        for t in neg:
            row = by_term.get(t)
            if row is None:
                continue
            d = codec.delta_decode(codec.varbyte_decode(row.doc_blob))
            if excluded is None:
                excluded = np.zeros(docs_per_shard, dtype=bool)
            excluded[d.astype(np.int64) - base] = True
    if filter_clauses:
        for cl in filter_clauses:
            clause_ok = np.zeros(docs_per_shard, dtype=bool)
            hit = False
            for t in cl:
                row = by_term.get(t)
                if row is None:
                    continue
                hit = True
                d = codec.delta_decode(codec.varbyte_decode(row.doc_blob))
                clause_ok[d.astype(np.int64) - base] = True
            if not hit:
                return None, True  # no clause term posts in this shard
            if excluded is None:
                excluded = np.zeros(docs_per_shard, dtype=bool)
            excluded |= ~clause_ok
    return excluded, False


def _make_shard_scorer(
    terms: List[str],
    idfs: List[float],
    avgdls: List[float],
    k: int,
    k1: float,
    b: float,
    docs_per_shard: int,
    mode: str,
    neg_terms: Optional[List[str]] = None,
    min_match: int = 1,
    term_clauses: Optional[List[List[int]]] = None,
    n_clauses: int = 0,
    filter_clauses: Optional[List[List[str]]] = None,
    return_all: bool = False,
):
    """Per-shard scoring kernel for cogroup-applyInPandas.

    Vectorized numpy term-at-a-time scoring (np.add.at scatter-accumulate
    into a dense shard-local array) with an EXACT MaxScore-style pruning
    step (Turtle & Flood 1995; block-max bounds per Ding & Suel 2011):
    terms are scored in decreasing upper-bound order; once the summed upper
    bound of the remaining terms falls below the running k-th best score,
    documents not yet touched cannot enter the top-k, so those postings are
    masked out of the scatter.  Bounds come from the stored per-block
    (max_tf, min_dl) pairs evaluated against CURRENT avgdl, so pruning stays
    valid across incremental rebuilds.

    Float determinism: the per-doc accumulation must match the oracle's
    sorted-term order, so contributions are buffered per term and reduced in
    sorted-term order at the end (float64 addition is order-sensitive).

    Boolean generalizations (both disable MaxScore pruning — its threshold
    is only valid when every scored doc qualifies):

    - ``min_match`` (Solr minimum-should-match): a doc qualifies only if it
      matches ≥ min_match distinct query terms.
    - ``term_clauses``/``n_clauses`` (Lucene BooleanQuery of MUST clauses,
      each an OR over its expansion, e.g. ``a AND pre*``): term i covers
      clauses ``term_clauses[i]``; a doc qualifies only if its matched
      terms cover ALL ``n_clauses`` clauses.  Coverage is a shard-local
      int64 bitmask (≤63 clauses), so clause tracking adds one
      ``bitwise_or.at`` scatter per term — no extra decode, no shuffle.

    ``filter_clauses`` (Lucene BooleanClause.FILTER / Solr fq): each clause
    is an OR of terms a doc MUST match, but — unlike MUST clauses — filter
    terms contribute NOTHING to the score.  Like MUST_NOT, their postings
    ride the same per-shard Arrow batch and become a shard-local allowed
    mask applied BEFORE scoring, so filtering adds no shuffle, excluded
    docs never inflate the pruning threshold, and MaxScore stays exact.
    """
    from archivesspace_virgo_spark import codec  # re-imported on workers

    n_query_terms = len(set(terms))
    neg_set = sorted(set(neg_terms or ()))
    if term_clauses is not None and n_clauses > 63:
        raise ValueError("boolean queries support at most 63 clauses")
    clause_bits = None
    if term_clauses is not None:
        clause_bits = [
            np.int64(sum(1 << c for c in set(cs))) for cs in term_clauses
        ]
    full_cover = np.int64((1 << n_clauses) - 1) if n_clauses else np.int64(0)
    # MaxScore pruning is exact ONLY in the flat-OR top-k case: with clause
    # or min_match qualification, theta computed over all scored docs can
    # exceed the k-th best QUALIFYING score and wrongly skip postings; with
    # return_all every matching doc's exact score is required
    flat_or = (mode == "or" and term_clauses is None and min_match <= 1
               and not return_all)

    def term_bound(row, avgdl: float) -> float:
        max_tf = np.asarray(row.block_max_tf, dtype=np.float64)
        min_dl = np.asarray(row.block_min_dl, dtype=np.float64)
        nrm = k1 * (1.0 - b + b * min_dl / avgdl)
        return float((max_tf / (max_tf + nrm)).max()) if max_tf.size else 0.0

    def score(postings_pdf: pd.DataFrame) -> pd.DataFrame:
        empty = pd.DataFrame({"doc_id": pd.Series(dtype="int64"),
                              "score": pd.Series(dtype="float64")})
        by_term = {
            t: row
            for t, row in zip(postings_pdf["term"], postings_pdf.itertuples(index=False))
        }
        if not by_term:
            return empty
        shard = int(postings_pdf["doc_shard"].iloc[0])
        base = shard * docs_per_shard
        # MUST_NOT exclusion (Lucene BooleanClause / Solr ``-term``) and
        # FILTER clauses (fq): one shard-local mask stripped from every
        # positive term's postings BEFORE scoring — excluded docs never
        # contribute, never enter the candidate set, and never inflate the
        # pruning threshold, so MaxScore/WAND pruning stays exact.
        # Entirely shard-local: no extra shuffle.
        excluded, impossible = _excluded_mask(
            by_term, neg_set, filter_clauses, docs_per_shard, base, codec
        )
        if impossible:
            return empty
        present = [(i, terms[i]) for i in range(len(terms)) if terms[i] in by_term]
        if mode == "and" and len(present) < n_query_terms:
            return empty
        if min_match > 1 and len(present) < min_match:
            return empty
        if clause_bits is not None:
            covered = np.int64(0)
            for i, _t in present:
                covered |= clause_bits[i]
            if covered != full_cover:
                return empty  # a whole clause is absent from this shard
        # process strongest terms first so the pruning threshold rises fast
        ubs = {i: idfs[i] * term_bound(by_term[t], avgdls[i]) for i, t in present}
        order_by_ub = sorted(present, key=lambda it: -ubs[it[0]])
        total_rem = sum(ubs.values())

        sorted_order = sorted(present, key=lambda it: it[1])
        needs_rescore = len(present) > 1 and order_by_ub != sorted_order

        scores = np.zeros(docs_per_shard, dtype=np.float64)
        seen = np.zeros(docs_per_shard, dtype=np.int32)
        cl_mask = (
            np.zeros(docs_per_shard, dtype=np.int64)
            if clause_bits is not None else None
        )
        contribs = {}  # term index -> (local, contrib) for deterministic re-sum
        theta = -np.inf
        multi = len(present) > 1
        # candidate docs tracked INCREMENTALLY (first touch appends once):
        # the theta refresh and the prune path cost O(candidates), not a
        # dense O(docs_per_shard) scan per term — for rare-term queries on
        # big shards the dense rescans dominated the actual scatter work.
        # Exactness: the k-th LARGEST over the touched docs' scores equals
        # the old scores[scores > 0] form whenever it prunes (a theta that
        # could prune is > total_rem >= 0, so non-positive touched scores
        # can never displace the top k).
        cand_parts: list = []
        for i, t in order_by_ub:
            row = by_term[t]
            prune = flat_or and total_rem < theta
            if prune:
                # WAND-style block skipping: a non-essential term can only
                # change the scores of docs already seen under an essential
                # term — decode ONLY the blocks whose doc range intersects
                # the candidate set (random access via per-block offsets)
                if len(cand_parts) > 1:
                    cand_parts = [np.concatenate(cand_parts)]
                cand = np.sort(cand_parts[0]) if cand_parts else \
                    np.empty(0, dtype=np.int64)
                cand_docs = cand + base
                last = np.asarray(row.block_last_doc, dtype=np.int64)
                lo = np.empty_like(last)
                lo[0] = -1
                lo[1:] = last[:-1]
                left = np.searchsorted(cand_docs, lo + 1, side="left")
                right = np.searchsorted(cand_docs, last, side="right")
                sel = np.flatnonzero(right > left)
                doc_ids, tfs, dls = codec.decode_posting_blocks(
                    row.doc_blob, row.tf_blob, row.dl_blob,
                    row.block_doc_off, row.block_tf_off, row.block_dl_off,
                    last, sel,
                )
                local = doc_ids.astype(np.int64) - base
                tfs = tfs.astype(np.float64)
                dls = dls.astype(np.float64)
                mask = seen[local] > 0  # untouched docs can't reach theta
                local, tfs, dls = local[mask], tfs[mask], dls[mask]
            else:
                doc_ids, tfs, dls = codec.decode_postings(
                    row.doc_blob, row.tf_blob, row.dl_blob
                )
                local = doc_ids.astype(np.int64) - base
                tfs = tfs.astype(np.float64)
                dls = dls.astype(np.float64)
            if excluded is not None:
                keep = ~excluded[local]
                local, tfs, dls = local[keep], tfs[keep], dls[keep]
            contrib = idfs[i] * tfs / (tfs + k1 * (1.0 - b + b * dls / avgdls[i]))
            # first-touch docs join the candidate list exactly once
            # (postings are unique per term, so `local` has no duplicates)
            newly = local[seen[local] == 0]
            if newly.size:
                cand_parts.append(newly)
            np.add.at(scores, local, contrib)
            np.add.at(seen, local, 1)
            if cl_mask is not None:
                np.bitwise_or.at(cl_mask, local, clause_bits[i])
            if needs_rescore:
                contribs[i] = (local, contrib)
            total_rem -= ubs[i]
            if multi and flat_or and total_rem > 0:
                if len(cand_parts) > 1:
                    cand_parts = [np.concatenate(cand_parts)]
                vals = scores[cand_parts[0]] if cand_parts else \
                    np.empty(0, dtype=np.float64)
                if vals.size >= k:
                    theta = np.partition(vals, vals.size - k)[vals.size - k]

        if cl_mask is not None:
            cand = np.flatnonzero(cl_mask == full_cover)
        elif mode == "and":
            cand = np.flatnonzero(seen >= n_query_terms)
        elif min_match > 1:
            cand = np.flatnonzero(seen >= min_match)
        else:
            cand = np.flatnonzero(seen > 0)
        if cand.size == 0:
            return empty
        if not return_all and cand.size > k:
            cs = scores[cand]
            top = np.argpartition(-cs, k - 1)[:k]
            thresh = cs[top].min()
            cand = cand[cs >= thresh]  # keep boundary ties → doc_id tiebreak
        if needs_rescore:
            # deterministic rescore of the winners in sorted-term order
            # (matches the oracle's float64 accumulation order exactly);
            # np.add.at applies updates in array order → per-call order is
            # per-term, calls issued in sorted-term order
            final = np.zeros(cand.size, dtype=np.float64)
            idx_map = np.full(docs_per_shard, -1, dtype=np.int64)
            idx_map[cand] = np.arange(cand.size)
            for i, _t in sorted_order:
                local, contrib = contribs[i]
                mapped = idx_map[local]
                m = mapped >= 0
                np.add.at(final, mapped[m], contrib[m])
        else:
            final = scores[cand]
        order = np.lexsort((cand, -final))
        if not return_all:
            order = order[:k]
        return pd.DataFrame({"doc_id": (cand[order] + base).astype(np.int64),
                             "score": final[order]})

    return score


def _make_term_contrib_kernel(
    terms: List[str],
    idfs: List[float],
    avgdls: List[float],
    k1: float,
    b: float,
):
    """Per-shard kernel emitting one (doc_id, term, contrib) row per
    posting — the exploded per-clause scores Lucene's DisjunctionMaxQuery
    combines.  No qualification or pruning: every posting of every query
    term contributes, and the combiner (max/sum per doc) runs declaratively
    on top."""
    from archivesspace_virgo_spark import codec  # re-imported on workers

    params = dict(zip(terms, zip(idfs, avgdls)))

    def kern(pdf: pd.DataFrame) -> pd.DataFrame:
        docs, tags, contribs = [], [], []
        for t, row in zip(pdf["term"], pdf.itertuples(index=False)):
            if t not in params:
                continue
            idf, avgdl = params[t]
            doc_ids, tfs, dls = codec.decode_postings(
                row.doc_blob, row.tf_blob, row.dl_blob
            )
            tfs = tfs.astype(np.float64)
            dls = dls.astype(np.float64)
            docs.append(doc_ids.astype(np.int64))
            tags.append(np.full(doc_ids.size, t, dtype=object))
            contribs.append(
                idf * tfs / (tfs + k1 * (1.0 - b + b * dls / avgdl))
            )
        if not docs:
            return pd.DataFrame({
                "doc_id": pd.Series(dtype="int64"),
                "term": pd.Series(dtype="object"),
                "contrib": pd.Series(dtype="float64"),
            })
        return pd.DataFrame({
            "doc_id": np.concatenate(docs),
            "term": np.concatenate(tags),
            "contrib": np.concatenate(contribs),
        })

    return kern


def _make_dismax_scorer(
    stored_terms: List[str],
    bare_of: List[str],
    idfs: List[float],
    avgdls: List[float],
    k: int,
    k1: float,
    b: float,
    docs_per_shard: int,
    tie: float,
):
    """Per-shard DisMax scoring kernel: the full DisjunctionMax reduction
    runs INSIDE the shard (a doc's field-scoped postings for every field
    all live in its one home shard by construction), so no per-posting row
    ever crosses an exchange — only the ≤k partial rows per shard do.

    Per bare query term: max/sum of its field-scoped BM25 contributions
    per doc (dense shard-local scatter arrays, reused across groups), then
    ``max + tie·(sum − max)`` accumulated into the doc score.  Determinism:
    bare groups reduce in sorted-bare order, members in sorted-stored
    order (float64 accumulation order is pinned, like _make_shard_scorer).
    """
    from archivesspace_virgo_spark import codec  # re-imported on workers

    groups: dict = {}
    for i, bare in enumerate(bare_of):
        groups.setdefault(bare, []).append(i)
    group_list = [
        (bare, sorted(idx, key=lambda i: stored_terms[i]))
        for bare, idx in sorted(groups.items())
    ]

    def score(pdf: pd.DataFrame) -> pd.DataFrame:
        empty = pd.DataFrame({"doc_id": pd.Series(dtype="int64"),
                              "score": pd.Series(dtype="float64")})
        by_term = {
            t: row
            for t, row in zip(pdf["term"], pdf.itertuples(index=False))
        }
        if not by_term:
            return empty
        shard = int(pdf["doc_shard"].iloc[0])
        base = shard * docs_per_shard
        scores = np.zeros(docs_per_shard, dtype=np.float64)
        seen = np.zeros(docs_per_shard, dtype=bool)
        mx = np.zeros(docs_per_shard, dtype=np.float64)
        sm = np.zeros(docs_per_shard, dtype=np.float64)
        gseen = np.zeros(docs_per_shard, dtype=bool)
        for _bare, idxs in group_list:
            fresh = True
            for i in idxs:
                row = by_term.get(stored_terms[i])
                if row is None:
                    continue
                if fresh:
                    mx[:] = 0.0
                    sm[:] = 0.0
                    gseen[:] = False
                    fresh = False
                d, tfs, dls = codec.decode_postings(
                    row.doc_blob, row.tf_blob, row.dl_blob
                )
                local = d.astype(np.int64) - base
                tfs = tfs.astype(np.float64)
                dls = dls.astype(np.float64)
                contrib = idfs[i] * tfs / (
                    tfs + k1 * (1.0 - b + b * dls / avgdls[i])
                )
                np.maximum.at(mx, local, contrib)
                np.add.at(sm, local, contrib)
                gseen[local] = True
            if fresh:
                continue  # no field of this bare term posts in this shard
            hit = np.flatnonzero(gseen)
            scores[hit] += mx[hit] + tie * (sm[hit] - mx[hit])
            seen[hit] = True
        cand = np.flatnonzero(seen)
        if cand.size == 0:
            return empty
        final = scores[cand]
        if cand.size > k:
            top = np.argpartition(-final, k - 1)[:k]
            thresh = final[top].min()
            keep = final >= thresh  # boundary ties → doc_id tiebreak
            cand, final = cand[keep], final[keep]
        order = np.lexsort((cand, -final))[:k]
        return pd.DataFrame({
            "doc_id": (cand[order] + base).astype(np.int64),
            "score": final[order],
        })

    return score


def _exact_freq(stored: List[str], slop: int = 0):
    """PhraseQuery frequency step: each term's occurrence set becomes a
    key array ``local_doc·_M + (position − i)``; the phrase's start
    positions are the running ``np.intersect1d`` across terms — fully
    vectorized, no per-doc loop; ptf = start positions per doc."""
    def freq(dec):
        keys = None
        for i, t in enumerate(stored):
            ldoc, _dl, tf_, pos = dec[t]
            valid = pos >= i
            key = np.repeat(ldoc, tf_)[valid] * _M + (pos[valid] - i)
            keys = key if keys is None else np.intersect1d(
                keys, key, assume_unique=True
            )
            if keys.size == 0:
                return None
        return np.unique(keys // _M, return_counts=True)

    return freq


def _ordered_span_freq(stored: List[str], slop: int):
    """SpanNearQuery(inOrder=true) frequency step: for each occurrence p1
    of the first term, greedily chain to the NEXT occurrence of each later
    term (one ``searchsorted`` per term over the sorted doc·_M + position
    keys); matchLength = p_last − p1 − (n−1); spans with matchLength ≤ slop
    add 1/(1+matchLength) to the sloppy frequency."""
    n_terms = len(stored)

    def freq(dec):
        ldoc0, _dl, tf0, pos0 = dec[stored[0]]
        start = np.repeat(ldoc0, tf0) * _M + pos0
        cur = start
        for t in stored[1:]:
            ldoc, _dl, tf_, pos = dec[t]
            kt = np.repeat(ldoc, tf_) * _M + pos
            idx = np.searchsorted(kt, cur, side="right")
            ok = idx < kt.size
            nxt = kt[np.minimum(idx, kt.size - 1)]
            ok &= (nxt // _M) == (cur // _M)  # stay within the doc
            start, cur = start[ok], nxt[ok]
            if cur.size == 0:
                return None
        mlen = (cur - start) - np.int64(n_terms - 1)
        keep = mlen <= slop
        if not keep.any():
            return None
        w = 1.0 / (1.0 + mlen[keep].astype(np.float64))
        hit, inv = np.unique(start[keep] // _M, return_inverse=True)
        sf = np.zeros(hit.size, dtype=np.float64)
        np.add.at(sf, inv, w)
        return hit, sf

    return freq


def _sloppy_freq(stored: List[str], slop: int):
    """PhraseQuery-slop frequency step (transpositions allowed): intersect
    the terms' doc sets, flatten each phrase offset's candidate position
    runs once, then run the lockstep-batch SloppyPhraseMatcher
    (``proximity.lucene_sloppy_freq_batch``) over every candidate at once.
    Phrases with REPEATING terms run Lucene's repeats machinery
    (``lucene_sloppy_freq_repeats``) per candidate — bounded by the rarest
    repeated term's df.  One term or slop 0 is the exact PhraseQuery."""
    if len(stored) == 1 or slop == 0:
        return _exact_freq(stored)
    from archivesspace_virgo_spark.functions.proximity import (
        lucene_sloppy_freq_batch, lucene_sloppy_freq_repeats,
    )

    uniq = sorted(set(stored))
    has_repeats = len(uniq) != len(stored)

    def freq(dec):
        cand = dec[uniq[0]][0]
        for t in uniq[1:]:
            cand = np.intersect1d(cand, dec[t][0], assume_unique=True)
            if cand.size == 0:
                return None
        # vectorized run extraction — no per-doc slicing
        flat, fstarts = [], []
        for i, t in enumerate(stored):
            ldoc, _dl, tf_, pos = dec[t]
            starts = np.zeros(ldoc.size + 1, dtype=np.int64)
            starts[1:] = np.cumsum(tf_.astype(np.int64))
            j = np.searchsorted(ldoc, cand)
            rs = starts[j]
            lens = starts[j + 1] - rs
            outst = np.zeros(cand.size + 1, dtype=np.int64)
            np.cumsum(lens, out=outst[1:])
            total = int(outst[-1])
            idx = (np.arange(total, dtype=np.int64)
                   - np.repeat(outst[:-1], lens) + np.repeat(rs, lens))
            flat.append(pos[idx].astype(np.int64) - i)
            fstarts.append(outst)
        if not has_repeats:
            sf_all = lucene_sloppy_freq_batch(flat, fstarts, slop)
        else:
            sf_all = np.array([
                lucene_sloppy_freq_repeats(
                    [flat[i][fstarts[i][c]:fstarts[i][c + 1]]
                     for i in range(len(stored))],
                    stored, slop)
                for c in range(cand.size)
            ], dtype=np.float64)
        hit_m = sf_all > 0.0
        if not hit_m.any():
            return None
        return cand[hit_m], sf_all[hit_m]

    return freq


def _make_phrase_scorer(stored: List[str], freq, idf_sum: float,
                        avgdl: float, k: int, k1: float, b: float,
                        docs_per_shard: int,
                        only_ids: Optional[np.ndarray] = None):
    """Per-shard kernel of the phrase family: decode each phrase term's
    postings and positions (restricted to the ``only_ids`` window when
    given — per-doc frequencies are unchanged, the work is bounded by the
    window), let ``freq`` compute the per-doc phrase frequency f, and score
    Lucene's phrase BM25 form idf_sum · f / (f + k1·(1 − b + b·dl/avgdl))
    with the per-shard top-k cut.  ``freq(dec)`` maps {term: (local doc,
    dl, tf, positions)} to (ascending local hit docs, f) or None."""
    from archivesspace_virgo_spark import codec  # re-imported on workers

    uniq = sorted(set(stored))

    def scorer(pdf: pd.DataFrame) -> pd.DataFrame:
        empty = pd.DataFrame({"doc_id": pd.Series(dtype="int64"),
                              "score": pd.Series(dtype="float64")})
        by_term = {
            t: row for t, row in zip(pdf["term"], pdf.itertuples(index=False))
        }
        if any(t not in by_term for t in uniq):
            return empty  # a phrase is an AND across its terms
        base = int(pdf["doc_shard"].iloc[0]) * docs_per_shard
        dec = {}
        for t in uniq:
            row = by_term[t]
            d, tf_, dl_ = codec.decode_postings(
                row.doc_blob, row.tf_blob, row.dl_blob
            )
            pos = codec.decode_positions(row.pos_blob, tf_)
            ldoc = d.astype(np.int64) - base
            if only_ids is not None:
                w = np.isin(ldoc + base, only_ids)
                pos = pos[np.repeat(w, tf_)]
                ldoc, tf_, dl_ = ldoc[w], tf_[w], dl_[w]
                if ldoc.size == 0:
                    return empty
            dec[t] = (ldoc, dl_, tf_, pos)
        found = freq(dec)
        if found is None:
            return empty
        hit, f = found
        f = f.astype(np.float64)
        ldoc0, dl0, _tf, _pos = dec[stored[0]]
        dls = dl0[np.searchsorted(ldoc0, hit)].astype(np.float64)
        score = idf_sum * f / (f + k1 * (1.0 - b + b * dls / avgdl))
        if hit.size > k:
            top = np.argpartition(-score, k - 1)[:k]
            thresh = score[top].min()
            keep = score >= thresh  # boundary ties → doc_id tiebreak
            hit, score = hit[keep], score[keep]
        order = np.lexsort((hit, -score))[:k]
        return pd.DataFrame({
            "doc_id": (hit[order] + base).astype(np.int64),
            "score": score[order],
        })

    return scorer


class _Query(NamedTuple):
    """A query after term resolution: the live (lexicon-present) stored
    terms in sorted order with their per-field idf × boost and avgdl, the
    MUST_NOT terms, and the fq clauses (each an OR of stored terms)."""
    live: List[str]
    idfs: List[float]
    avgdls: List[float]
    neg: List[str]
    filters: List[List[str]]
    mode: str
    min_match: int

    @property
    def scan_terms(self) -> List[str]:
        return self.live + self.neg + sorted(
            {t for cl in self.filters for t in cl})


class QueryEngine:
    """Reads a committed index; answers top-k / facet / range queries."""

    def __init__(self, spark: SparkSession, index_dir: str,
                 config: Optional[IndexConfig] = None):
        """Postings + lexicon are pinned via DataFrame cache
        (MEMORY_AND_DISK) on first use: a long-lived query service keeps
        its index hot, cutting steady-state latency ~2-15x (parquet footer
        reads, file listing and decode all disappear from the per-query
        path).  Cache is partition-grained and spills, so it degrades
        gracefully when the index exceeds cluster memory; a snapshot-bound
        engine never sees stale data (call ``refresh()`` after an
        incremental merge)."""
        self.spark = spark
        self.storage = IndexStorage(index_dir)
        self.config = config or IndexConfig()
        self._postings = None
        self._lexicon = None
        #: driver-side (df, cf) cache — absent terms cached as None so a
        #: repeated miss never re-queries.  Every query otherwise pays a
        #: separate lexicon job BEFORE the scoring job; a long-lived query
        #: service's vocabulary is Zipfian, so this halves steady-state
        #: job count.  Bounded: one small tuple per distinct queried term.
        self._term_cache: dict = {}
        self._load_commit()

    def _load_commit(self) -> None:
        """Check the commit marker and config hash, then read the per-field
        corpus statistics of the committed index."""
        commit = self.storage.read_commit()
        if commit is None:
            raise FileNotFoundError(
                f"no committed index at {self.storage.index_dir}")
        if commit["config_hash"] != self.config.config_hash():
            raise ValueError(
                "index was built with a different config "
                f"({commit['config_hash']} != {self.config.config_hash()}); "
                "rebuild required (reference pattern: transform-hash "
                "invalidation, IndexRecordsForV4.java:44-64)"
            )
        rows = self.storage.read(self.spark, "corpus_stats").collect()
        #: per-field (n_docs, avgdl) — per-field norms (SURVEY §2.8-T10)
        self.field_stats = {
            r["field"]: (int(r["n_docs"]), float(r["avgdl"])) for r in rows
        }
        default = self.config.fields[0]
        self.n_docs, self.avgdl = self.field_stats[default]

    @staticmethod
    def _norm_mode(mode: str) -> str:
        """Normalize and validate the boolean mode: anything that is not
        exactly 'or'/'and' (case-insensitive) raises instead of silently
        scoring as OR."""
        m = str(mode).lower()
        if m not in ("or", "and"):
            raise ValueError(f"mode must be 'or' or 'and', got {mode!r}")
        return m

    def _parse_term(self, term: str):
        """'path:foo' → (field='path', stored='path:foo') when 'path' is an
        indexed non-default field; otherwise the whole string is a default-
        field term stored bare (the reference's Solr field-scope syntax,
        ``types:repository`` IndexRecords.java:174)."""
        default = self.config.fields[0]
        if ":" in term:
            prefix = term.split(":", 1)[0]
            if prefix in self.field_stats and prefix != default:
                return prefix, term
        return default, term

    def _stored(self, terms: Sequence[str]) -> List[str]:
        return sorted({self._parse_term(t)[1] for t in terms})

    def _postings_df(self) -> DataFrame:
        if self._postings is None:
            self._postings = self.storage.read(self.spark, "postings").cache()
        return self._postings

    def _lexicon_df(self) -> DataFrame:
        if self._lexicon is None:
            self._lexicon = self.storage.read(self.spark, "lexicon").cache()
        return self._lexicon

    def refresh(self) -> None:
        """Re-open the committed index (call after an incremental merge):
        drop the cached tables and term stats, re-check the commit, and
        re-read the corpus statistics."""
        for df in (self._postings, self._lexicon):
            if df is not None:
                df.unpersist()
        self._postings = self._lexicon = None
        self._term_cache.clear()
        self._load_commit()

    # --- term stats (T4) ---
    def term_stats(self, terms: Sequence[str]) -> dict:
        missing = [t for t in set(terms) if t not in self._term_cache]
        if missing:
            lex = self._lexicon_df()
            rows = lex.filter(F.col("term").isin(missing)).collect()
            found = {r["term"]: (int(r["df"]), int(r["cf"])) for r in rows}
            for t in missing:
                self._term_cache[t] = found.get(t)  # None = known-absent
        return {
            t: self._term_cache[t]
            for t in set(terms)
            if self._term_cache[t] is not None
        }

    def _resolve(self, terms: Sequence[str], mode: str = "or",
                 exclude: Sequence[str] = (),
                 filters: Sequence[Sequence[str]] = (),
                 boosts: Optional[dict] = None, min_match: int = 1,
                 mult: Optional[dict] = None,
                 global_stats: Optional[tuple] = None) -> Optional[_Query]:
        """The one term-resolution step of every BM25 surface: parse field
        scopes → stored terms → ``term_stats`` → live terms → per-field
        idf × boost × ``mult`` (the clause multiplicity, keyed by stored
        term) and avgdl → MUST_NOT terms → fq clauses.  Returns None when
        the query is statically empty: an absent AND term, fewer live
        terms than ``min_match``, or an empty fq clause.

        ``global_stats`` (ExactStatsCache): LOCAL term presence still
        decides which terms can match here, but df/N/avgdl in the idf and
        norm come from the supplied merged statistics."""
        mode = self._norm_mode(mode)
        fields = {s: f for f, s in map(self._parse_term, terms)}
        uniq = sorted(fields)
        stats = self.term_stats(uniq)
        live = [t for t in uniq if t in stats]
        fstats = self.field_stats
        if global_stats is not None:
            g_terms, fstats = global_stats
            stats = {t: g_terms[t] for t in live}
        if mode == "and" and len(live) != len(uniq):
            return None  # an absent term empties an AND query
        if len(live) < max(1, min_match):
            return None  # mm exceeding the live terms can never be satisfied
        fcl = [self._stored(cl) for cl in filters]
        if any(not cl for cl in fcl):
            return None
        boost_of = {self._parse_term(t)[1]: float(w)
                    for t, w in (boosts or {}).items()}
        mult = mult or {}
        # idf from the term's OWN field corpus (per-field N and avgdl)
        idfs = [
            lucene_idf(fstats[fields[t]][0], stats[t][0])
            * boost_of.get(t, 1.0) * mult.get(t, 1)
            for t in live
        ]
        avgdls = [fstats[fields[t]][1] for t in live]
        return _Query(live, idfs, avgdls, self._stored(exclude), fcl, mode,
                      min_match)

    def _shard_scan(self, terms: Sequence[str], columns: Sequence[str],
                    kernel, schema: str, shards=None) -> DataFrame:
        """The query layer's one grouped-map scan: the postings rows of
        ``terms`` (optionally only in ``shards``), projected to
        ``columns``, one Arrow batch per doc_shard through ``kernel``."""
        return self._postings_scan(terms, columns, shards).groupBy(
            "doc_shard").applyInPandas(kernel, schema=schema)

    def _postings_scan(self, terms, columns, shards=None) -> DataFrame:
        cond = F.col("term").isin(list(terms))
        if shards is not None:
            cond = cond & F.col("doc_shard").isin(list(shards))
        return self._postings_df().filter(cond).select(
            "doc_shard", "term", *columns)

    def _no_hits(self, schema: str = _SCORED) -> DataFrame:
        return self.spark.createDataFrame([], schema)

    # --- the headline operator: BM25 top-k (T6/T7/T8) ---
    def search(self, terms: Sequence[str], k: int = 10, mode: str = "or",
               offset: int = 0, exclude: Sequence[str] = (),
               boosts: Optional[dict] = None,
               min_should_match: int = 1,
               filters: Sequence[Sequence[str]] = (),
               global_stats: Optional[tuple] = None) -> DataFrame:
        """Returns DataFrame(doc_id long, score double), ordered, ≤ k rows.

        ``offset`` is Solr's cursor paging (``start=N&rows=k``,
        SolrHelper.java:43-66): each shard returns its top (offset+k)
        partials — a page deep in the results costs offset+k rows per shard,
        exactly like Lucene's collector; the global TakeOrderedAndProject
        then skips ``offset`` rows deterministically (score desc, doc_id).

        ``exclude`` is Lucene's BooleanClause.MUST_NOT (Solr ``q=a -b``):
        docs containing ANY excluded term are dropped; surviving docs keep
        their unchanged positive-clause BM25 score (a pure filter — MUST_NOT
        clauses never contribute to scoring).  Excluded terms need no
        lexicon lookup: their postings rows ride the same per-shard Arrow
        batch and become a shard-local boolean mask.

        ``boosts`` is Lucene's BoostQuery (Solr ``q=term^2``): a
        {term: weight} map multiplying that clause's score contribution.
        Implemented as an idf multiplier, so the per-term pruning upper
        bounds scale with it and MaxScore/WAND stays exact.

        ``min_should_match`` is Solr's mm parameter: a doc qualifies only
        if it matches at least that many distinct query terms (mm=1 is the
        plain OR; mm=len(terms) equals AND).  mm>1 disables MaxScore
        pruning (the threshold would be computed over non-qualifying
        docs).

        ``filters`` is Solr's fq / Lucene BooleanClause.FILTER: a list of
        clauses, each an OR of (usually field-scoped) terms a doc must
        match — e.g. ``[["lang:en", "lang:fr"]]`` — contributing nothing
        to the score.  Filter postings ride the same per-shard batch as
        MUST_NOT: no extra shuffle, pruning stays exact.

        ``global_stats`` is the ExactStatsCache hook (see
        ``MultiIndexEngine.search(exact_stats=True)``): a
        ``({term: (df, cf)}, {field: (n_docs, avgdl)})`` pair replacing
        this index's own corpus statistics in the idf/norm computation —
        local postings still decide which docs match, but every member of
        a multi-index collection scores under the SAME merged stats."""
        q = self._resolve(terms, mode, exclude, filters, boosts,
                          min_should_match, global_stats=global_stats)
        return _page(self._score_partials(q, k + offset), k, offset)

    def _score_partials(self, q: Optional[_Query], kk: int,
                        return_all: bool = False,
                        term_clauses: Optional[List[List[int]]] = None,
                        n_clauses: int = 0) -> DataFrame:
        """The BM25 shard scan of a resolved query: the unordered
        per-shard partials (top-kk rows each, or EVERY matching doc when
        ``return_all``); no rows when ``q`` is statically empty."""
        if q is None:
            return self._no_hits()
        scorer = _make_shard_scorer(
            q.live, q.idfs, q.avgdls, kk, self.config.k1, self.config.b,
            self.config.docs_per_shard, q.mode, neg_terms=q.neg,
            min_match=q.min_match, term_clauses=term_clauses,
            n_clauses=n_clauses, filter_clauses=q.filters or None,
            return_all=return_all,
        )
        return self._shard_scan(q.scan_terms, _BLOCK_COLS, scorer, _SCORED)

    # --- the full scored match set (the primitive behind Solr grouping /
    # field sorting: Lucene's collectors also visit every match) ---
    def score_matches(self, terms: Sequence[str], mode: str = "or",
                      exclude: Sequence[str] = (),
                      boosts: Optional[dict] = None,
                      min_should_match: int = 1,
                      filters: Sequence[Sequence[str]] = ()) -> DataFrame:
        """(doc_id, score) for EVERY matching doc — exact scores, no cut.

        Each doc's complete BM25 score is computed inside its single home
        shard (the index is doc-partitioned), so this is the same one-pass
        kernel as ``search`` minus the per-shard top-k truncation; output
        size equals the match set, and no pruning runs (every score is
        needed).  Use for grouping/sorting, not for plain top-k."""
        q = self._resolve(terms, mode, exclude, filters, boosts,
                          min_should_match)
        return self._score_partials(q, 0, return_all=True)

    # --- Solr result grouping (group=true&group.field=f): top docs per
    # group, groups ordered by their best doc ---
    def grouped_search(self, terms: Sequence[str], group_field: str,
                       k_per_group: int = 3, mode: str = "or",
                       exclude: Sequence[str] = (),
                       filters: Sequence[Sequence[str]] = ()) -> DataFrame:
        """(group value, rank-in-group, doc_id, score) for the top
        ``k_per_group`` docs of every group, Lucene TopGroups contract:
        within-group order is (score desc, doc_id); groups are ordered by
        their best score desc with ties broken by group value asc (a
        deterministic analogue of Lucene's encounter-order tiebreak).

        Cost shape: TWO-PASS, like Lucene's per-segment grouping
        collector.  Pass 1 COGROUPS the (term-pruned) postings with the
        column-pruned doc_map on ``doc_shard`` and runs scoring + the
        per-(group, shard) partial top-``k_per_group`` inside ONE kernel —
        the full scored match set is never materialized, never crosses
        Arrow twice, and never joins.  The group-field window then sees
        ≤ shards × |groups| × k_per_group rows, so a low-cardinality group
        field (a 5-value ``lang``) can no longer land the entire match set
        on ≤5 tasks.  The doc_map side shuffles by doc_shard (2 columns);
        at deployment scale doc_map is written in doc_id order, so
        bucketing it by ``doc_id div docs_per_shard`` makes that exchange
        a co-located read.

        Parameter surface: ``mode``/``exclude``/``filters`` (the Solr
        grouping essentials).  ``boosts``/``min_should_match``/
        ``global_stats`` are deliberately NOT threaded through this fused
        kernel — compose ``score_matches`` + a window for those rarer
        combinations."""
        if int(k_per_group) < 1:
            raise ValueError(f"k_per_group must be >= 1, got {k_per_group}")
        q = self._resolve(terms, mode, exclude, filters)
        dm_full = self.storage.read(self.spark, "doc_map")
        gtype = dm_full.schema[group_field].dataType.simpleString()
        out_schema = (f"{group_field} {gtype}, doc_id long, score double")
        if q is None:
            return self._no_hits(out_schema + ", rank_in_group int").select(
                group_field, "rank_in_group", "doc_id", "score")
        live, idfs, avgdls, neg = q.live, q.idfs, q.avgdls, q.neg
        kpg = int(k_per_group)
        k1, b = self.config.k1, self.config.b
        docs_per_shard = self.config.docs_per_shard
        n_query_terms = len(live)
        is_and = q.mode == "and"
        fcl_k = q.filters or None

        from archivesspace_virgo_spark import codec  # re-imported on workers

        def kern(l: pd.DataFrame, r: pd.DataFrame) -> pd.DataFrame:
            empty_p = pd.DataFrame({
                group_field: pd.Series(dtype=r[group_field].dtype
                                       if len(r.columns) else "object"),
                "doc_id": pd.Series(dtype="int64"),
                "score": pd.Series(dtype="float64"),
            })
            if len(l) == 0 or len(r) == 0:
                return empty_p
            by_term = {
                t: row for t, row in zip(l["term"], l.itertuples(index=False))
            }
            shard = int(l["doc_shard"].iloc[0])
            base = shard * docs_per_shard
            excluded, impossible = _excluded_mask(
                by_term, neg, fcl_k, docs_per_shard, base, codec
            )
            if impossible:
                return empty_p
            present = [(i, t) for i, t in enumerate(live) if t in by_term]
            if is_and and len(present) < n_query_terms:
                return empty_p
            if not present:
                return empty_p
            scores = np.zeros(docs_per_shard, dtype=np.float64)
            seen = np.zeros(docs_per_shard, dtype=np.int32)
            # no pruning (every match's exact score is needed), so the
            # scatter can run directly in sorted-term order — the same
            # deterministic float64 accumulation as the rescore path
            for i, t in present:
                row = by_term[t]
                d, tfs, dls = codec.decode_postings(
                    row.doc_blob, row.tf_blob, row.dl_blob
                )
                local = d.astype(np.int64) - base
                tfs = tfs.astype(np.float64)
                dls = dls.astype(np.float64)
                if excluded is not None:
                    keep = ~excluded[local]
                    local, tfs, dls = local[keep], tfs[keep], dls[keep]
                contrib = idfs[i] * tfs / (
                    tfs + k1 * (1.0 - b + b * dls / avgdls[i])
                )
                np.add.at(scores, local, contrib)
                np.add.at(seen, local, 1)
            cand = np.flatnonzero(
                seen >= (n_query_terms if is_and else 1)
            )
            if cand.size == 0:
                return empty_p
            gv = np.empty(docs_per_shard, dtype=object)
            rloc = r["doc_id"].to_numpy().astype(np.int64) - base
            gv[rloc] = r[group_field].to_numpy()
            out = pd.DataFrame({
                group_field: gv[cand],
                "doc_id": (cand + base).astype(np.int64),
                "score": scores[cand],
            })
            out = out.sort_values(["score", "doc_id"],
                                  ascending=[False, True])
            # dropna=False: docs with a NULL group value form their own
            # group (Solr grouping returns a null group; pandas groupby
            # silently drops null keys by default)
            return out.groupby(group_field, sort=False,
                               dropna=False).head(kpg)

        postings = self._postings_scan(q.scan_terms, _SCORE_COLS)
        dm = dm_full.select(
            F.expr(f"doc_id div {docs_per_shard}").alias("doc_shard"),
            "doc_id", group_field,
        )
        reduced = postings.groupby("doc_shard").cogroup(
            dm.groupby("doc_shard")
        ).applyInPandas(kern, schema=out_schema)
        w = Window.partitionBy(group_field).orderBy(
            F.desc("score"), F.asc("doc_id")
        )
        return (
            reduced
            .withColumn("rank_in_group", F.row_number().over(w))
            .filter(F.col("rank_in_group") <= k_per_group)
            .withColumn(
                "group_top_score",
                F.max("score").over(Window.partitionBy(group_field)),
            )
            .orderBy(F.desc("group_top_score"), F.asc(group_field),
                     F.asc("rank_in_group"))
            .select(group_field, "rank_in_group", "doc_id", "score")
        )

    # --- Solr field sort (sort=f asc|desc): matches ordered by a stored
    # doc_map column instead of relevance ---
    def sorted_search(self, terms: Sequence[str], sort_field,
                      k: int = 10, ascending: bool = True, mode: str = "or",
                      exclude: Sequence[str] = (), offset: int = 0,
                      filters: Sequence[Sequence[str]] = ()) -> DataFrame:
        """Top-k matches by stored field(s) (doc_id tiebreak) — Solr's
        ``sort=f1 asc, f2 desc``.  ``sort_field`` accepts a bare field
        name (direction from ``ascending``), a Solr sort string
        ("f1 asc, f2 desc"), or a list of fields / (field, direction)
        pairs; later keys break ties in earlier ones.  Scoring is skipped
        entirely — the unranked match set semi-joins the column-pruned
        doc_map scan and TakeOrdered merges ≤k rows, exactly like
        ``facet_search``'s cost shape, whatever the key count."""
        spec = parse_sort_spec(sort_field, ascending)
        # doc_id may appear in the spec ("sort=doc_id desc"): it is always
        # selected as the identity/tiebreak column, so keep it out of the
        # projection list or the select/join would raise
        # AMBIGUOUS_REFERENCE on the duplicated column
        fields = list(dict.fromkeys(
            f for f, _a in spec if f != "doc_id"
        ))
        hits = self.match_ids(terms, mode=mode, exclude=exclude,
                              filters=filters).select("doc_id")
        dm = self.storage.read(self.spark, "doc_map").select(
            "doc_id", *fields
        )
        keys = [F.asc(f) if a else F.desc(f) for f, a in spec]
        return _page(dm.join(hits, "doc_id", "left_semi"), k, offset,
                     *keys, F.asc("doc_id")).select("doc_id", *fields)

    # --- per-term contribution relation (the primitive under DisMax) ---
    def term_scores(self, terms: Sequence[str]) -> DataFrame:
        """(doc_id, term, contrib): each query term's BM25 contribution to
        each doc containing it — one kernel pass, no qualification, no
        pruning.  ``terms`` may be field-scoped; absent terms yield no
        rows."""
        q = self._resolve(terms)
        schema = "doc_id long, term string, contrib double"
        if q is None:
            return self._no_hits(schema)
        kern = _make_term_contrib_kernel(
            q.live, q.idfs, q.avgdls, self.config.k1, self.config.b
        )
        return self._shard_scan(q.live, _SCORE_COLS, kern, schema)

    # --- Lucene Explanation / Solr debugQuery=true: per-term score
    # breakdown for specific documents ---
    def explain(self, terms: Sequence[str], doc_ids: Sequence[int],
                boosts: Optional[dict] = None) -> DataFrame:
        """(doc_id, term, idf, tf, dl, contrib) for the given docs: every
        query term's BM25 factors and contribution, summing to exactly the
        ``search`` score (same kernel arithmetic; the per-doc tf/dl are
        decoded from the same postings).  Bounded output: |docs|·|terms|
        rows; the postings scan is still pruned to the query terms."""
        schema = ("doc_id long, term string, idf double, tf long, "
                  "dl long, contrib double")
        ids = sorted({int(d) for d in doc_ids})
        q = self._resolve(terms, boosts=boosts) if ids else None
        if q is None:
            return self._no_hits(schema)
        k1, b = self.config.k1, self.config.b
        docs_per_shard = self.config.docs_per_shard
        params = dict(zip(q.live, zip(q.idfs, q.avgdls)))
        shards = sorted({d // docs_per_shard for d in ids})

        from archivesspace_virgo_spark import codec  # re-imported on workers

        ids_arr = np.asarray(ids, dtype=np.int64)

        def kern(pdf: pd.DataFrame) -> pd.DataFrame:
            # fully vectorized: one isin mask + one BM25 expression per
            # term row, arrays concatenated at the end (no per-posting
            # Python loop — debugQuery stays usable on wide windows)
            docs, tags, idf_c, tf_c, dl_c, contrib_c = [], [], [], [], [], []
            for t, row in zip(pdf["term"], pdf.itertuples(index=False)):
                if t not in params:
                    continue
                idf, avgdl = params[t]
                d, tfs, dls = codec.decode_postings(
                    row.doc_blob, row.tf_blob, row.dl_blob
                )
                d = d.astype(np.int64)
                mask = np.isin(d, ids_arr)
                if not mask.any():
                    continue
                tm = tfs[mask].astype(np.float64)
                lm = dls[mask].astype(np.float64)
                docs.append(d[mask])
                tags.append(np.full(int(mask.sum()), t, dtype=object))
                idf_c.append(np.full(int(mask.sum()), idf))
                tf_c.append(tfs[mask].astype(np.int64))
                dl_c.append(dls[mask].astype(np.int64))
                contrib_c.append(
                    idf * tm / (tm + k1 * (1.0 - b + b * lm / avgdl))
                )
            if not docs:
                return pd.DataFrame({
                    "doc_id": pd.Series(dtype="int64"),
                    "term": pd.Series(dtype="object"),
                    "idf": pd.Series(dtype="float64"),
                    "tf": pd.Series(dtype="int64"),
                    "dl": pd.Series(dtype="int64"),
                    "contrib": pd.Series(dtype="float64"),
                })
            return pd.DataFrame({
                "doc_id": np.concatenate(docs),
                "term": np.concatenate(tags),
                "idf": np.concatenate(idf_c),
                "tf": np.concatenate(tf_c),
                "dl": np.concatenate(dl_c),
                "contrib": np.concatenate(contrib_c),
            })

        return self._shard_scan(q.live, _SCORE_COLS, kern, schema,
                                shards).orderBy("doc_id", "term")

    # --- Solr DisMax (defType=dismax, qf=f1 f2 ..., tie=t): per query
    # term, a DisjunctionMaxQuery across the qf fields; terms combine as a
    # boolean OR sum ---
    def dismax_search(self, terms: Sequence[str],
                      fields: Optional[Sequence[str]] = None,
                      tie: float = 0.0, k: int = 10,
                      offset: int = 0) -> DataFrame:
        """BM25 top-k under Lucene's DisjunctionMaxQuery contract:

            score(d) = Σ_t [ max_f s(t,f,d) + tie · (Σ_f s(t,f,d) − max_f) ]

        Each bare term is scored against every ``fields`` entry (its
        field-scoped posting under that field's own corpus stats); the
        best field wins, others contribute ``tie``-scaled (tie=0 = pure
        max, tie=1 = plain sum across fields).

        Cost shape: ZERO data shuffles.  A doc's field-scoped postings
        for every field share its home shard by construction, so the
        whole DisjunctionMax reduction (per-term max/sum across fields,
        per-doc sum across terms, partial top-k) runs inside the same
        per-shard kernel pass as ``search`` — only ≤k partial rows per
        shard reach the TakeOrdered merge (pinned in
        tests/test_dismax.py)."""
        fields = list(fields or self.config.fields)
        default = self.config.fields[0]
        # duplicated query terms keep Lucene's m-times clause contribution
        # (each repetition is its own DisjunctionMax clause; same multiplier
        # on every field of the term scales its max and tie-sum by m) —
        # consistent with boolean_search's duplicate-SHOULD handling
        from collections import Counter

        mult = Counter(terms)
        pairs = sorted({
            (t if f == default else f"{f}:{t}", t, f)
            for t in terms for f in fields
        })
        stats = self.term_stats([s for s, _b, _f in pairs])
        live = [(s, bare, f) for s, bare, f in pairs if s in stats]
        if not live:
            return _page(self._no_hits(), k, offset)
        stored_terms = [s for s, _b, _f in live]
        bare_of = [bare for _s, bare, _f in live]
        idfs = [lucene_idf(self.field_stats[f][0], stats[s][0])
                * mult[bare]
                for s, bare, f in live]
        avgdls = [self.field_stats[f][1] for _s, _b, f in live]
        scorer = _make_dismax_scorer(
            stored_terms, bare_of, idfs, avgdls, k + offset,
            self.config.k1, self.config.b, self.config.docs_per_shard,
            float(tie),
        )
        return _page(self._shard_scan(stored_terms, _SCORE_COLS, scorer,
                                      _SCORED), k, offset)

    # --- Lucene BooleanQuery of MUST clauses (the reference's compound
    # query shape: ``getQuery(...) + " AND types:repository"``
    # IndexRecords.java:174 — each clause may itself be an OR over a
    # multi-term expansion, which flat AND-of-terms cannot express) ---
    def boolean_search(self, clauses: Sequence[Sequence[str]], k: int = 10,
                       offset: int = 0, exclude: Sequence[str] = (),
                       boosts: Optional[dict] = None,
                       filters: Sequence[Sequence[str]] = (),
                       optional_terms: Sequence[str] = ()) -> DataFrame:
        """BM25 top-k where a doc must match ≥1 term of EVERY clause.

        Lucene semantics: score = sum over clauses of the clause's matched
        term contributions; a term appearing in m clauses contributes m
        times (BooleanQuery does not dedup identical clauses), implemented
        as an m× idf multiplier.  Composes with ``exclude`` (MUST_NOT) and
        ``boosts``.  Clause coverage is tracked shard-locally with a
        bitmask — same single scoring pass, no extra shuffle.

        ``optional_terms`` are SHOULD clauses next to the MUST clauses
        (Lucene ``+a b``): they contribute to a qualifying doc's score but
        are not required — clause-bits 0 in the kernel, so they never
        affect qualification."""
        if not clauses:
            # pure-SHOULD query: a flat scoring OR — but BooleanQuery does
            # not dedup identical SHOULD clauses, so a term repeated m
            # times keeps its m× contribution (the clause path applies the
            # same multiplier via opt_count); search() dedups terms, so
            # fold the multiplicity into the boosts it parses per stored
            # term.  Boost keys are normalized to stored form first
            # (idempotent under _parse_term), matching search()'s
            # last-assignment semantics for aliased raw keys.
            counts: dict = {}
            for t in optional_terms:
                _f, stored = self._parse_term(t)
                counts[stored] = counts.get(stored, 0) + 1
            merged: dict = {}
            for t, w in (boosts or {}).items():
                _f, stored = self._parse_term(t)
                merged[stored] = float(w)
            for stored, c in counts.items():
                if c > 1:
                    merged[stored] = merged.get(stored, 1.0) * c
            return self.search(sorted(counts), k=k, offset=offset,
                               exclude=exclude, boosts=merged or None,
                               filters=filters)
        term_cl: dict = {}
        mult: dict = {}
        for ci, cl in enumerate(clauses):
            for t in self._stored(cl):
                term_cl.setdefault(t, set()).add(ci)
                mult[t] = mult.get(t, 0) + 1
        for t in optional_terms:
            _f, stored = self._parse_term(t)
            mult[stored] = mult.get(stored, 0) + 1
            term_cl.setdefault(stored, set())
        q = self._resolve(list(term_cl), exclude=exclude, filters=filters,
                          boosts=boosts, mult=mult)
        if q is None or len(set().union(*(term_cl[t] for t in q.live))) \
                < len(clauses):
            # a clause whose every term is absent can never be satisfied
            return _page(self._no_hits(), k, offset)
        partials = self._score_partials(
            q, k + offset, term_clauses=[sorted(term_cl[t]) for t in q.live],
            n_clauses=len(clauses),
        )
        return _page(partials, k, offset)

    # --- multi-term query rewrites (Lucene MultiTermQuery family; the
    # Solr wildcard/fuzzy syntax of q=pre* / q=term~1 the reference's
    # select handler accepts, SolrHelper.java:39-80).  Both expand against
    # the lexicon — a tiny bounded collect — and delegate to ``search`` as
    # a scoring boolean OR (Lucene SCORING_BOOLEAN_REWRITE: every expanded
    # term scores with its own idf; no per-term boost). ---
    def _expand(self, predicate, max_expansions: int, what: str) -> List[str]:
        lex = self._lexicon_df()
        rows = (
            lex.filter(predicate)
            .select("term", "df", "cf")
            .limit(max_expansions + 1)
            .collect()
        )
        if len(rows) > max_expansions:
            # Lucene's IndexSearcher.TooManyClauses contract: refuse rather
            # than silently score a truncated (nondeterministic) term set
            raise ValueError(
                f"{what} expands to more than {max_expansions} terms; "
                "raise max_expansions or narrow the query"
            )
        for r in rows:  # seed the stats cache — no second lexicon job
            self._term_cache[r["term"]] = (int(r["df"]), int(r["cf"]))
        return [r["term"] for r in rows]

    def _default_field_guard(self, field: str, pred):
        """Lucene expands multi-term queries PER FIELD: a default-field
        expansion must never match scoped ``field:term`` lexicon entries
        (``la*`` must not return ``lang:en`` on a multi-field index), so the
        default-field predicate additionally excludes any term containing
        ``:`` — same guard as ``_expand_range`` / ``terms_component``."""
        if field == self.config.fields[0]:
            return pred & ~F.col("term").contains(":")
        return pred

    def _expand_prefix(self, prefix: str, max_expansions: int) -> List[str]:
        bare = prefix[:-1] if prefix.endswith("*") else prefix
        field, stored = self._parse_term(bare)
        pred = self._default_field_guard(
            field, F.col("term").startswith(stored)
        )
        return self._expand(pred, max_expansions, f"prefix '{prefix}'")

    def prefix_search(self, prefix: str, k: int = 10, offset: int = 0,
                      max_expansions: int = 1024) -> DataFrame:
        """Lucene PrefixQuery (Solr ``q=pre*``): expand the prefix against
        the lexicon, then BM25-score the expansion as a boolean OR.

        A trailing ``*`` is accepted and stripped; ``field:pre*`` scopes the
        expansion to that field's terms (stored as ``field:term``)."""
        terms = self._expand_prefix(prefix, max_expansions)
        if not terms:
            return self._no_hits()
        return self.search(terms, k=k, mode="or", offset=offset)

    def _fuzzy_pred(self, field: str, stored: str, max_edits: int,
                    prefix_length: int):
        """Per-field fuzzy candidate predicate (Lucene expands multi-term
        queries PER FIELD).  For a scoped term the edit distance is
        measured on the term BODY with a mandatory ``field:`` prefix —
        otherwise ``lang:fr~2`` would match the default-field term
        ``langer`` (delete ``:``) or another field's ``land:fr``,
        returning docs that contain no ``lang`` term at all."""
        if field != self.config.fields[0]:
            fp = field + ":"
            body = stored[len(fp):]
            cand = F.expr(f"substring(term, {len(fp) + 1})")
            pred = (F.col("term").startswith(fp)
                    & (F.levenshtein(cand, F.lit(body)) <= max_edits))
            if prefix_length > 0:
                pred = pred & cand.startswith(body[:prefix_length])
            return pred
        pred = F.levenshtein(F.col("term"), F.lit(stored)) <= max_edits
        if prefix_length > 0:
            pred = pred & F.col("term").startswith(stored[:prefix_length])
        return self._default_field_guard(field, pred)

    def _expand_fuzzy(self, term: str, max_edits: int, prefix_length: int,
                      max_expansions: int) -> List[str]:
        field, stored = self._parse_term(term)
        pred = self._fuzzy_pred(field, stored, max_edits, prefix_length)
        return self._expand(pred, max_expansions, f"fuzzy '{term}'")

    def fuzzy_search(self, term: str, k: int = 10, max_edits: int = 1,
                     prefix_length: int = 0, offset: int = 0,
                     max_expansions: int = 50) -> DataFrame:
        """Lucene FuzzyQuery (Solr ``q=term~1``): expand to every lexicon
        term within ``max_edits`` Levenshtein edits (optionally sharing a
        ``prefix_length``-char prefix, Lucene's prefixLength), then score
        the expansion as a boolean OR.  ``max_expansions`` defaults to
        Lucene's 50, but over-budget expansion raises (deterministic)
        instead of Lucene's silent keep-top-N-by-df truncation."""
        terms = self._expand_fuzzy(term, max_edits, prefix_length,
                                   max_expansions)
        if not terms:
            return self._no_hits()
        return self.search(terms, k=k, mode="or", offset=offset)

    def _expand_wildcard(self, pattern: str, max_expansions: int) -> List[str]:
        import re as _re

        field, stored = self._parse_term(pattern)
        rx = "".join(
            ".*" if ch == "*" else "." if ch == "?" else _re.escape(ch)
            for ch in stored
        )
        pred = self._default_field_guard(field, F.col("term").rlike(f"^{rx}$"))
        return self._expand(pred, max_expansions, f"wildcard '{pattern}'")

    def wildcard_search(self, pattern: str, k: int = 10, offset: int = 0,
                        max_expansions: int = 1024) -> DataFrame:
        """Lucene WildcardQuery (Solr ``q=te*t`` / ``q=te?t``): ``*`` = any
        run, ``?`` = any single char, everything else literal.  Expands
        against the lexicon (a distributed filter — a leading wildcard is
        allowed, it just can't use the prefix rowgroup stats) and scores
        the expansion as a boolean OR."""
        terms = self._expand_wildcard(pattern, max_expansions)
        if not terms:
            return self._no_hits()
        return self.search(terms, k=k, mode="or", offset=offset)

    def _expand_regexp(self, regex: str, max_expansions: int) -> List[str]:
        field, stored = self._parse_term(regex)
        if field != self.config.fields[0]:
            fld, body = stored.split(":", 1)
            import re as _re
            rx = f"{_re.escape(fld)}:(?:{body})"
        else:
            rx = f"(?:{stored})"
        pred = self._default_field_guard(field, F.col("term").rlike(f"^{rx}$"))
        return self._expand(pred, max_expansions, f"regexp '{regex}'")

    def regexp_search(self, regex: str, k: int = 10, offset: int = 0,
                      max_expansions: int = 1024) -> DataFrame:
        """Lucene RegexpQuery (Solr ``q=/regex/``): the regex is anchored to
        the WHOLE term (Lucene's contract — ``/ab.*/`` matches terms, not
        substrings), expanded against the lexicon, scored as a boolean OR.
        ``field:regex`` scopes to that field's terms."""
        terms = self._expand_regexp(regex, max_expansions)
        if not terms:
            return self._no_hits()
        return self.search(terms, k=k, mode="or", offset=offset)

    def term_range_search(self, lo: Optional[str], hi: Optional[str],
                          k: int = 10, include_lo: bool = True,
                          include_hi: bool = True,
                          field: Optional[str] = None, offset: int = 0,
                          max_expansions: int = 1024) -> DataFrame:
        """Lucene TermRangeQuery (Solr ``q=f:[a TO b]`` / ``{a TO b}``):
        every lexicon term lexicographically inside the bounds (None = open
        end), scored as a boolean OR.  Ranges are per-field, as in Lucene:
        the default field excludes scoped ``field:term`` entries (stored
        default-field terms never contain ``:``); a non-default field
        compares on the bare term under its ``field:`` prefix."""
        terms = self._expand_range(lo, hi, include_lo, include_hi, field,
                                   max_expansions)
        if not terms:
            return self._no_hits()
        return self.search(terms, k=k, mode="or", offset=offset)

    def _expand_range(self, lo: Optional[str], hi: Optional[str],
                      include_lo: bool, include_hi: bool,
                      field: Optional[str], max_expansions: int) -> List[str]:
        default = self.config.fields[0]
        field = field or default
        if field == default:
            pred = ~F.col("term").contains(":")
            cmp_col = F.col("term")
        else:
            pred = F.col("term").startswith(f"{field}:")
            cmp_col = F.substring(F.col("term"), len(field) + 2, 1 << 20)
        if lo is not None:
            pred = pred & (cmp_col >= lo if include_lo else cmp_col > lo)
        if hi is not None:
            pred = pred & (cmp_col <= hi if include_hi else cmp_col < hi)
        return self._expand(pred, max_expansions, f"term range [{lo} TO {hi}]")

    # --- Solr q= string entry point (the select-handler surface the
    # reference drives: SolrHelper.getRecordsForQuery builds q= strings like
    # ``user_mtime:[NOW-24HOUR TO NOW] AND types:repository``,
    # SolrHelper.java:39-80, IndexRecords.java:124-132,174) ---
    def query(self, q: str, k: int = 10, offset: int = 0,
              max_expansions: int = 1024) -> DataFrame:
        """Parse a Lucene standard-syntax query string and score it.

        One parse (``query_parser.parse_query``), one dispatch: a phrase
        clause routes to ``phrase_search``; multi-term clauses (prefix /
        wildcard / fuzzy / regexp / term-range) expand against the lexicon
        (Lucene SCORING_BOOLEAN_REWRITE — each expanded term scores with
        its own idf) and merge with the literal terms into a single
        ``search`` call carrying the parsed occurs (MUST_NOT → ``exclude``)
        and per-term boosts.  ``AND`` (q.op=AND) with multi-term clauses
        routes to ``boolean_search`` — Lucene ANDs *clauses* while OR-ing
        each clause's expansion, which a flat term list can't express."""
        from archivesspace_virgo_spark.index.query_parser import parse_query

        pq = parse_query(q)
        if pq.phrase is not None:
            if pq.phrase_slop > 0:
                # '"a b"~N' → Lucene PhraseQuery slop (transpositions
                # allowed — Solr parity); span_near_search remains the
                # explicit ordered-proximity API.  Phrases with REPEATING
                # terms (e.g. '"time to time"~2') take the same path —
                # sloppy_phrase_search runs Lucene's SloppyPhraseMatcher
                # repeats machinery for them.
                return self.sloppy_phrase_search(
                    pq.phrase, slop=pq.phrase_slop, k=k,
                    field=pq.phrase_field, offset=offset)
            return self.phrase_search(pq.phrase, k=k, field=pq.phrase_field,
                                      offset=offset)
        expansions: List[List[str]] = []
        for p in pq.prefixes:
            expansions.append(self._expand_prefix(p, max_expansions))
        for w in pq.wildcards:
            expansions.append(self._expand_wildcard(w, max_expansions))
        for t, edits in pq.fuzzies:
            expansions.append(self._expand_fuzzy(t, edits, 0, max_expansions))
        for rx in pq.regexps:
            expansions.append(self._expand_regexp(rx, max_expansions))
        for lo, hi, ilo, ihi, fld in pq.ranges:
            expansions.append(self._expand_range(lo, hi, ilo, ihi, fld,
                                                 max_expansions))
        if pq.mode == "and" and (expansions or pq.must):
            # an empty expansion is an unsatisfiable MUST clause (Lucene's
            # rewritten MatchNoDocsQuery) — boolean_search handles it;
            # under q.op=AND every positive clause is required, so '+'
            # terms fold into the MUST clause list
            clauses = [[t] for t in pq.terms + pq.must] + expansions
            return self.boolean_search(clauses, k=k, offset=offset,
                                       exclude=pq.exclude,
                                       boosts=pq.boosts or None)
        if pq.must:
            # '+a b': MUST terms become single-term clauses, bare terms
            # (and any expansions) ride along as scoring-optional SHOULD
            opt = list(pq.terms) + [t for ex in expansions for t in ex]
            return self.boolean_search([[t] for t in pq.must], k=k,
                                       offset=offset, exclude=pq.exclude,
                                       boosts=pq.boosts or None,
                                       optional_terms=opt)
        terms = list(pq.terms) + [t for ex in expansions for t in ex]
        if not terms:
            return self._no_hits()
        return self.search(terms, k=k, mode=pq.mode, offset=offset,
                           exclude=pq.exclude, boosts=pq.boosts or None)

    # --- spell suggestion (Lucene DirectSpellChecker / Solr spellcheck
    # component — the did-you-mean surface of the select handler the
    # reference programs against, SolrHelper.java:39-80) ---
    def suggest(self, term: str, n: int = 5, max_edits: int = 2,
                prefix_length: int = 1, min_df: int = 1) -> DataFrame:
        """Top-n corrections for a (possibly misspelled) term: lexicon
        terms within ``max_edits`` Levenshtein edits, sharing the first
        ``prefix_length`` chars (Lucene's minPrefix=1 default), the input
        term itself excluded.  Ordered the DirectSpellChecker way — fewer
        edits first, then higher df (more popular), then term — entirely as
        a distributed lexicon filter + TakeOrdered(n); no collect of the
        expansion.  Returns (term, df, distance)."""
        field, stored = self._parse_term(term)
        # per-field candidates + body-measured distance (same contract as
        # _fuzzy_pred: a scoped term must never be corrected by another
        # field's or the default field's terms)
        pred = (self._fuzzy_pred(field, stored, max_edits, prefix_length)
                & (F.col("term") != stored)
                & (F.col("df") >= min_df))
        if field != self.config.fields[0]:
            fp = field + ":"
            dist = F.levenshtein(
                F.expr(f"substring(term, {len(fp) + 1})"),
                F.lit(stored[len(fp):]),
            )
        else:
            dist = F.levenshtein(F.col("term"), F.lit(stored))
        return (
            self._lexicon_df()
            .filter(pred)
            .withColumn("distance", dist)
            .orderBy(F.asc("distance"), F.desc("df"), F.asc("term"))
            .select("term", "df", "distance")
            .limit(n)
        )

    # --- MoreLikeThis (Lucene MLT ``like(text)`` / Solr mlt handler) ---
    def more_like_this(self, text: str, k: int = 10,
                       max_query_terms: int = 25, min_term_freq: int = 1,
                       min_doc_freq: int = 1, max_doc_freq_pct: float = 1.0,
                       exclude_doc_id: Optional[int] = None) -> DataFrame:
        """Similar documents for a seed text, per the Lucene MoreLikeThis
        contract: tokenize the seed (driver-side — it is ONE document),
        keep terms with seed-tf ≥ min_term_freq and corpus df within
        [min_doc_freq, max_doc_freq_pct·N], rank candidates by
        seed-tf · idf, take the top ``max_query_terms`` as an interesting-
        terms set, and run them as a scoring boolean OR.  One lexicon
        point-lookup job for the candidate stats, then a normal ``search``.
        ``exclude_doc_id`` drops the seed doc itself from the hits (Solr
        mlt's match-exclusion) without disturbing the ranking."""
        from collections import Counter

        from archivesspace_virgo_spark.tokenizer import tokenize_text

        tf = Counter(tokenize_text(text))
        cand = sorted(t for t, c in tf.items() if c >= min_term_freq)
        empty = self.spark.createDataFrame([], "doc_id long, score double")
        if not cand:
            return empty
        stats = self.term_stats(cand)
        ranked = []
        for t in cand:
            if t not in stats:
                continue
            df_t = stats[t][0]
            if df_t < min_doc_freq or df_t > max_doc_freq_pct * self.n_docs:
                continue
            ranked.append((tf[t] * lucene_idf(self.n_docs, df_t), t))
        top = [t for _s, t in
               sorted(ranked, key=lambda it: (-it[0], it[1]))[:max_query_terms]]
        if not top:
            return empty
        if exclude_doc_id is None:
            return self.search(top, k=k, mode="or")
        hits = self.search(top, k=k + 1, mode="or")
        return (
            hits.filter(F.col("doc_id") != int(exclude_doc_id))
            .orderBy(F.desc("score"), F.asc("doc_id"))
            .limit(k)
        )

    # --- Solr fl= parity: top-k with stored display fields
    # (the reference reads id/title/etc from every Solr response,
    # SolrHelper.java:39-66) ---
    def search_with_fields(self, terms: Sequence[str], k: int = 10,
                           mode: str = "or",
                           fields: Sequence[str] = ("repo", "path", "lang"),
                           offset: int = 0) -> DataFrame:
        """Top-k plus doc_map display columns.  The ≤k-row hit set is
        BROADCAST against the column-pruned doc_map scan, so field
        retrieval costs one map-side lookup join — no extra shuffle."""
        hits = self.search(terms, k=k, mode=mode, offset=offset)
        dm = self.storage.read(self.spark, "doc_map").select(
            "doc_id", *fields
        )
        return (
            dm.join(F.broadcast(hits), "doc_id")
            .orderBy(F.desc("score"), F.asc("doc_id"))
            .select("doc_id", *fields, "score")
        )

    # --- phrase query (T2 positions + T8; Lucene PhraseQuery surface,
    # the quoted-phrase syntax of the reference's Solr q=..., per
    # SolrHelper.java:39-80) ---
    def phrase_search(self, phrase, k: int = 10, field: Optional[str] = None,
                      offset: int = 0,
                      only_doc_ids: Optional[Sequence[int]] = None) -> DataFrame:
        """Exact-phrase BM25 top-k: docs where the terms occur consecutively.

        Scoring follows Lucene's PhraseQuery contract: tf = exact phrase
        frequency, idf = SUM of the phrase terms' idfs (duplicates counted),
        score = idf_sum * ptf / (ptf + k1*(1 - b + b*dl/avgdl)).

        Kernel: per shard, each term's occurrence set becomes a key array
        ``local_doc * 2^33 + (position - i)``; the phrase's start positions
        are the running ``np.intersect1d`` across terms — fully vectorized,
        no per-doc loop.  Only ≤k partial rows leave each shard.

        ``only_doc_ids`` restricts matching to those docs (the ReRank
        window): the postings scan prunes to their shards and the kernel
        masks candidates, so the cost is bounded by the window.
        """
        return self._phrase_family(phrase, 0, k, field, offset, only_doc_ids,
                                   _exact_freq)

    def _phrase_family(self, phrase, slop: int, k: int,
                       field: Optional[str], offset: int,
                       only_doc_ids: Optional[Sequence[int]],
                       make_freq) -> DataFrame:
        """Preamble, scan and paging tail shared by the phrase family;
        ``make_freq(stored, slop)`` supplies the per-shard frequency step
        (exact ptf, ordered-span sf or sloppy sf).  Lucene's phrase
        weight: idf = SUM of the phrase terms' idfs (duplicates counted)
        under the phrase field's own N and avgdl."""
        from archivesspace_virgo_spark.tokenizer import tokenize_text

        terms = tokenize_text(phrase) if isinstance(phrase, str) else list(phrase)
        if not terms:
            return _page(self._no_hits(), k, offset)
        if slop < 0:
            raise ValueError("slop must be >= 0")
        if only_doc_ids is not None and not len(only_doc_ids):
            return _page(self._no_hits(), k, offset)
        default = self.config.fields[0]
        field = field or default
        stored = [t if field == default else f"{field}:{t}" for t in terms]
        uniq = sorted(set(stored))
        stats = self.term_stats(uniq)
        if len(stats) != len(uniq):
            # a missing term empties a phrase query
            return _page(self._no_hits(), k, offset)
        n_docs_f, avgdl_f = self.field_stats[field]
        idf_sum = float(
            sum(lucene_idf(n_docs_f, stats[t][0]) for t in stored)
        )
        only_ids = shards = None
        if only_doc_ids is not None:
            only_ids = np.asarray(sorted(set(only_doc_ids)), dtype=np.int64)
            shards = sorted({int(d) // self.config.docs_per_shard
                             for d in only_ids})
        # plain k+offset even with a rerank window: per-shard top-(k+offset)
        # partials + the global TakeOrdered merge are already exact for
        # top-k (rerank passes k = window size anyway)
        scorer = _make_phrase_scorer(
            stored, make_freq(stored, slop), idf_sum, avgdl_f, k + offset,
            self.config.k1, self.config.b, self.config.docs_per_shard,
            only_ids,
        )
        return _page(self._shard_scan(uniq, _POS_COLS, scorer, _SCORED,
                                      shards), k, offset)

    # --- ordered proximity query (Lucene SpanNearQuery(inOrder=true) /
    # the Solr ``"a b"~N`` proximity surface; built on the same stored v7
    # positions as phrase_search) ---
    def span_near_search(self, phrase, slop: int = 0, k: int = 10,
                         field: Optional[str] = None,
                         offset: int = 0,
                         only_doc_ids: Optional[Sequence[int]] = None) -> DataFrame:
        """BM25 top-k for docs where the terms occur IN ORDER within
        ``slop`` total gap positions.

        Contract (NearSpansOrdered + Lucene sloppy weighting): for each
        occurrence p1 of the first term, greedily chain to the NEXT
        occurrence of each later term (strictly increasing positions);
        matchLength = p_last − p1 − (n−1) (total inserted gap); spans with
        matchLength ≤ slop contribute 1/(1+matchLength) to the sloppy
        frequency, which replaces tf in the phrase BM25 form
        (idf_sum · sf / (sf + k1·norm)).  slop=0 degenerates to EXACTLY
        ``phrase_search`` (every chain is adjacent, weight 1, sf = ptf).

        NOTE: Lucene's *PhraseQuery* slop additionally permits
        transpositions (out-of-order terms within the edit budget) — that
        contract lives in ``sloppy_phrase_search``, which is what the
        ``query('"a b"~N')`` string entry dispatches to (Solr parity).
        This operator is the ordered SpanNearQuery contract — stricter,
        and the one the greedy chain can evaluate fully vectorized (the
        same combined ``doc·2^33 + position`` key trick as phrase_search,
        one ``searchsorted`` per query term, no per-doc loop).
        """
        return self._phrase_family(phrase, slop, k, field, offset,
                                   only_doc_ids, _ordered_span_freq)

    # --- sloppy phrase (Lucene PhraseQuery slop — the Solr ``"a b"~N``
    # semantics proper: transpositions allowed within the edit budget,
    # unlike the stricter ordered span_near_search contract) ---
    def sloppy_phrase_search(self, phrase, slop: int = 0, k: int = 10,
                             field: Optional[str] = None,
                             offset: int = 0,
                             only_doc_ids: Optional[Sequence[int]] = None
                             ) -> DataFrame:
        """BM25 top-k under Lucene PhraseQuery slop semantics: terms may
        occur OUT OF ORDER within the ``slop`` edit budget (transposing
        two adjacent terms costs 2), per the SloppyPhraseMatcher greedy
        algorithm in ``functions.proximity.lucene_sloppy_freq``; each
        match weighs 1/(1+matchLength) into the sloppy frequency, which
        replaces tf in the phrase BM25 form (idf_sum · sf / (sf + k1·norm),
        same as span_near_search).  This is what ``query('"a b"~N')``
        dispatches to (Solr parity); span_near_search stays the explicit
        ordered-proximity API.

        The kernel intersects the terms' shard-local doc sets vectorized,
        then runs the LOCKSTEP-BATCH greedy matcher
        (``proximity.lucene_sloppy_freq_batch``) over every candidate at
        once — flattened numpy position arrays, one matcher step per
        iteration for all still-active docs, property-pinned equal to the
        scalar matcher — so a sloppy phrase of two HOT terms (candidate
        set ≈ docs_per_shard) costs O(occurrences) numpy element-ops, not
        a per-doc Python loop; only ≤k partials leave each shard.

        Phrases with REPEATING terms run Lucene's SloppyPhraseMatcher
        repeats machinery (``proximity.lucene_sloppy_freq_repeats``:
        repeat groups, collision advance, re-queue dance) per candidate —
        the scalar path, acceptable because repeated-term phrases have
        candidate sets bounded by the rarest term and are a rare query
        shape; the hot path stays vectorized."""
        return self._phrase_family(phrase, slop, k, field, offset,
                                   only_doc_ids, _sloppy_freq)

    # --- Solr ReRankQParser (rq={!rerank reRankQuery=... reRankDocs=N
    # reRankWeight=w}): re-score the top-N window of a main query by
    # adding w x a second query's score ---
    def rerank(self, terms: Sequence[str], rerank_phrase, k: int = 10,
               rerank_docs: int = 50, weight: float = 2.0,
               mode: str = "or", slop: int = 0,
               ordered: bool = False) -> DataFrame:
        """Solr's two-pass rerank contract: run the main query, take its
        top ``rerank_docs`` window, and reorder that window by
        ``main_score + weight · phrase_score`` (docs the rerank query
        doesn't match keep their main score).  When ``k > rerank_docs``,
        docs beyond the window keep their ORIGINAL scores and order and
        follow the reranked window (Solr's ReRankQParser contract — the
        result may be non-monotonic in score across the window boundary).
        The window ids are a bounded driver-side collect (Solr's
        reRankDocs is likewise a small window); the second pass prunes its
        postings scan to the window's shards and masks candidates
        in-kernel, so its cost is bounded by the window, not the corpus.

        ``slop > 0`` defaults to Solr-parity PhraseQuery slop
        (transpositions allowed) — the SAME contract as ``query('"a
        b"~N')``, the phrase CLI, and the rerank CLI; ``ordered=True``
        opts into the stricter ordered SpanNear proximity instead."""
        base = self.search(terms, k=max(k, rerank_docs), mode=mode)
        hits = [(int(r["doc_id"]), float(r["score"]))
                for r in base.collect()]
        if not hits:
            return self._no_hits()
        window, tail = hits[:rerank_docs], hits[rerank_docs:]
        ids = [d for d, _s in window]
        if slop > 0 and ordered:
            second = self.span_near_search(rerank_phrase, slop=slop,
                                           k=len(ids), only_doc_ids=ids)
        elif slop > 0:
            # ordered=False: Solr-parity PhraseQuery slop as the rerank
            # query (transpositions allowed), window-targeted the same way
            second = self.sloppy_phrase_search(rerank_phrase, slop=slop,
                                               k=len(ids), only_doc_ids=ids)
        else:
            second = self.phrase_search(rerank_phrase, k=len(ids),
                                        only_doc_ids=ids)
        ph = {int(r["doc_id"]): float(r["score"]) for r in second.collect()}
        rescored = [
            (d, s + weight * ph.get(d, 0.0)) for d, s in window
        ]
        rescored.sort(key=lambda ds: (-ds[1], ds[0]))
        return self.spark.createDataFrame(
            (rescored + tail)[:k], "doc_id long, score double"
        )

    # --- highlighting (Lucene UnifiedHighlighter surface: the hl=true
    # snippet field the reference's Solr responses carry back to Virgo,
    # SolrHelper.java:39-66) — built on the SAME stored positions that
    # power phrase queries (format v7 pos_blob), no re-tokenization ---
    def highlight(self, terms: Sequence[str], k: int = 10,
                  mode: str = "or") -> DataFrame:
        """Top-k hits plus the minimal token window covering every query
        term the document contains: (doc_id, score, snippet_start,
        snippet_end, n_matched) with positions in token offsets.

        Plan shape: the ≤k hit ids are shipped INTO the per-shard kernel as
        a closure literal (k rows — not a join), the postings scan prunes
        to the hit docs' shards (partition pruning — non-hit shards are
        never read), and the kernel emits ≤k window rows; the final
        broadcast join attaches scores.  Inside a hit shard the kernel
        decodes the query terms' postings for that shard (the same decode
        class a phrase query pays per shard); the Python window loop runs
        over occurrences WITHIN hit docs only."""
        hits = self.search(terms, k=k, mode=mode)
        hit_rows = hits.collect()  # bounded: ≤ k rows
        if not hit_rows:
            return self._no_hits(
                "doc_id long, score double, snippet_start int, "
                "snippet_end int, n_matched int")
        q = self._resolve(terms)  # not None: the hits matched a live term
        hit_ids = sorted(int(r["doc_id"]) for r in hit_rows)
        docs_per_shard = self.config.docs_per_shard
        hit_arr = np.asarray(hit_ids, dtype=np.int64)

        from archivesspace_virgo_spark import codec  # re-imported on workers

        def windower(pdf: pd.DataFrame) -> pd.DataFrame:
            empty = pd.DataFrame({
                "doc_id": pd.Series(dtype="int64"),
                "snippet_start": pd.Series(dtype="int32"),
                "snippet_end": pd.Series(dtype="int32"),
                "n_matched": pd.Series(dtype="int32"),
            })
            if pdf.empty:
                return empty
            shard = int(pdf["doc_shard"].iloc[0])
            base = shard * docs_per_shard
            in_shard = hit_arr[(hit_arr >= base)
                               & (hit_arr < base + docs_per_shard)]
            if in_shard.size == 0:
                return empty
            # occurrences of each query term within the hit docs only
            occ: dict = {d: [] for d in in_shard}
            for row in pdf.itertuples(index=False):
                d_ids, tfs, _dls = codec.decode_postings(
                    row.doc_blob, row.tf_blob, row.dl_blob)
                pos = codec.decode_positions(row.pos_blob, tfs)
                occ_doc = np.repeat(d_ids.astype(np.int64), tfs)
                keep = np.isin(occ_doc, in_shard)
                for d, p in zip(occ_doc[keep], pos[keep]):
                    occ[int(d)].append((int(p), row.term))
            out = []
            for d in in_shard:
                evs = sorted(occ[int(d)])
                present = {t for _p, t in evs}
                need = len(present)
                # smallest-range-covering-all-present-terms sliding window
                best = (1 << 30, 0, 0)
                counts: dict = {}
                covered = 0
                lo = 0
                for hi, (p_hi, t_hi) in enumerate(evs):
                    counts[t_hi] = counts.get(t_hi, 0) + 1
                    if counts[t_hi] == 1:
                        covered += 1
                    while covered == need:
                        p_lo, t_lo = evs[lo]
                        span = p_hi - p_lo
                        if span < best[0]:
                            best = (span, p_lo, p_hi)
                        counts[t_lo] -= 1
                        if counts[t_lo] == 0:
                            covered -= 1
                        lo += 1
                out.append((int(d), best[1], best[2], need))
            return pd.DataFrame(out, columns=[
                "doc_id", "snippet_start", "snippet_end", "n_matched"])

        hit_shards = sorted({d // docs_per_shard for d in hit_ids})
        windows = self._shard_scan(
            q.live, _POS_COLS, windower, "doc_id long, snippet_start int, "
            "snippet_end int, n_matched int", hit_shards)
        return (
            windows.join(F.broadcast(hits), "doc_id")
            .orderBy(F.desc("score"), F.asc("doc_id"))
            .select("doc_id", "score", "snippet_start", "snippet_end",
                    "n_matched")
        )

    # --- total-hits count (Solr numFound: every response the reference
    # iterates carries it, SolrHelper.java:43-66) ---
    def count(self, terms: Sequence[str], mode: str = "or",
              exclude: Sequence[str] = (),
              min_should_match: int = 1,
              filters: Sequence[Sequence[str]] = ()) -> int:
        """Exact result-set size without ranking: the unranked match set's
        partial-aggregated count — one map pass per shard, no sort, cost
        independent of how many docs match."""
        return self.match_ids(terms, mode=mode, exclude=exclude,
                              min_should_match=min_should_match,
                              filters=filters).count()

    # --- unranked boolean match set (the facet/count primitive) ---
    def match_ids(self, terms: Sequence[str], mode: str = "or",
                  exclude: Sequence[str] = (),
                  min_should_match: int = 1,
                  filters: Sequence[Sequence[str]] = ()) -> DataFrame:
        """(doc_shard, doc_id) of every matching doc — NO scoring, NO sort.

        Per-shard kernel decodes only the query terms' doc blobs and emits
        the OR-union / AND-intersection of their id sets; the output never
        passes through a ranking step, so counting the full result set
        (facets) costs one map pass over ≤|terms| posting rows per shard
        plus a partial-aggregated count — independent of result-set size.

        ``exclude``: MUST_NOT terms — matching doc ids are set-subtracted
        shard-locally (sorted-array difference, no shuffle).
        ``min_should_match``: Solr mm — require ≥ that many distinct terms.
        ``filters``: Solr fq — non-scoring required clauses (each an OR of
        terms); matching ids are set-intersected shard-locally.
        """
        q = self._resolve(terms, mode, exclude, filters,
                          min_match=min_should_match)
        if q is None:
            return self._no_hits("doc_shard int, doc_id long")
        neg, fcl = q.neg, q.filters
        by_flt_terms = {t for cl in fcl for t in cl}
        live_set = set(q.live)
        n_required = (len(q.live) if q.mode == "and"
                      else max(1, min_should_match))

        from archivesspace_virgo_spark import codec  # re-imported on workers

        def matcher(pdf: pd.DataFrame) -> pd.DataFrame:
            empty = pd.DataFrame({"doc_shard": pd.Series(dtype="int32"),
                                  "doc_id": pd.Series(dtype="int64")})
            if pdf.empty:
                return empty
            shard = int(pdf["doc_shard"].iloc[0])
            ids, neg_ids = [], []
            by_flt: dict = {}
            for t, blob in zip(pdf["term"], pdf["doc_blob"]):
                d = codec.delta_decode(codec.varbyte_decode(blob))
                if t in live_set:
                    ids.append(d)
                if neg and t in neg:
                    neg_ids.append(d)
                if t in by_flt_terms:
                    by_flt[t] = d
            allids = np.concatenate(ids) if ids else np.empty(0, np.int64)
            if allids.size == 0:
                return empty
            uniq_ids, counts = np.unique(allids, return_counts=True)
            hit = uniq_ids[counts >= n_required]
            if neg_ids:
                hit = np.setdiff1d(hit, np.concatenate(neg_ids),
                                   assume_unique=False)
            for cl in fcl:
                present = [by_flt[t] for t in cl if t in by_flt]
                if not present:
                    return empty  # no clause term posts in this shard
                ok = np.unique(np.concatenate(present))
                hit = hit[np.isin(hit, ok, assume_unique=False)]
            return pd.DataFrame({
                "doc_shard": np.full(hit.size, shard, dtype=np.int32),
                "doc_id": hit.astype(np.int64),
            })

        return self._shard_scan(q.scan_terms, ("doc_blob",), matcher,
                                "doc_shard int, doc_id long")

    # --- facet over a result set (Solr: q=...&facet.field=f,
    # IndexRecords.java:134-135): counts of a doc_map field across ALL
    # matching docs (facets count the full result set, not just the page).
    # Deliberately NOT search(k=N): ranking the whole result set would
    # heap-sort every shard's matches and funnel N rows through a single
    # TakeOrdered partition — dead at 100× scale.  The unranked match set +
    # semi-join + partial-agg count keeps every stage partition-local until
    # the final one-row-per-facet-value merge. ---
    def facet_search(self, terms: Sequence[str], field: str,
                     mode: str = "or", exclude: Sequence[str] = (),
                     filters: Sequence[Sequence[str]] = ()) -> DataFrame:
        hits = self.match_ids(terms, mode=mode, exclude=exclude,
                              filters=filters).select("doc_id")
        dm = self.storage.read(self.spark, "doc_map")
        return (
            dm.join(hits, "doc_id", "left_semi")
            .groupBy(field)
            .agg(F.count(F.lit(1)).alias("facet_count"))
        )

    # --- Solr range facets (facet.range=f&facet.range.start/end/gap):
    # numeric bucket counts over the match set.  The only per-doc numeric
    # column the index stores is the per-field doc length (doc_stats), the
    # Solr analog of faceting on a length field. ---
    def facet_range(self, terms: Sequence[str], start: int, end: int,
                    gap: int, field: Optional[str] = None,
                    mode: str = "or", exclude: Sequence[str] = (),
                    filters: Sequence[Sequence[str]] = ()) -> DataFrame:
        """(bucket_lo, facet_count) for [start, end) in steps of ``gap``,
        counting matching docs by their ``field`` token length.  Same cost
        shape as ``facet_search``: unranked match set → semi-join → partial
        agg; empty buckets are omitted (Solr emits zeros — callers can
        densify; omitting keeps the result proportional to occupied
        buckets)."""
        if gap <= 0:
            raise ValueError("gap must be positive")
        hits = self.match_ids(terms, mode=mode, exclude=exclude,
                              filters=filters).select("doc_id")
        fld = field or self.config.fields[0]
        ds = self.storage.read(self.spark, "doc_stats").filter(
            F.col("field") == fld
        ).select("doc_id", "dl")
        return (
            ds.join(hits, "doc_id", "left_semi")
            .filter((F.col("dl") >= start) & (F.col("dl") < end))
            .withColumn(
                "bucket_lo",
                (F.lit(start)
                 + F.floor((F.col("dl") - start) / gap) * gap).cast("long"),
            )
            .groupBy("bucket_lo")
            .agg(F.count(F.lit(1)).alias("facet_count"))
            .orderBy("bucket_lo")
        )

    # --- Solr pivot facets (facet.pivot=f1,f2): nested value-pair counts
    # over the match set ---
    def facet_pivot(self, terms: Sequence[str], fields: Sequence[str],
                    mode: str = "or", exclude: Sequence[str] = (),
                    filters: Sequence[Sequence[str]] = ()) -> DataFrame:
        """Counts of every ``fields`` value combination across the match
        set — same cost shape as ``facet_search`` (semi-join + partial
        agg), one output row per occupied combination, ordered by count
        desc then values (Solr's default count ordering)."""
        if not fields:
            raise ValueError("facet_pivot needs at least one field")
        hits = self.match_ids(terms, mode=mode, exclude=exclude,
                              filters=filters).select("doc_id")
        dm = self.storage.read(self.spark, "doc_map").select(
            "doc_id", *fields
        )
        return (
            dm.join(hits, "doc_id", "left_semi")
            .groupBy(*fields)
            .agg(F.count(F.lit(1)).alias("facet_count"))
            .orderBy(F.desc("facet_count"),
                     *[F.asc(f) for f in fields])
        )

    # --- Solr stats component (stats=true&stats.field=f): numeric summary
    # over the match set; the per-field doc length is the index's stored
    # numeric per-doc attribute ---
    def stats_component(self, terms: Sequence[str],
                        field: Optional[str] = None, mode: str = "or",
                        exclude: Sequence[str] = (),
                        filters: Sequence[Sequence[str]] = ()) -> DataFrame:
        """One row (count, min, max, sum, mean) of ``field`` token length
        over the matching docs — all partial-aggregated, nothing sorted."""
        hits = self.match_ids(terms, mode=mode, exclude=exclude,
                              filters=filters).select("doc_id")
        fld = field or self.config.fields[0]
        ds = self.storage.read(self.spark, "doc_stats").filter(
            F.col("field") == fld
        ).select("doc_id", "dl")
        return ds.join(hits, "doc_id", "left_semi").agg(
            F.count(F.lit(1)).alias("stats_count"),
            F.min("dl").alias("stats_min"),
            F.max("dl").alias("stats_max"),
            F.sum("dl").alias("stats_sum"),
            F.avg("dl").alias("stats_mean"),
        )

    # --- Solr terms component (terms=true&terms.fl=f&terms.prefix=p):
    # enumerate index terms with their document frequencies ---
    def terms_component(self, prefix: str = "", n: int = 10,
                        min_df: int = 1, by_count: bool = True) -> DataFrame:
        """Top-n lexicon terms with df ≥ min_df under ``prefix`` —
        Solr's terms.sort=count (df desc, term) or index order
        (terms.sort=index).  A distributed lexicon filter + TakeOrdered(n);
        ``field:pre`` scopes to that field's terms."""
        lex = self._lexicon_df().select("term", "df")
        if prefix:
            _f, stored = self._parse_term(
                prefix[:-1] if prefix.endswith("*") else prefix)
            lex = lex.filter(F.col("term").startswith(stored))
        else:
            # bare enumeration covers the default field only (scoped terms
            # carry a 'field:' prefix and are enumerated per field)
            lex = lex.filter(~F.col("term").contains(":"))
        if min_df > 1:
            lex = lex.filter(F.col("df") >= min_df)
        order = ([F.desc("df"), F.asc("term")] if by_count
                 else [F.asc("term")])
        return lex.orderBy(*order).limit(n)

    # --- facets (T11 / A6: Solr facet.field=... IndexRecords.java:134) ---
    def facet(self, field: str, where: Optional[str] = None) -> DataFrame:
        dm = self.storage.read(self.spark, "doc_map")
        if where:
            dm = dm.filter(where)
        return dm.groupBy(field).agg(F.count(F.lit(1)).alias("facet_count"))

    # --- typed range filter (T9: user_mtime:[NOW-24H TO NOW]) ---
    def range_filter(self, df: DataFrame, column: str, lo, hi) -> DataFrame:
        return df.filter((F.col(column) >= lo) & (F.col(column) <= hi))

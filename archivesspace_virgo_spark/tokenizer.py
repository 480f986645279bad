"""The single shared analysis chain (SURVEY.md §2.8-T1).

The reference emits the same value into a keyword field (``*_facet``) and an
analyzed field (``*_text``) — e.g. ASpaceObject.java:278-279 — delegating
tokenization to Solr.  Here tokenization IS the contract, so there is exactly
one definition, used by:

- the index build: the pack kernel tokenizes each shard's Arrow batch with
  ``tokenize_flat`` (Arrow RE2), and doc lengths are counted JVM-side with
  ``regexp_count`` over the same token class, without a token array,
- the DataFrame operators and the DataFrame BM25 twin (``tokens_column``,
  a JVM ``split`` expression),
- the numpy oracle (``tokenize_text``),
- the DuckDB ``oracle_sql`` strings (``string_split_regex`` on the same
  pattern).

Semantics (``ascii_alnum_lower_v1``): lowercase, split on runs of anything
outside ``[a-z0-9]``, drop empties.  This is code-aware in the sense the
survey requires: ``snake_case_name`` → ``snake case name``, ``Foo.bar()`` →
``foo bar`` — identifiers decompose into searchable subtokens.  The pattern is
deliberately ASCII-RE2-Java-Python agnostic so all four regex engines agree.
"""

from __future__ import annotations

import re
from typing import List

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F

#: the tokenizer's identity, part of every index's config hash: changing
#: the semantics below is a new index
TOKENIZER = "ascii_alnum_lower_v1"

#: the one token-delimiter pattern. Identical meaning in Python re, Java
#: (Spark), and RE2 (DuckDB): any run of chars outside [a-z0-9].
TOKEN_SPLIT_PATTERN = "[^a-z0-9]+"

_SPLIT_RE = re.compile(TOKEN_SPLIT_PATTERN)


def tokenize_text(text: str) -> List[str]:
    """Pure-Python tokenizer — the oracle-side definition."""
    if not text:
        return []
    return [t for t in _SPLIT_RE.split(text.lower()) if t]


def tokenize_series(s: pd.Series) -> pd.Series:
    """Vectorized pandas form (for pandas-UDF callers / the oracle)."""
    return s.fillna("").map(tokenize_text)


def tokenize_flat(s):
    """Batch tokenizer for the pack kernel: ``(flat_tokens, lens)`` where
    ``flat_tokens`` is a ``pyarrow.Array`` holding every row's tokens
    concatenated in row order and ``lens`` is each row's token count
    (int64).

    ``s`` is a ``pyarrow`` (Chunked)Array: ``applyInArrow`` hands the
    kernel the raw Arrow buffers Spark shipped, and the content bytes are
    never materialized as Python/pandas string objects at all (at ~10 KB/doc
    a pandas detour was a full extra copy of the corpus per batch — pure
    memory-bandwidth tax, the binding resource at high parallelism).

    Token-for-token identical to ``tokenize_series`` (property-pinned in
    tests/test_tokenizer.py): ASCII batches run Arrow's RE2
    ``split_pattern_regex`` over the whole series — one vectorized C++
    pass instead of a per-document Python ``re.split``, which profiling
    showed was the single largest CPU cost of the index build.  Batches
    containing non-ASCII rows recompute JUST those rows with the scalar
    ``tokenize_text`` (full-Unicode ``str.lower`` parity — e.g. ``'K'``
    must lower to ``'k'`` exactly as Python does) and splice them back in
    row order; an all-ASCII corpus never pays that path.
    """
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    if isinstance(s, pa.ChunkedArray):
        s = s.combine_chunks()
    arr = pc.fill_null(s, "")
    if not pa.types.is_string(arr.type):
        arr = pc.cast(arr, pa.string())
    ascii_mask = pc.string_is_ascii(arr).to_numpy(zero_copy_only=False)
    all_ascii = bool(ascii_mask.all())
    lower = pc.ascii_lower(arr) if all_ascii else pc.utf8_lower(arr)
    splits = pc.split_pattern_regex(lower, TOKEN_SPLIT_PATTERN)
    flat_all = pc.list_flatten(splits)
    lens_all = pc.list_value_length(splits).to_numpy(
        zero_copy_only=False).astype(np.int64)
    nonempty = pc.not_equal(flat_all, "")
    ne_np = nonempty.to_numpy(zero_copy_only=False)
    n_rows = lens_all.size
    row_of = np.repeat(np.arange(n_rows, dtype=np.int64), lens_all)
    lens = np.bincount(row_of[ne_np], minlength=n_rows).astype(np.int64)
    flat = flat_all.filter(nonempty)
    if all_ascii:
        return flat, lens
    # rare path: splice scalar-tokenized non-ASCII rows back in row order.
    # The ASCII rows' tokens stay zero-copy Arrow slices of ``flat`` — only
    # the ~ascii rows' tokens become Python objects (an earlier form
    # round-tripped the WHOLE batch through numpy object arrays whenever a
    # single row was non-ASCII, paying the per-token-Python tax this
    # function exists to avoid, for all rows)
    starts = np.concatenate([[0], np.cumsum(lens)])  # pre-replacement spans
    pieces = []
    prev = 0  # first row whose ascii tokens are not yet emitted
    for i in np.flatnonzero(~ascii_mask):
        if starts[i] > starts[prev]:
            pieces.append(flat.slice(int(starts[prev]),
                                     int(starts[i] - starts[prev])))
        toks = tokenize_text(arr[i].as_py())
        lens[i] = len(toks)
        if toks:
            pieces.append(pa.array(toks, type=pa.string()))
        prev = i + 1
    if starts[-1] > starts[prev]:
        pieces.append(flat.slice(int(starts[prev]),
                                 int(starts[-1] - starts[prev])))
    pieces = [p for p in pieces if len(p)]
    if not pieces:
        return pa.array([], type=pa.string()), lens
    return (pa.concat_arrays(pieces) if len(pieces) > 1 else pieces[0]), lens


def tokens_column(col: Column | str) -> Column:
    """JVM-side tokenizer expression, for the DataFrame operators and the
    DataFrame BM25 twin (the index build tokenizes in its pack kernel).

    Built-in ``lower``/``split``/``filter`` keep the whole analysis chain in
    Tungsten codegen (no Python worker round-trip).
    """
    c = F.col(col) if isinstance(col, str) else col
    toks = F.split(F.lower(c), TOKEN_SPLIT_PATTERN)
    return F.filter(toks, lambda t: t != "")


def duckdb_tokens_sql(text_expr: str) -> str:
    """DuckDB fragment producing the same token list (for oracle_sql)."""
    return (
        "list_filter(string_split_regex(lower({e}), '{p}'), t -> t <> '')"
    ).format(e=text_expr, p=TOKEN_SPLIT_PATTERN)

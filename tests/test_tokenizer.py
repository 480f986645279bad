"""Tokenizer parity: Python == Spark JVM expression == DuckDB regex.

Parity across the three regex engines is the whole ballgame for
rank-identity (SURVEY.md §7 watch list); pin it with shared fixtures and a
hypothesis sweep.
"""

import duckdb
import pandas as pd
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from archivesspace_virgo_spark.tokenizer import (
    duckdb_tokens_sql,
    tokenize_series,
    tokenize_text,
    tokens_column,
)

CASES = [
    "",
    "hello world",
    "snake_case_name and CamelCase",
    "Foo.bar(baz_qux, 42)  # comment!",
    "a__b--c..d",
    "UPPER lower 123abc abc123",
    "   leading and trailing   ",
    "tab\tnewline\nmix",
    "unicode: héllo wörld 北京",  # non-ascii letters are delimiters (v1)
    "x" * 1000,
]


def test_python_tokenizer_basics():
    assert tokenize_text("snake_case_name") == ["snake", "case", "name"]
    assert tokenize_text("Foo.bar()") == ["foo", "bar"]
    assert tokenize_text("") == []
    assert tokenize_text(None) == []
    assert tokenize_text("héllo") == ["h", "llo"]


def test_spark_matches_python(spark):
    df = spark.createDataFrame([(i, c) for i, c in enumerate(CASES)], "i int, content string")
    got = {
        r["i"]: r["toks"]
        for r in df.select("i", tokens_column("content").alias("toks")).collect()
    }
    for i, c in enumerate(CASES):
        assert got[i] == tokenize_text(c), f"case {i}: {c!r}"


def test_duckdb_matches_python():
    con = duckdb.connect()
    rel = con.execute(
        f"SELECT {duckdb_tokens_sql('?::VARCHAR')} AS toks", ["snake_case A.b 42"]
    ).fetchone()
    assert rel[0] == tokenize_text("snake_case A.b 42")
    for c in CASES:
        got = con.execute(
            f"SELECT {duckdb_tokens_sql('?::VARCHAR')}", [c]
        ).fetchone()[0]
        assert got == tokenize_text(c), repr(c)


@settings(max_examples=200, deadline=None)
@given(st.text(max_size=200))
def test_duckdb_property_parity(s):
    got = duckdb.execute(f"SELECT {duckdb_tokens_sql('?::VARCHAR')}", [s]).fetchone()[0]
    assert got == tokenize_text(s)


def test_series_form():
    s = pd.Series(["a_b", None, ""])
    assert tokenize_series(s).tolist() == [["a", "b"], [], []]


def test_regexp_count_dl_equivalence(spark):
    """The build computes doc length as regexp_count(lower(x), '[a-z0-9]+')
    (allocation-free) instead of size(split(...)); it must equal
    len(tokenize_text(x)) on every input — avgdl feeds BM25 directly."""
    rows = [(i, c) for i, c in enumerate(CASES)]
    df = spark.createDataFrame(rows, "i int, content string")
    got = {
        r["i"]: r["dl"]
        for r in df.select(
            "i",
            F.regexp_count(F.lower(F.col("content")), F.lit("[a-z0-9]+"))
            .alias("dl"),
        ).collect()
    }
    for i, c in enumerate(CASES):
        assert got[i] == len(tokenize_text(c)), f"case {i}: {c!r}"
    # and on the real corpus: regexp_count == size(tokens_column) for all docs
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    diff = docs.select(
        (
            F.regexp_count(F.lower(F.col("text")), F.lit("[a-z0-9]+"))
            != F.size(tokens_column("text"))
        ).alias("ne")
    ).filter(F.col("ne")).count()
    assert diff == 0


# --- tokenize_flat (the Arrow-vectorized pack-kernel batch form) ---

def _flat_as_lists(s: pd.Series):
    import pyarrow as pa

    from archivesspace_virgo_spark.tokenizer import tokenize_flat

    flat, lens = tokenize_flat(pa.array(s.tolist(), type=pa.string()))
    toks = flat.to_numpy(zero_copy_only=False)
    out, off = [], 0
    for n in lens:
        out.append(list(toks[off:off + int(n)]))
        off += int(n)
    assert off == len(toks)  # lens must account for every emitted token
    return out


def test_tokenize_flat_matches_series_on_cases():
    s = pd.Series(CASES + [None], dtype=object)
    assert _flat_as_lists(s) == tokenize_series(s).tolist()


def test_tokenize_flat_mixed_ascii_unicode_batch():
    # forces the splice path: ascii rows Arrow-tokenized, the unicode rows
    # (incl. Kelvin sign K which str.lower() maps INTO [a-z0-9]) scalar
    s = pd.Series(["plain ascii", "Kelvin sign", "héllo wörld",
                   "", None, "Tail.Case(x)"], dtype=object)
    assert _flat_as_lists(s) == tokenize_series(s).tolist()


@settings(max_examples=300, deadline=None)
@given(st.lists(st.text(max_size=40), max_size=8))
def test_tokenize_flat_property_matches_series(texts):
    s = pd.Series(texts, dtype=object)
    assert _flat_as_lists(s) == tokenize_series(s).tolist()

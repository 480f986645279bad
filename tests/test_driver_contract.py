"""Mimics the driver's CORRECTNESS gate: run every queries() entry at sf0.01
and compare row-count + sorted values against oracle_sql() in DuckDB."""

import math
import os
import tempfile

import duckdb
import pytest

import __spark_entry__ as entrymod

from tests.conftest import SF_CORRECT, SF_SMOKE

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]

# every entry — including the approximate-by-design LSH family, whose seeded
# hashes make the approximation itself an exact contract — has a full oracle
ROWS_ONLY: set = set()


@pytest.fixture(scope="module")
def ddb():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{SF_CORRECT}/{t}.parquet'"
        )
    return con


def _normalize(rows, columns):
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    out = []
    for r in rows:
        vals = []
        for i in order:
            v = r[i]
            if isinstance(v, float):
                v = round(v, 6)
            vals.append(v)
        out.append(tuple(vals))
    out.sort(key=lambda t: tuple((x is None, str(x)) for x in t))
    return out


@pytest.mark.parametrize("name", sorted(entrymod.queries().keys()))
def test_query_matches_oracle(spark, ddb, name):
    qfn = entrymod.queries()[name]
    sdf = qfn(spark, SF_CORRECT)
    spark_rows = [tuple(r) for r in sdf.collect()]
    spark_cols = sdf.columns

    oracles = entrymod.oracle_sql()
    if name in ROWS_ONLY:
        assert name not in oracles
        assert len(spark_rows) >= 0  # rows-only smoke
        return
    assert name in oracles, f"{name} lacks an oracle"
    res = ddb.execute(oracles[name])
    duck_cols = [d[0] for d in res.description]
    duck_rows = res.fetchall()

    assert sorted(c.lower() for c in spark_cols) == sorted(
        c.lower() for c in duck_cols
    ), f"{name}: column mismatch {spark_cols} vs {duck_cols}"
    a = _normalize(spark_rows, spark_cols)
    b = _normalize(duck_rows, duck_cols)
    assert len(a) == len(b), f"{name}: row count {len(a)} vs {len(b)}"
    mismatches = [(x, y) for x, y in zip(a, b) if x != y][:5]
    assert not mismatches, f"{name}: value mismatches {mismatches}"


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    rows = df.collect()
    assert len(rows) >= 0
    assert df.columns == ["doc_id", "score_micro"]


def test_scratch_dirs_removed_at_exit(spark, monkeypatch):
    """Every temp dir behind a cached engine or store (the entry index,
    both alias members, the IVF store) is registered for removal at
    interpreter exit."""
    import atexit

    exits, made = [], []
    mkdtemp = tempfile.mkdtemp

    def recording_mkdtemp(*a, **kw):
        made.append(mkdtemp(*a, **kw))
        return made[-1]

    monkeypatch.setattr(atexit, "register",
                        lambda fn, *a, **kw: exits.append((fn, a, kw)))
    monkeypatch.setattr(tempfile, "mkdtemp", recording_mkdtemp)
    monkeypatch.setattr(entrymod, "_ENGINE_CACHE", {})
    entrymod.entry(spark).collect()
    q = entrymod.queries()
    for name in ("multi_alias_topk", "ivf_ann_topk"):
        q[name](spark, SF_SMOKE).collect()
    ours = [d for d in made if os.path.basename(d).startswith("avs_")]
    assert len(ours) == 4, made
    for fn, a, kw in exits:
        fn(*a, **kw)
    assert [d for d in ours if os.path.exists(d)] == []

"""The benchmark's workloads: ``serve`` and ``sync``.

Both start the same way (set-up): a Spark session, the seeded corpus
registered as the first snapshot of a snapshot table, a first full index
build from that snapshot and an engine opened on it; ``serve`` then runs
one warm-up query of each class.  Then each spends its measured window on
one job:

- ``serve`` runs a single-client closed loop of the seeded six-class query
  mix;
- ``sync`` runs rounds of: append a snapshot (new files plus modified
  files in a few active repos), ``incremental_update_from_table``, reopen
  the engine, query for a word only the new snapshot holds.

Both time ``probes.ReferenceJob`` beside their operations and report the
operation's median latency in units of it, ``op_p50_rel``.

Traced runs add the other workload's operations (one sync round after the
serve loop, one block of the query mix after the sync rounds) so that
every layer is measured on both.

Every result is checked against the oracle outside the timed regions.
"""

from __future__ import annotations

import os
import statistics
import time
from contextlib import nullcontext
from dataclasses import dataclass, field
from typing import Dict, List, Optional

import numpy as np

from corpus_gen import HEAD, MID, TAIL_START, VOCAB, CorpusGen
from oracle_gate import CorpusState, Oracle, same_hits
from probes import TABLES, JobCounter, ReferenceJob, RssSampler, Tracer, index_sizes

K = 10
DOCS_PER_SHARD = 256
NEW_SHARE = 0.01  # new files per snapshot, as a share of the corpus
MODIFIED_SHARE = 0.005  # modified files per snapshot
ACTIVE_REPOS = 2  # repos the modified files of one snapshot come from
BASE_FILES = 8  # parquet files the base corpus is registered as
REF_WARM_UP = 1  # untimed reference-job runs at the end of set-up
REF_PER_ROUND = 2  # reference-job runs before and after each sync round

TAIL = (TAIL_START, VOCAB)
QUERY_CLASSES = ("or_head", "or_tail", "and", "phrase", "qstring", "fq")
FQ_LANGS = (("lang:py", "lang:go"), ("lang:java", "lang:rs"), ("lang:js", "lang:c"))

# units of the reported values that BENCHMARK.json does not list
REPORT_UNITS = {
    "session_start_s": "s",
    "build_docs_per_s": "docs/s", "corpus_docs": "count", "corpus_bytes": "bytes",
    "query_p50_s": "s", "query_p90_s": "s", "query_qps": "1/s",
    "query_samples": "count", "sync_p50_s": "s", "freshness_p50_s": "s",
    "ref_p50_s": "s", "ref_samples": "count",
    "sync_rounds": "count", "error_rate": "ratio", "peak_processes": "count",
    "peak_largest_mb": "MB",
}


def index_config():
    from archivesspace_virgo_spark import IndexConfig

    return IndexConfig(docs_per_shard=DOCS_PER_SHARD, fields=("content", "lang"))


class QueryMix:
    """Seeded stream of queries over six classes.  Each block of six
    queries holds one of every class in a random order, so every class is
    sampled in every run.  Terms are drawn Zipf-weighted within their
    rank band: head terms repeat (driver term-cache hits), tail terms
    rarely do (misses)."""

    def __init__(self, gen: CorpusGen, rows: List[dict], n_phrases: int = 3):
        self.gen = gen
        self.rng = gen.rng
        self._block: List[str] = []
        self.phrases = []
        for _ in range(n_phrases):
            toks = gen_tokens(rows[int(self.rng.integers(0, len(rows)))])
            i = int(self.rng.integers(0, len(toks) - 1))
            self.phrases.append(f"{toks[i]} {toks[i + 1]}")

    def next(self) -> dict:
        if not self._block:
            self._block = [QUERY_CLASSES[i] for i in self.rng.permutation(6)]
        kind = self._block.pop()
        g = self.gen
        if kind == "or_head":
            return {"kind": kind, "terms": g.rank_terms(*HEAD, 3)}
        if kind == "or_tail":
            return {"kind": kind, "terms": g.rank_terms(*TAIL, 2)}
        if kind == "and":
            return {"kind": kind, "mode": "and",
                    "terms": g.rank_terms(*HEAD, 1) + g.rank_terms(*MID, 1)}
        if kind == "phrase":
            return {"kind": kind,
                    "phrase": self.phrases[int(self.rng.integers(0, len(self.phrases)))]}
        if kind == "qstring":
            a, b = g.rank_terms(*MID, 2)
            (c,) = g.rank_terms(10, HEAD[1], 1)
            return {"kind": kind, "q": f"{a} {b}^2 -{c}"}
        langs = FQ_LANGS[int(self.rng.integers(0, len(FQ_LANGS)))]
        return {"kind": kind, "terms": g.rank_terms(*HEAD, 1) + g.rank_terms(*MID, 1),
                "filters": [list(langs)]}


def gen_tokens(row: dict) -> List[str]:
    from archivesspace_virgo_spark.tokenizer import tokenize_text

    return tokenize_text(row["content"])


def lexicon_terms(q: dict) -> List[str]:
    """The terms whose corpus statistics the engine looks up for ``q``."""
    from archivesspace_virgo_spark.index.query_parser import parse_query

    if q["kind"] == "phrase":
        return gen_tokens({"content": q["phrase"]})
    if q["kind"] == "qstring":
        pq = parse_query(q["q"])
        return pq.terms + pq.must
    return list(q["terms"])


def issue(engine, q: dict, k: int = K):
    """The engine call for one query: a lazy DataFrame."""
    kind = q["kind"]
    if kind == "phrase":
        return engine.phrase_search(q["phrase"], k=k)
    if kind == "qstring":
        return engine.query(q["q"], k=k)
    return engine.search(q["terms"], k=k, mode=q.get("mode", "or"),
                         filters=q.get("filters", ()))


@dataclass
class Run:
    """State and measurements of one benchmark run."""

    workload: str
    seed: int
    seconds: float
    trace: bool
    tmp: str
    spark: object = None
    gen: Optional[CorpusGen] = None
    ref: Optional[ReferenceJob] = None
    tracer: Optional[Tracer] = None
    jobs: Optional[JobCounter] = None
    samples: Dict[str, List[float]] = field(default_factory=dict)
    layer: Dict[str, float] = field(default_factory=dict)
    attempted: int = 0
    failed: int = 0
    failures: List[str] = field(default_factory=list)

    def add(self, name: str, value: float) -> None:
        self.samples.setdefault(name, []).append(float(value))

    def check(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.failures.append(what)

    def count(self, name: str):
        """Job/task counting context; yields an empty dict when untraced."""
        if self.jobs is None:
            return nullcontext({})
        return self.jobs.count(name)

    def span(self, name: str, op: Optional[str] = None):
        return self.tracer.span(name, op)


@dataclass
class Index:
    """What the workloads share after set-up."""

    table: object
    index_dir: str
    engine: object
    state: CorpusState
    oracle: Oracle
    mix: QueryMix


def write_base_corpus(rows: List[dict], out_dir: str) -> List[str]:
    """The generated rows as ``BASE_FILES`` parquet files, sorted by repo
    so each file covers a narrow repo range (manifest pruning can skip
    files on sync)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(out_dir, exist_ok=True)
    ordered = sorted(rows, key=lambda r: (r["repo"], r["path"]))
    paths = []
    for i, chunk in enumerate(np.array_split(np.arange(len(ordered)), BASE_FILES)):
        p = os.path.join(out_dir, f"part-{i:03d}.parquet")
        pq.write_table(pa.Table.from_pylist([ordered[j] for j in chunk]), p)
        paths.append(p)
    return paths


def setup(run: Run) -> Index:
    """Session start, then the set-up ``setup_s`` times: the corpus
    registered as snapshot 1 of a snapshot table, a first full build, an
    engine open and, on ``serve``, a warm-up of one query per class.
    ``sync`` runs no warm-up: its measured query is the first on a
    reopened engine, the cold path it is there to measure.  The session
    start is left out of ``setup_s`` and reported as ``session_start_s``:
    it is the JVM launch, which no engine change moves.  Checks and
    traced-only probes run outside the timed steps."""
    from session import nproc, start_session

    gen = run.gen = CorpusGen(run.seed)
    rows = gen.corpus()
    files = write_base_corpus(rows, os.path.join(run.tmp, "input"))
    state = CorpusState(rows)
    oracle = Oracle(state)
    mix = QueryMix(gen, rows)
    # warm-up: one block of the mix, so every query class has run once on
    # this JVM before the serve loop times any
    warm = [mix.next() for _ in QUERY_CLASSES] if run.workload == "serve" else []

    t0 = time.perf_counter()
    with run.span("spark.session_start"):
        spark = run.spark = start_session(run.tmp, nproc())
    run.add("session_start_s", time.perf_counter() - t0)
    if run.trace:
        run.jobs = JobCounter(spark.sparkContext)

    from archivesspace_virgo_spark.index import QueryEngine
    from archivesspace_virgo_spark.index.incremental import incremental_update_from_table
    from archivesspace_virgo_spark.sources.snapshot_table import SnapshotTable

    index_dir = os.path.join(run.tmp, "index")
    cfg = index_config()
    t0 = time.perf_counter()
    with run.span("sources.snapshot_table.register_files"):
        table = SnapshotTable.create(os.path.join(run.tmp, "table"))
        table.register_files(files)
    load_s = time.perf_counter() - t0

    t0 = time.perf_counter()
    with run.count("build") as jc, run.span("index.incremental.full_build", "build"):
        meta = incremental_update_from_table(spark, table, index_dir, cfg)
    build_s = time.perf_counter() - t0
    if jc:
        run.layer["spark.jobs_per_build"] = jc["jobs"]
        run.layer["spark.tasks_per_build"] = jc["tasks"]
    run.check(meta.get("mode") == "full_rebuild" and meta.get("n_docs") == len(rows),
              f"initial build: {meta.get('mode')} {meta.get('n_docs')}")
    run.add("build_docs_per_s", len(rows) / build_s)
    run.add("corpus_docs", len(rows))
    run.add("corpus_bytes", sum(len(r["content"].encode()) for r in rows))

    if run.trace:
        trace_build_layers(run, table, files, cfg)

    t0 = time.perf_counter()
    with run.span("index.query.engine_open"):
        engine = QueryEngine(spark, index_dir, cfg)
    open_s = time.perf_counter() - t0
    run.add("index.query.engine_open_s", open_s)

    got = []
    t0 = time.perf_counter()
    for i, q in enumerate(warm):
        t1 = time.perf_counter()
        with run.span("index.query.warm_up"):
            got.append([(r["doc_id"], r["score"]) for r in issue(engine, q).collect()])
        if i == 0:
            run.add("index.query.first_query_s", time.perf_counter() - t1)
    warm_s = time.perf_counter() - t0
    for q, hits in zip(warm, got):
        run.check(same_hits(hits, oracle.expected(q, K)), f"warm-up {q}")

    run.add("setup_s", load_s + build_s + open_s + warm_s)
    # untimed: the reference job's own first runs
    run.ref = ReferenceJob(spark)
    for _ in range(REF_WARM_UP):
        run.ref.time()
    return Index(table, index_dir, engine, state, oracle, mix)


def trace_build_layers(run: Run, table, files: List[str], cfg) -> None:
    """Traced-only probes of the build layers, run between the first build
    and engine open: tokenizer throughput over the corpus, doc-id
    assignment, a second full build straight through ``build_index``, and
    an aggregate refresh."""
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from archivesspace_virgo_spark.corpus import assign_doc_ids
    from archivesspace_virgo_spark.index.build import build_index, refresh_aggregates
    from archivesspace_virgo_spark.index.storage import IndexStorage
    from archivesspace_virgo_spark.tokenizer import tokenize_flat

    spark = run.spark
    content = pq.ParquetDataset(files).read(columns=["content"]).column("content")
    t0 = time.perf_counter()
    with run.span("tokenizer.tokenize_flat"):
        flat, _lens = tokenize_flat(content)
    tok_s = time.perf_counter() - t0
    run.layer["tokenizer.tokenize_flat_s"] = tok_s
    run.layer["tokenizer.tokens_per_s"] = len(flat) / tok_s

    t0 = time.perf_counter()
    with run.span("corpus.assign_doc_ids"):
        assign_doc_ids(table.read(spark)).agg(F.max("doc_id")).collect()
    run.layer["corpus.assign_doc_ids_s"] = time.perf_counter() - t0

    scratch = os.path.join(run.tmp, "index-direct")
    t0 = time.perf_counter()
    with run.span("index.build.build_index"):
        build_index(spark, table.read(spark), scratch, cfg)
    run.layer["index.build.build_index_s"] = time.perf_counter() - t0

    t0 = time.perf_counter()
    with run.span("index.build.refresh_aggregates"):
        refresh_aggregates(spark, IndexStorage(scratch))
    run.layer["index.build.refresh_aggregates_s"] = time.perf_counter() - t0


class PostingsProbe:
    """Driver-side codec probe for traced runs: the posting blobs of the
    committed index, read once with pyarrow, decoded per query with
    ``codec.decode_postings``."""

    def __init__(self, index_dir: str):
        import pyarrow.dataset as ds

        tbl = ds.dataset(os.path.join(index_dir, "postings"), format="parquet",
                         partitioning="hive").to_table(
            columns=["term", "doc_blob", "tf_blob", "dl_blob"])
        self.by_term: Dict[str, list] = {}
        cols = [tbl.column(c).to_pylist() for c in ("term", "doc_blob", "tf_blob", "dl_blob")]
        for t, d, f, l in zip(*cols):
            self.by_term.setdefault(t, []).append((d, f, l))

    def decode(self, terms: List[str]):
        from archivesspace_virgo_spark import codec

        n_bytes = 0
        t0 = time.perf_counter()
        for t in set(terms):
            for d, f, l in self.by_term.get(t, ()):
                n_bytes += len(d) + len(f) + len(l)
                codec.decode_postings(d, f, l)
        return time.perf_counter() - t0, n_bytes


def timed_query(run: Run, ix: Index, q: dict, probe: Optional[PostingsProbe]) -> Optional[list]:
    """One closed-loop query: returns the hits, or None if it raised.
    Traced runs also time the parse of q-strings and the codec on the
    query's postings, and note which of its terms the engine's term cache
    already holds; none of that calls the engine, so the search itself
    runs, and is counted, exactly as in an untraced run."""
    kind = q["kind"]
    if run.trace:
        from archivesspace_virgo_spark.index.query_parser import parse_query

        if kind == "qstring":
            t0 = time.perf_counter()
            with run.span("index.query_parser.parse_query"):
                parse_query(q["q"])
            run.add("index.query_parser.parse_s", time.perf_counter() - t0)
        terms = lexicon_terms(q)
        # read, not called: the driver-side (df, cf) cache the engine
        # fills on a lexicon lookup (absent if the engine drops it)
        cache = getattr(ix.engine, "_term_cache", {})
        for t in dict.fromkeys(terms):
            run.add("index.query.term_cache_hit", 1.0 if t in cache else 0.0)
        if probe is not None:
            with run.span("codec.decode_postings"):
                dec_s, n_bytes = probe.decode(
                    terms + [t for cl in q.get("filters", ()) for t in cl])
            run.add("codec.decode_postings_s", dec_s)
            run.add("codec.postings_bytes_per_query", n_bytes)
    try:
        with run.count("query") as jc, run.span(f"index.query.{kind}", "query"):
            t0 = time.perf_counter()
            df = issue(ix.engine, q)
            t1 = time.perf_counter()
            rows = df.collect()
            t2 = time.perf_counter()
    except Exception as e:  # an engine error is a failed operation
        run.check(False, f"{kind} raised {type(e).__name__}: {e}")
        return None
    run.add("query_s", t2 - t0)
    run.add(f"index.query.{kind}_s", t2 - t0)
    if run.trace:
        run.add("index.query.plan_s", t1 - t0)
        run.add("index.query.exec_s", t2 - t1)
        run.add("spark.jobs_per_query", jc["jobs"])
        run.add("spark.tasks_per_query", jc["tasks"])
    return [(r["doc_id"], r["score"]) for r in rows]


def check_queries(run: Run, oracle: Oracle, done: List[tuple]) -> None:
    for q, hits in done:
        if hits is not None:
            run.check(same_hits(hits, oracle.expected(q, K)), f"{q['kind']} {q}")


def query_loop(run: Run, ix: Index, seconds: float) -> None:
    """Closed loop for ``seconds``, the reference job timed after each
    query.  Traced runs go on until every query class has a sample.
    Results are checked after the loop ends."""
    probe = PostingsProbe(ix.index_dir) if run.trace else None
    done = []
    start = time.perf_counter()
    while True:
        covered = not run.trace or all(
            f"index.query.{kind}_s" in run.samples for kind in QUERY_CLASSES)
        if time.perf_counter() - start >= seconds and covered:
            break
        q = ix.mix.next()
        done.append((q, timed_query(run, ix, q, probe)))
        run.add("ref_s", run.ref.time())
    check_queries(run, ix.oracle, done)
    if run.trace:
        probe_term_stats(run, ix)


def probe_term_stats(run: Run, ix: Index) -> None:
    """Traced only, after the loop: the lexicon lookup alone, timed as
    the engine makes it (one batched ``term_stats`` per query) on one
    fresh block of the mix, so cache hits and misses come in the mix's
    proportion."""
    for _ in QUERY_CLASSES:
        terms = lexicon_terms(ix.mix.next())
        t0 = time.perf_counter()
        with run.span("index.query.term_stats"):
            ix.engine.term_stats(terms)
        run.add("index.query.term_stats_s", time.perf_counter() - t0)


def make_delta(gen: CorpusGen, state: CorpusState, marker: str) -> List[dict]:
    """One snapshot's rows: new files and modified files, all in a few
    Zipf-chosen active repos, every one carrying ``marker``."""
    n_docs = len(state.by_key)
    n_new = max(1, round(NEW_SHARE * n_docs))
    n_mod = max(1, round(MODIFIED_SHARE * n_docs))
    active = gen.rng.choice(len(gen.repo_names), size=ACTIVE_REPOS, replace=False,
                            p=gen.repo_p)
    repos = [gen.repo_names[int(a)] for a in active]
    delta = [gen.new_file(repo=repos[i % len(repos)], extra=[marker])
             for i in range(n_new)]
    pool = sorted(k for k in state.by_key if k[0] in repos)
    pick = gen.rng.choice(len(pool), size=min(n_mod, len(pool)), replace=False)
    delta += [gen.modified(state.by_key[pool[int(i)]], extra=[marker]) for i in sorted(pick)]
    return delta


def sync_round(run: Run, ix: Index) -> None:
    """Append one snapshot, sync the index to it, reopen the engine and
    query for the snapshot's marker word."""
    from archivesspace_virgo_spark.index import QueryEngine
    from archivesspace_virgo_spark.index.incremental import incremental_update_from_table
    import pandas as pd

    spark = run.spark
    for _ in range(REF_PER_ROUND):
        run.add("ref_s", run.ref.time())
    marker = run.gen.fresh_word()
    delta = make_delta(run.gen, ix.state, marker)
    df = spark.createDataFrame(pd.DataFrame(delta))
    last = ix.table.current_snapshot_id()

    t0 = time.perf_counter()
    with run.span("sources.snapshot_table.append"):
        ix.table.append(df)
    t_commit = time.perf_counter()
    run.add("sources.snapshot_table.append_s", t_commit - t0)
    if run.trace:
        with run.span("sources.snapshot_table.diff"):
            ix.table.diff(spark, last).count()
        run.add("sources.snapshot_table.diff_s", time.perf_counter() - t_commit)

    cfg = index_config()
    try:
        t0 = time.perf_counter()
        with run.count("sync") as jc, run.span("index.incremental.sync", "sync"):
            meta = incremental_update_from_table(spark, ix.table, ix.index_dir, cfg)
        t_synced = time.perf_counter()
        ix.engine.refresh()  # drop the old engine's cached tables
        with run.span("index.query.engine_open"):
            engine = QueryEngine(spark, ix.index_dir, cfg)
        t_open = time.perf_counter()
        fresh_q = {"kind": "or_fresh", "terms": [marker]}
        with run.span("index.query.first_query", "query"):
            hits = [(r["doc_id"], r["score"])
                    for r in issue(engine, fresh_q, k=len(delta)).collect()]
        t_fresh = time.perf_counter()
    except Exception as e:
        run.check(False, f"sync raised {type(e).__name__}: {e}")
        raise
    ix.engine = engine
    for _ in range(REF_PER_ROUND):
        run.add("ref_s", run.ref.time())
    ids = ix.state.apply(delta)
    ix.oracle = Oracle(ix.state)
    ok_meta = meta.get("mode") == "snapshot_diff" and meta.get("n_docs", 0) >= len(delta)
    run.check(ok_meta, f"sync meta {meta.get('mode')} {meta.get('n_docs')}")
    exp = ix.oracle.expected(fresh_q, len(delta))
    fresh_ok = same_hits(hits, exp) and set(ids) <= {d for d, _ in hits}
    run.check(fresh_ok, f"fresh query {marker}: got {hits[:4]}.. ({len(hits)}), "
                        f"expected {exp[:4]}.. ({len(exp)}), delta ids {sorted(ids)[:6]}")
    run.add("sync_s", t_synced - t_commit)
    run.add("index.incremental.sync_s", t_synced - t0)
    run.add("index.query.engine_open_s", t_open - t_synced)
    run.add("index.query.first_query_s", t_fresh - t_open)
    run.add("freshness_s", t_fresh - t_commit)
    # the first round's counts: fixed by the seed, whatever the number of
    # rounds the window holds
    run.layer.setdefault("index.incremental.dirty_shards", len(meta.get("dirty_shards", ())))
    run.layer.setdefault("index.incremental.docs_rebuilt", meta.get("n_docs", 0))
    run.layer.setdefault("index.incremental.docs_rebuilt_per_doc_changed",
                         meta.get("n_docs", 0) / len(delta))
    if jc:
        run.add("spark.jobs_per_sync", jc["jobs"])


def run_serve(run: Run, ix: Index) -> dict:
    """Closed query loop for the window.  Traced runs add one sync round
    so the write-path layers are measured too."""
    query_loop(run, ix, seconds=run.seconds)
    q = np.asarray(run.samples["query_s"])
    out = {"query_p50_s": float(np.percentile(q, 50)),
           "query_p90_s": float(np.percentile(q, 90)),
           "query_qps": q.size / q.sum(),
           "query_samples": int(q.size)}
    out.update(relative(run, out["query_p50_s"]))
    if run.trace:
        sync_round(run, ix)
    return out


def run_sync(run: Run, ix: Index) -> dict:
    """Sync rounds for the window: at least one, and no round that would
    end past the window if it took as long as the last one.  Traced runs
    add queries on the synced engine, one of each class at least, so the
    query-path layers are measured too."""
    start = time.perf_counter()
    while True:
        t0 = time.perf_counter()
        sync_round(run, ix)
        now = time.perf_counter()
        if now - start + (now - t0) > run.seconds:
            break
    s = run.samples
    out = {"freshness_p50_s": statistics.median(s["freshness_s"]),
           "sync_p50_s": statistics.median(s["sync_s"]),
           "sync_rounds": len(s["sync_s"])}
    out.update(relative(run, out["freshness_p50_s"]))
    for name in ("index.incremental.dirty_shards", "index.incremental.docs_rebuilt",
                 "index.incremental.docs_rebuilt_per_doc_changed"):
        out[name] = run.layer[name]
    if run.trace:
        query_loop(run, ix, seconds=0.0)
    return out


def relative(run: Run, op_p50_s: float) -> dict:
    """The workload's median operation latency in units of the median
    latency of the reference job timed beside it."""
    ref = run.samples["ref_s"]
    ref_p50_s = statistics.median(ref)
    return {"op_p50_rel": op_p50_s / ref_p50_s, "ref_p50_s": ref_p50_s,
            "ref_samples": len(ref)}


WORKLOADS = {"serve": run_serve, "sync": run_sync}


def execute(run: Run) -> dict:
    """Runs one workload; returns every measured value by name: the
    end-to-end metrics, the workload's own figures, and (traced runs) the
    per-layer metrics."""
    run.tracer = Tracer(run.trace)
    with RssSampler() as rss:
        ix = setup(run)
        out = WORKLOADS[run.workload](run, ix)
        sizes = index_sizes(ix.index_dir)
    s = run.samples
    out.update({
        "setup_s": s["setup_s"][0],
        "session_start_s": s["session_start_s"][0],
        "build_docs_per_s": s["build_docs_per_s"][0],
        "corpus_docs": s["corpus_docs"][0],
        "corpus_bytes": s["corpus_bytes"][0],
        "index_bytes_per_input_byte": sizes["total"] / current_bytes(ix),
        "peak_rss_mb": rss.peak_mb,
        "peak_processes": rss.peak_processes,
        "peak_largest_mb": rss.peak_largest_mb,
        "error_rate": run.failed / max(1, run.attempted),
    })
    if run.trace:
        out.update(layer_metrics(run, sizes))
    return out


def current_bytes(ix: Index) -> int:
    return sum(len(r["content"].encode()) for _i, r in ix.state.rows())


# layers whose public calls the benchmark wraps in spans (index.storage
# has none: its figures come from walking the index directory)
LAYERS = ("spark", "tokenizer", "codec", "corpus", "index.build", "index.query",
          "index.query_parser", "index.incremental", "sources.snapshot_table")


def layer_metrics(run: Run, sizes: dict) -> dict:
    s = run.samples
    med = lambda name: statistics.median(s[name])  # noqa: E731
    out = dict(run.layer)
    out["spark.session_start_s"] = s["session_start_s"][0]
    for name in ("index.query.engine_open_s", "index.query.term_stats_s",
                 "index.query.plan_s", "index.query.exec_s",
                 "index.query_parser.parse_s", "index.incremental.sync_s",
                 "sources.snapshot_table.append_s", "sources.snapshot_table.diff_s",
                 "codec.decode_postings_s", "codec.postings_bytes_per_query",
                 "spark.jobs_per_query", "spark.tasks_per_query", "spark.jobs_per_sync"):
        out[name] = med(name)
    out["index.query.first_query_s"] = s["index.query.first_query_s"][0]
    out["index.query.term_cache_hit_ratio"] = statistics.fmean(s["index.query.term_cache_hit"])
    for kind in QUERY_CLASSES:
        out[f"index.query.{kind}_p50_s"] = med(f"index.query.{kind}_s")
    for t in TABLES:
        out[f"index.storage.{t}_bytes"] = sizes.get(t, 0)
    out["index.storage.files"] = sizes["files"]
    self_s = run.tracer.layer_self_time(LAYERS)
    for layer in LAYERS:
        out[f"{layer}.self_s"] = self_s[layer]
    out["trace.spans"] = len(run.tracer.spans)
    out["trace.overhead_s"] = run.tracer.overhead_s()
    return out

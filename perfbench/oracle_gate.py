"""Correctness gate: every timed engine result against the repo's oracle.

The expected answers come from ``archivesspace_virgo_spark.oracle`` — the
brute-force BM25 reference that defines the engine's scoring contract —
over the benchmark's own copy of the corpus, with doc ids predicted
independently (rank of ``(repo, path, commit)`` for the first build, then
stable ids for modified files and ids above the previous maximum, in key
order, for new files).  Checks run outside every timed region.
"""

from __future__ import annotations

from typing import Dict, List, Sequence, Tuple

from archivesspace_virgo_spark.index.query_parser import parse_query
from archivesspace_virgo_spark.oracle import (
    build_oracle_index,
    oracle_phrase_search,
    oracle_search,
)
from archivesspace_virgo_spark.tokenizer import tokenize_text

Hits = List[Tuple[int, float]]


class CorpusState:
    """The corpus as the index should see it: one row per (repo, path),
    each with the doc id the engine must have given it."""

    def __init__(self, rows: Sequence[dict]):
        ordered = sorted(rows, key=lambda r: (r["repo"], r["path"], r["commit"]))
        self.by_key: Dict[tuple, dict] = {}
        self.ids: Dict[tuple, int] = {}
        for i, r in enumerate(ordered):
            self.by_key[(r["repo"], r["path"])] = r
            self.ids[(r["repo"], r["path"])] = i
        self.next_id = len(ordered)

    def apply(self, delta: Sequence[dict]) -> List[int]:
        """Apply a snapshot's rows; returns the doc ids they now occupy."""
        added = sorted((r for r in delta if (r["repo"], r["path"]) not in self.ids),
                       key=lambda r: (r["repo"], r["path"], r["commit"]))
        for r in added:
            self.ids[(r["repo"], r["path"])] = self.next_id
            self.next_id += 1
        for r in delta:
            self.by_key[(r["repo"], r["path"])] = r
        return [self.ids[(r["repo"], r["path"])] for r in delta]

    def rows(self) -> List[Tuple[int, dict]]:
        return sorted((self.ids[k], r) for k, r in self.by_key.items())


class Oracle:
    """Expected top-k for every query class the workloads issue."""

    def __init__(self, state: CorpusState):
        self.docs = [(i, r["content"]) for i, r in state.rows()]
        self.lang = {i: r["lang"] for i, r in state.rows()}
        self.index = build_oracle_index(self.docs)
        self._phrase: Dict[tuple, Hits] = {}

    def expected(self, q: dict, k: int) -> Hits:
        kind = q["kind"]
        if kind == "phrase":
            key = (tuple(tokenize_text(q["phrase"])), k)
            if key not in self._phrase:
                self._phrase[key] = oracle_phrase_search(self.docs, key[0], k=k)
            return self._phrase[key]
        if kind == "qstring":
            pq = parse_query(q["q"])
            return oracle_search(self.index, pq.terms, k=k, mode=pq.mode,
                                 exclude=pq.exclude, boosts=pq.boosts or None)
        if kind == "fq":
            langs = {t.split(":", 1)[1] for cl in q["filters"] for t in cl}
            every = oracle_search(self.index, q["terms"], k=self.index.n_docs)
            return [(d, s) for d, s in every if self.lang[d] in langs][:k]
        return oracle_search(self.index, q["terms"], k=k, mode=q.get("mode", "or"))


def same_hits(got: Hits, exp: Hits, tol: float = 1e-6) -> bool:
    """Equal top-k: same length, scores equal within ``tol`` (relative
    for scores above 1), and the same doc ids.  Docs whose scores tie
    within ``tol`` may appear in either order, since float summation
    order may differ in the last bits."""
    if len(got) != len(exp):
        return False
    for (_, gs), (_, es) in zip(got, exp):
        if abs(gs - es) > tol * max(1.0, abs(es)):
            return False
    if [d for d, _ in got] == [d for d, _ in exp]:
        return True
    # tie groups: runs of expected scores within tol of each other
    i = 0
    while i < len(exp):
        j = i + 1
        while j < len(exp) and abs(exp[j][1] - exp[i][1]) <= tol * max(1.0, abs(exp[i][1])):
            j += 1
        got_ids = {d for d, _ in got[i:j]}
        exp_ids = {d for d, _ in exp[i:j]}
        if got_ids != exp_ids and j < len(exp):
            return False  # only the group cut by k may differ
        i = j
    return True

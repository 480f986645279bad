"""Seeded source-code corpus generator for the benchmark.

Produces rows of the engine's input shape ``(repo, path, commit, lang,
content)`` — nothing else: doc ids are the engine's business.

Shape of the data:

- a Zipf(s) vocabulary of pronounceable pseudo-words (rank 0 is the most
  frequent), so term selectivity spans several orders of magnitude: head
  terms sit in most files, tail terms in a handful;
- identifier-style tokens the tokenizer has to split: ``snake_case``
  names, dotted calls ``obj.attr(arg)``, punctuation, plus ``camelCase``
  names (the tokenizer lowercases before splitting, so these stay one
  compound term);
- per-file keywords of the file's language, so ``lang`` correlates with
  content the way it does in real repositories;
- lognormal file lengths around a median of ``MEDIAN_TOKENS`` words
  (source files, not sentences), and a Zipf number of files per
  repository.

Run it alone to print the statistics of the corpus the benchmark builds
for a seed::

    python3 perfbench/corpus_gen.py --seed 7
"""

from __future__ import annotations

import argparse
import json
import re
import sys
from collections import Counter
from typing import Dict, List

import numpy as np

LANGS = ("py", "java", "js", "go", "rs", "c")
LANG_WEIGHTS = np.array([0.34, 0.22, 0.18, 0.12, 0.08, 0.06])
EXT = {"py": "py", "java": "java", "js": "js", "go": "go", "rs": "rs", "c": "c"}
KEYWORDS = {
    "py": ["def", "return", "import", "self", "none", "class", "elif", "lambda"],
    "java": ["public", "static", "void", "final", "new", "class", "extends", "throws"],
    "js": ["function", "const", "let", "return", "await", "async", "export", "undefined"],
    "go": ["func", "package", "return", "defer", "chan", "struct", "nil", "err"],
    "rs": ["fn", "let", "mut", "impl", "pub", "match", "struct", "unwrap"],
    "c": ["int", "void", "return", "struct", "static", "sizeof", "char", "null"],
}

_ONSETS = ["b", "c", "d", "f", "g", "h", "k", "l", "m", "n", "p", "r", "s",
           "t", "v", "w", "z", "br", "ch", "cr", "dr", "fl", "gr", "pl",
           "pr", "sh", "st", "th", "tr"]
_VOWELS = ["a", "e", "i", "o", "u", "ai", "ea", "io", "ou"]
_CODAS = ["", "", "", "n", "r", "s", "t", "l", "x", "m", "nd", "st"]
_TOKEN_RE = re.compile("[^a-z0-9]+")

# Zipf rank bands of the vocabulary that the benchmark's query classes
# draw terms from; the tail band runs to the end of the vocabulary
HEAD = (0, 40)
MID = (40, 1500)
TAIL_START = 3000


# everything that decides the corpus besides the seed
DOCS = 1200  # files in the base corpus
VOCAB = 20000  # distinct pseudo-words
ZIPF_S = 1.07  # exponent of the word-frequency law
MEDIAN_TOKENS = 220  # median words per file
SIGMA = 0.55  # lognormal spread of file lengths
MAX_TOKENS = 4000  # longest file, in words
REPOS = 120  # repositories the files are spread over


def vocabulary(rng: np.random.Generator, n: int) -> List[str]:
    """``n`` distinct lowercase pseudo-words, shortest first, so the most
    frequent ranks get the short words (as in natural vocabularies).
    Keywords are kept out so a keyword's df comes from keywords only."""
    reserved = {w for ws in KEYWORDS.values() for w in ws}
    words, seen = [], set(reserved)
    syll = 1
    while len(words) < n:
        batch = max(256, 2 * (n - len(words)))
        parts = []
        for _ in range(syll):
            o = rng.integers(0, len(_ONSETS), batch)
            v = rng.integers(0, len(_VOWELS), batch)
            parts.append([_ONSETS[a] + _VOWELS[b] for a, b in zip(o, v)])
        coda = rng.integers(0, len(_CODAS), batch)
        before = len(words)
        for i in range(batch):
            w = "".join(p[i] for p in parts) + _CODAS[coda[i]]
            if w not in seen:
                seen.add(w)
                words.append(w)
                if len(words) == n:
                    break
        if len(words) - before < batch // 8:
            syll += 1  # this length is nearly exhausted
    # stable sort: a rank's word length barely depends on the seed, so
    # neither do the corpus's bytes per token
    words.sort(key=len)
    return words


def zipf_probs(n: int, s: float) -> np.ndarray:
    p = 1.0 / np.arange(1, n + 1, dtype=np.float64) ** s
    return p / p.sum()


def _camel(a: str, b: str) -> str:
    return a + b[:1].upper() + b[1:]


_FORMS = (
    "{k} {a}_{b}({c}, {d}):",
    "    {a} = {b}.{c}({d})",
    "    {k} {ab}[{c}] + {d}",
    "    # {a} {b} {c} {d}",
    "    {a}.{b}_{c} = {k}({d})",
    "{k} {a} {b} {c} {d};",
    "    {a}({b}, {c}={d})",
)


def _render(rng: np.random.Generator, words: np.ndarray, kw: List[str]) -> str:
    """One file: lines of code-like statements, four drawn words each."""
    n_lines = words.size // 4
    forms = rng.integers(0, len(_FORMS), n_lines)
    kws = rng.integers(0, len(kw), n_lines)
    out = []
    for j in range(n_lines):
        a, b, c, d = words[4 * j:4 * j + 4]
        out.append(_FORMS[forms[j]].format(
            k=kw[kws[j]], a=a, b=b, c=c, d=d, ab=_camel(a, b)))
    tail = words[4 * n_lines:]
    if tail.size:
        out.append(" ".join(tail))
    return "\n".join(out) + "\n"


class CorpusGen:
    """A seeded corpus plus the deltas and queries the workloads draw from
    it.  Every draw comes from one ``numpy`` generator seeded with
    ``seed``, so a seed fixes the whole run's inputs."""

    def __init__(self, seed: int):
        self.seed = seed
        self.rng = np.random.default_rng(seed)
        self.vocab = np.array(vocabulary(self.rng, VOCAB), dtype=object)
        self.p = zipf_probs(VOCAB, ZIPF_S)
        self.cdf = np.cumsum(self.p)
        self.repo_names = [f"org{r % 17}/repo{r:04d}" for r in range(REPOS)]
        self.repo_p = zipf_probs(REPOS, 1.0)
        self._serial = 0
        self._commits = 0
        self._counter = 0  # unique words injected by ``fresh_word``

    def _draw_words(self, n: int) -> np.ndarray:
        idx = np.searchsorted(self.cdf, self.rng.random(n), side="right")
        return self.vocab[np.minimum(idx, VOCAB - 1)]

    def _length(self) -> int:
        n = int(self.rng.lognormal(np.log(MEDIAN_TOKENS), SIGMA))
        return max(8, min(MAX_TOKENS, n))

    def _commit(self) -> str:
        # increasing: the engine resolves several versions of one file to
        # the greatest commit string, so a later version must sort later
        self._commits += 1
        return "%08x%032x" % (self._commits, int(self.rng.integers(0, 2 ** 62)))

    def content(self, lang: str, extra: List[str] = (), n_words: int = 0) -> str:
        n = n_words or self._length()
        text = _render(self.rng, self._draw_words(n), KEYWORDS[lang])
        if not extra:
            return text
        # ``extra`` words go in as their own comment line, so no camelCase
        # join can fuse them with a neighbour into another term
        lines = text.split("\n")
        at = int(self.rng.integers(0, len(lines)))
        lines.insert(at, "    # " + " ".join(extra))
        return "\n".join(lines)

    def new_file(self, repo: str = None, extra: List[str] = (),
                 n_words: int = 0) -> Dict[str, str]:
        """One new file with a path no earlier file of this generator has;
        ``n_words`` fixes its length (default: drawn)."""
        if repo is None:
            repo = self.repo_names[
                int(self.rng.choice(REPOS, p=self.repo_p))]
        lang = LANGS[int(self.rng.choice(len(LANGS), p=LANG_WEIGHTS))]
        d = self.vocab[int(self.rng.integers(0, 200))]
        name = self.vocab[int(self.rng.integers(0, VOCAB))]
        self._serial += 1
        path = f"src/{d}/{name}_{self._serial:06d}.{EXT[lang]}"
        return {"repo": repo, "path": path, "commit": self._commit(),
                "lang": lang, "content": self.content(lang, extra, n_words)}

    def corpus(self) -> List[Dict[str, str]]:
        """``DOCS`` files whose word counts sum to exactly ``DOCS * mean``
        of the length distribution: the file-length mix varies with the
        seed, the corpus size does not."""
        raw = self.rng.lognormal(np.log(MEDIAN_TOKENS), SIGMA, DOCS)
        raw = np.clip(raw, 8, MAX_TOKENS)
        target = DOCS * MEDIAN_TOKENS * np.exp(SIGMA ** 2 / 2)
        lengths = np.maximum(8, np.round(raw * target / raw.sum())).astype(int)
        return [self.new_file(n_words=int(n)) for n in lengths]

    def modified(self, row: Dict[str, str], extra: List[str] = ()) -> Dict[str, str]:
        """A new version of ``row``: same identity, new commit and content."""
        return {"repo": row["repo"], "path": row["path"],
                "commit": self._commit(), "lang": row["lang"],
                "content": self.content(row["lang"], extra)}

    def fresh_word(self) -> str:
        """A word in no corpus file yet: the marker a delta-only query
        searches for (digits keep it out of the pseudo-word space)."""
        self._counter += 1
        return f"zq{self.seed % 1000:03d}x{self._counter:05d}"

    def rank_terms(self, lo: int, hi: int, n: int) -> List[str]:
        """``n`` distinct vocabulary words with Zipf rank in [lo, hi),
        drawn Zipf-weighted within the band (so repeats across a query
        stream are common for head bands, rare for tail bands)."""
        p = self.p[lo:hi] / self.p[lo:hi].sum()
        idx = self.rng.choice(hi - lo, size=n, replace=False, p=p)
        return [str(self.vocab[lo + i]) for i in idx]


def tokenize(text: str) -> List[str]:
    """The engine's split: lowercase, then cut at every non-alphanumeric."""
    return [t for t in _TOKEN_RE.split(text.lower()) if t]


def corpus_stats(rows: List[Dict[str, str]], gen: "CorpusGen") -> dict:
    """Size of the corpus, and the document frequency of the vocabulary
    words in each rank band the query classes draw from."""
    df: Counter = Counter()
    n_bytes = 0
    n_tokens = 0
    for r in rows:
        toks = tokenize(r["content"])
        n_tokens += len(toks)
        n_bytes += len(r["content"].encode())
        df.update(set(toks))
    bands = {"head": HEAD, "mid": MID, "tail": (TAIL_START, VOCAB)}
    band_df = {}
    for name, (lo, hi) in bands.items():
        d = sorted(df.get(w, 0) for w in gen.vocab[lo:hi])
        band_df[name] = {"ranks": [lo, hi], "df_min": d[0],
                         "df_median": d[len(d) // 2], "df_max": d[-1]}
    return {
        "docs": len(rows),
        "content_bytes": n_bytes,
        "tokens": n_tokens,
        "distinct_terms": len(df),
        "top_df": dict(df.most_common(5)),
        "band_df": band_df,
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--seed", type=int, required=True)
    args = ap.parse_args(argv)
    gen = CorpusGen(args.seed)
    json.dump(corpus_stats(gen.corpus(), gen), sys.stdout, indent=2)
    print()
    return 0


if __name__ == "__main__":
    sys.exit(main())

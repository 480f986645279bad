"""Multi-index (collection-alias / distributed) search.

Solr serves one logical query over many shards/collections by running the
query per shard and merge-sorting the per-shard top-k by score (the
reference's Solr is single-core, but the select handler it programs
against is the same one SolrCloud distributes; SolrHelper.java:39-80).
Lucene/Solr's DEFAULT distributed scoring uses PER-SHARD corpus stats
(idf from each shard's own df/N); this module implements that default
contract exactly — each member index scores with its own statistics, and
only the ≤k ranked rows per index are merged — plus the opt-in
ExactStatsCache variant (``search(exact_stats=True)``): merged df/N/avgdl
are computed first (one bounded lexicon point-lookup per member) and every
member scores under the global statistics, so ranks match a single merged
index.

At 100 TB this is the cross-collection layer: each member is itself a
sharded index (doc_shard partitions inside), so a query fans out to
|indexes| × |shards| kernel tasks and funnels |indexes| × k rows through
one TakeOrdered — no stats exchange, no postings movement.
"""

from __future__ import annotations

from functools import reduce
from typing import Optional, Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from archivesspace_virgo_spark.index.query import (
    _check_page,
    _page,
    parse_sort_spec,
)


class MultiIndexEngine:
    """Query a list of QueryEngines as one logical collection.

    ``labels`` names each member (defaults to its position); results carry
    an ``index_id`` column since doc_ids are only unique per member.
    Ties across members break on (index_id, doc_id) for determinism.
    """

    def __init__(self, engines: Sequence, labels: Optional[Sequence[str]] = None):
        if not engines:
            raise ValueError("MultiIndexEngine needs at least one engine")
        self.engines = list(engines)
        self.labels = [str(x) for x in
                       (labels if labels is not None else range(len(engines)))]
        if len(self.labels) != len(self.engines):
            raise ValueError("labels must match engines")

    def _tagged(self, label: str, df: DataFrame) -> DataFrame:
        if "index_id" in df.columns:
            # nested MultiIndexEngine member: compose a path-like id
            # (outer/inner) instead of colliding on the column
            rest = [c for c in df.columns if c != "index_id"]
            return df.select(
                F.concat(F.lit(label + "/"), F.col("index_id"))
                .alias("index_id"), *rest
            )
        return df.select(F.lit(label).alias("index_id"), "*")

    def global_stats(self, terms: Sequence[str]) -> tuple:
        """Merged corpus statistics across members (Solr ExactStatsCache):
        per-term (Σ df, Σ cf), per-field (Σ n_docs, token-weighted avgdl).

        Cost: one bounded lexicon point-lookup per member (|terms| tiny
        rows each — the same exchange ExactStatsCache does per query) plus
        the members' already-cached field stats; nothing distributed moves.
        Per-member totals are recovered exactly (avgdl·n rounds to the
        integer token count), so the merged avgdl equals the one a single
        merged index would store."""
        for lab, e in zip(self.labels, self.engines):
            if not (hasattr(e, "term_stats") and hasattr(e, "field_stats")):
                raise ValueError(
                    "exact_stats requires leaf QueryEngine members: member "
                    f"{lab!r} ({type(e).__name__}) exposes no "
                    "term_stats/field_stats.  Nested MultiIndexEngine "
                    "members compose only under the default "
                    "per-member-stats contract (exact_stats=False)."
                )
        e0 = self.engines[0]
        stored = sorted({s for _f, s in (e0._parse_term(t) for t in terms)})
        term_df: dict = {}
        for e in self.engines:
            for t, (df_t, cf_t) in e.term_stats(stored).items():
                d0, c0 = term_df.get(t, (0, 0))
                term_df[t] = (d0 + df_t, c0 + cf_t)
        totals: dict = {}
        for e in self.engines:
            for f, (n, avgdl) in e.field_stats.items():
                n0, t0 = totals.get(f, (0, 0))
                totals[f] = (n0 + n, t0 + int(round(avgdl * n)))
        field_stats = {
            f: (n, (tok / n) if n else 0.0) for f, (n, tok) in totals.items()
        }
        return term_df, field_stats

    def search(self, terms: Sequence[str], k: int = 10, mode: str = "or",
               offset: int = 0, exact_stats: bool = False, **kw) -> DataFrame:
        """(index_id, doc_id, score): global top-k across members.

        Each member returns its own top-(k+offset) under its own stats
        (Solr per-shard idf default); the merge is one ≤|members|·(k+offset)
        row TakeOrdered.

        ``exact_stats=True`` is Solr's opt-in ExactStatsCache: per-term df
        and per-field (N, avgdl) are merged across members first and every
        member scores under those GLOBAL statistics, making ranks (and
        scores) identical to a single merged index over the same docs."""
        # global_stats only travels when exact_stats is on: members are
        # then required to accept it (leaf QueryEngines; a NESTED
        # MultiIndexEngine member is only composable under the default
        # per-member-stats contract, where no extra kwarg is injected)
        if exact_stats:
            kw = dict(kw, global_stats=self.global_stats(terms))
        return self._scored("search", k, offset, terms, mode=mode, **kw)

    def count(self, terms: Sequence[str], mode: str = "or", **kw) -> int:
        """Exact numFound = sum of member counts (disjoint members)."""
        return sum(e.count(terms, mode=mode, **kw) for e in self.engines)

    def facet_search(self, terms: Sequence[str], field: str,
                     mode: str = "or", **kw) -> DataFrame:
        """Facet counts over the union match set: member facets are
        partial aggregates, summed per value — the distributed-facet
        refinement step, without the approximate first phase (members
        return complete counts, so no refinement error)."""
        parts = [
            e.facet_search(terms, field, mode=mode, **kw)
            for e in self.engines
        ]
        u = reduce(DataFrame.unionByName, parts)
        return u.groupBy(field).agg(
            F.sum("facet_count").alias("facet_count")
        )

    def dismax_search(self, terms: Sequence[str],
                      fields: Optional[Sequence[str]] = None,
                      tie: float = 0.0, k: int = 10,
                      offset: int = 0) -> DataFrame:
        """Distributed DisMax (Solr defType=dismax over an alias): each
        member runs the full DisjunctionMax reduction under its OWN corpus
        stats (the per-shard-idf default contract, same as ``search``) and
        returns ≤ k+offset rows; the merge is one TakeOrdered over
        |members|·(k+offset) rows.  No postings move."""
        return self._scored("dismax_search", k, offset, terms,
                            fields=fields, tie=tie)

    def sorted_search(self, terms: Sequence[str], sort_field,
                      k: int = 10, ascending: bool = True, mode: str = "or",
                      offset: int = 0, **kw) -> DataFrame:
        """Distributed field sort (Solr sort=f1 asc, f2 desc over an
        alias): each member returns its own top-(k+offset) under the SAME
        composite key, so the global top-k is contained in the
        |members|·(k+offset)-row union — merged by one TakeOrdered on the
        identical key list ((index_id, doc_id) final tiebreak)."""
        spec = parse_sort_spec(sort_field, ascending)
        _check_page(k, offset)
        parts = [
            self._tagged(lab, e.sorted_search(terms, spec, k=k + offset,
                                              mode=mode, **kw))
            for lab, e in zip(self.labels, self.engines)
        ]
        u = reduce(DataFrame.unionByName, parts)
        keys = [F.asc(f) if a else F.desc(f) for f, a in spec]
        return _page(u, k, offset, *keys, F.asc("index_id"), F.asc("doc_id"))

    def grouped_search(self, terms: Sequence[str], group_field: str,
                       k_per_group: int = 3, mode: str = "or",
                       **kw) -> DataFrame:
        """Distributed result grouping (Solr group.field over an alias),
        EXACT: every member returns its complete per-group top
        ``k_per_group`` (each member sees all of its own docs), so the
        global per-group top-k is contained in the union of member
        partials — ≤ |members|·|groups|·k rows re-windowed per group, the
        same second-phase merge SolrCloud's distributed grouping runs,
        without the approximate first phase.  Cross-member ties break on
        (index_id, doc_id); group order is the group's best
        (score desc, group value asc), matching the leaf contract."""
        parts = [
            self._tagged(lab, e.grouped_search(terms, group_field,
                                               k_per_group=k_per_group,
                                               mode=mode, **kw)
                         .drop("rank_in_group"))
            for lab, e in zip(self.labels, self.engines)
        ]
        u = reduce(DataFrame.unionByName, parts)
        from pyspark.sql import Window

        w = Window.partitionBy(group_field).orderBy(
            F.desc("score"), F.asc("index_id"), F.asc("doc_id")
        )
        return (
            u.withColumn("rank_in_group", F.row_number().over(w))
            .filter(F.col("rank_in_group") <= k_per_group)
            .withColumn(
                "group_top_score",
                F.max("score").over(Window.partitionBy(group_field)),
            )
            .orderBy(F.desc("group_top_score"), F.asc(group_field),
                     F.asc("rank_in_group"))
            .select(group_field, "rank_in_group", "index_id", "doc_id",
                    "score")
        )

    # --- generic scored fan-out: the SolrCloud two-phase contract every
    # scored surface shares — each member returns its own top-(k+offset)
    # under its OWN corpus stats (the per-shard-idf distributed default,
    # same as `search`), and the merge is ONE TakeOrdered over
    # ≤ |members|·(k+offset) rows.  No postings move; global offset is
    # applied at the merge (members are asked for offset 0). ---
    def _scored(self, method: str, k: int, offset: int, *args, **kw):
        _check_page(k, offset)  # before members see k + offset
        parts = [
            self._tagged(lab, getattr(e, method)(*args, k=k + offset, **kw))
            for lab, e in zip(self.labels, self.engines)
        ]
        u = reduce(DataFrame.unionByName, parts)
        return _page(u, k, offset, F.desc("score"), F.asc("index_id"),
                     F.asc("doc_id"))

    def query(self, q: str, k: int = 10, offset: int = 0,
              **kw) -> DataFrame:
        """Distributed Lucene standard-syntax query string (the main Solr
        q= surface over an alias): each member parses + dispatches + scores
        the SAME string locally (multi-term clauses expand against each
        member's own lexicon, exactly as every SolrCloud shard rewrites
        against its own terms), merged by (score, index_id, doc_id)."""
        return self._scored("query", k, offset, q, **kw)

    def boolean_search(self, clauses, k: int = 10, offset: int = 0,
                       **kw) -> DataFrame:
        """Distributed BooleanQuery (AND of OR-clauses) over the alias."""
        return self._scored("boolean_search", k, offset, clauses, **kw)

    def phrase_search(self, phrase, k: int = 10, offset: int = 0,
                      **kw) -> DataFrame:
        """Distributed exact PhraseQuery over the alias."""
        return self._scored("phrase_search", k, offset, phrase, **kw)

    def sloppy_phrase_search(self, phrase, slop: int = 0, k: int = 10,
                             offset: int = 0, **kw) -> DataFrame:
        """Distributed PhraseQuery slop (transpositions) over the alias."""
        return self._scored("sloppy_phrase_search", k, offset, phrase,
                            slop=slop, **kw)

    def span_near_search(self, phrase, slop: int = 0, k: int = 10,
                         offset: int = 0, **kw) -> DataFrame:
        """Distributed ordered SpanNear over the alias."""
        return self._scored("span_near_search", k, offset, phrase,
                            slop=slop, **kw)

    def prefix_search(self, prefix: str, k: int = 10, offset: int = 0,
                      **kw) -> DataFrame:
        """Distributed PrefixQuery (each member expands against its OWN
        lexicon — the per-shard rewrite Lucene/SolrCloud applies)."""
        return self._scored("prefix_search", k, offset, prefix, **kw)

    def wildcard_search(self, pattern: str, k: int = 10, offset: int = 0,
                        **kw) -> DataFrame:
        """Distributed WildcardQuery over the alias."""
        return self._scored("wildcard_search", k, offset, pattern, **kw)

    def regexp_search(self, regex: str, k: int = 10, offset: int = 0,
                      **kw) -> DataFrame:
        """Distributed RegexpQuery over the alias."""
        return self._scored("regexp_search", k, offset, regex, **kw)

    def fuzzy_search(self, term: str, k: int = 10, offset: int = 0,
                     **kw) -> DataFrame:
        """Distributed FuzzyQuery over the alias."""
        return self._scored("fuzzy_search", k, offset, term, **kw)

    def term_range_search(self, lo, hi, k: int = 10, offset: int = 0,
                          **kw) -> DataFrame:
        """Distributed TermRangeQuery over the alias."""
        return self._scored("term_range_search", k, offset, lo, hi, **kw)

    def more_like_this(self, text: str, k: int = 10, **kw) -> DataFrame:
        """Distributed MoreLikeThis: the seed's interesting terms are
        selected per member (each member's own df, the same per-shard MLT
        contract Solr's distributed mlt runs), scored locally, merged."""
        return self._scored("more_like_this", k, 0, text, **kw)

    def rerank(self, terms, rerank_phrase, k: int = 10, **kw) -> DataFrame:
        """Distributed ReRank: each member reranks its OWN top window
        (Solr's distributed reRank contract — the window is per shard),
        merged by the combined score."""
        return self._scored("rerank", k, 0, terms, rerank_phrase, **kw)

    def highlight(self, terms, k: int = 10, **kw) -> DataFrame:
        """Distributed highlighting: members return their top-k rows WITH
        snippet windows; the merge keeps the global top-k."""
        return self._scored("highlight", k, 0, terms, **kw)

    def match_ids(self, terms, **kw) -> DataFrame:
        """(index_id, doc_shard, doc_id) of every match across members —
        the unranked union (no sort, no limit: the facet/stats primitive)."""
        parts = [
            self._tagged(lab, e.match_ids(terms, **kw))
            for lab, e in zip(self.labels, self.engines)
        ]
        return reduce(DataFrame.unionByName, parts)

    def facet_range(self, terms, start: int, end: int, gap: int,
                    **kw) -> DataFrame:
        """Distributed range facets: member buckets are complete partial
        counts over disjoint docs — summed per bucket, no refinement
        error."""
        parts = [e.facet_range(terms, start, end, gap, **kw)
                 for e in self.engines]
        u = reduce(DataFrame.unionByName, parts)
        return (u.groupBy("bucket_lo")
                .agg(F.sum("facet_count").alias("facet_count"))
                .orderBy("bucket_lo"))

    def facet_pivot(self, terms, fields, **kw) -> DataFrame:
        """Distributed pivot facets: summed per value combination, Solr's
        count-desc ordering re-applied after the merge."""
        parts = [e.facet_pivot(terms, fields, **kw) for e in self.engines]
        u = reduce(DataFrame.unionByName, parts)
        return (u.groupBy(*fields)
                .agg(F.sum("facet_count").alias("facet_count"))
                .orderBy(F.desc("facet_count"),
                         *[F.asc(f) for f in fields]))

    def stats_component(self, terms, **kw) -> DataFrame:
        """Distributed stats component: count/min/max/sum are associative
        partials; mean is recomputed as Σsum/Σcount (NOT averaged member
        means — members match different numbers of docs)."""
        parts = [e.stats_component(terms, **kw) for e in self.engines]
        u = reduce(DataFrame.unionByName, parts)
        return u.agg(
            F.sum("stats_count").alias("stats_count"),
            F.min("stats_min").alias("stats_min"),
            F.max("stats_max").alias("stats_max"),
            F.sum("stats_sum").alias("stats_sum"),
            (F.sum("stats_sum") / F.sum("stats_count"))
            .alias("stats_mean"),
        )

    def terms_component(self, prefix: str = "", n: int = 10,
                        by_count: bool = True, **kw) -> DataFrame:
        """Distributed terms component: per-member top-n merged by SUMMED
        df.  Carries Solr's distributed TermsComponent contract including
        its documented approximation (terms.limit applies per shard, so a
        term ranked just below n on every member can be missed; raise n
        for exhaustive merges)."""
        parts = [e.terms_component(prefix, n=n, by_count=by_count, **kw)
                 for e in self.engines]
        u = reduce(DataFrame.unionByName, parts)
        merged = u.groupBy("term").agg(F.sum("df").alias("df"))
        order = ([F.desc("df"), F.asc("term")] if by_count
                 else [F.asc("term")])
        return merged.orderBy(*order).limit(n)

    def suggest(self, term: str, n: int = 5, **kw) -> DataFrame:
        """Distributed spellcheck suggestions: candidates merged by summed
        df, re-ranked the DirectSpellChecker way (distance, df desc, term).
        Same per-member-top-n containment caveat as ``terms_component`` —
        the shard-merge contract of Solr's distributed spellcheck."""
        parts = [e.suggest(term, n=n, **kw) for e in self.engines]
        u = reduce(DataFrame.unionByName, parts)
        return (u.groupBy("term", "distance")
                .agg(F.sum("df").alias("df"))
                .orderBy(F.asc("distance"), F.desc("df"), F.asc("term"))
                .select("term", "df", "distance")
                .limit(n))

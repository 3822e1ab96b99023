"""The BM25 query engine (reference Q1-Q10, serve.rs:336-453).

One declarative DataFrame plan per query:

    query terms (broadcast, <=dozens of rows)
      ⨝ postings on term            -- J2: term-dictionary lookup
      ⨝ term_stats on term          -- df (broadcast after isin pushdown)
      ⨯ stats (broadcast 1 row)     -- N, avgdl
      -> per-clause BM25 column     -- Q5
      -> groupBy(doc_id): sum + count  -- the ONE shuffle
      -> HAVING count == n_clauses  -- Q2: conjunction-by-default
      -> ORDER BY score DESC, doc_id ASC LIMIT k  -- Q6: TakeOrderedAndProject

At 100 TB the postings side is huge but the term filter prunes to the
query's terms before the shuffle (predicate pushdown into the parquet /
bucket scan — see index/artifact.py bucketing), the dimension sides are
broadcast, and the per-partition top-k heap merge of
TakeOrderedAndProject is exactly Tantivy's per-segment TopDocs collector
+ heap merge (serve.rs:413-419).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from prosearch_spark.analyzer import analyze_query
from prosearch_spark.index.build import InvertedIndex
from prosearch_spark.query.bm25 import MLT_TERM_EXPR, SCORE_EXPR
from prosearch_spark.session import local_frame


def rank_topk(d: DataFrame, k: int, round_to: int | None) -> DataFrame:
    """(doc_id, score) -> (rank, doc_id, score): THE round-before-rank
    + (score DESC, doc_id ASC) tie-break, defined once so every engine
    (flat / block / phrase / mixed) and the oracle gate agree on
    ranking semantics by construction."""
    if round_to is not None:
        d = d.withColumn("score", F.round("score", round_to))
    top = d.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)
    w = Window.orderBy(F.desc("score"), F.asc("doc_id"))
    return top.withColumn("rank", F.row_number().over(w)).select(
        "rank", "doc_id", "score"
    )


def rank_multi_topk(d: DataFrame, k: int,
                    round_to: int | None) -> DataFrame:
    """(query_id, doc_id, score) -> (query_id, rank, doc_id, score):
    :func:`rank_topk` per query of a batch — a PARTITIONED window
    (WindowGroupLimit), rows ordered by (query_id, rank)."""
    if round_to is not None:
        d = d.withColumn("score", F.round("score", round_to))
    w = Window.partitionBy("query_id").orderBy(
        F.desc("score"), F.asc("doc_id"))
    return (
        d.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "doc_id", "score")
        .orderBy("query_id", "rank")
    )


TOPK_SCHEMA = "rank int, doc_id long, score double"
MULTI_TOPK_SCHEMA = "query_id int, rank int, doc_id long, score double"


def materialize_topk(spark: SparkSession, ranked: DataFrame,
                     schema=None) -> DataFrame:
    """Collect a ranked top-k into a small local-relation DataFrame so
    callers that persist inputs can unpersist before returning.
    ``schema`` defaults to the single-query TOPK_SCHEMA; batched
    callers pass MULTI_TOPK_SCHEMA."""
    schema = schema if schema is not None else TOPK_SCHEMA
    return local_frame(spark, ranked.collect(), schema)


class SearchEngine:
    """Query API over an :class:`InvertedIndex` (single-field)."""

    def __init__(self, spark: SparkSession, index: InvertedIndex):
        self.spark = spark
        self.index = index

    # -- plan fragments ----------------------------------------------------

    def _matches(self, q: str,
                 clauses: list[tuple[str, float]] | None = None
                 ) -> tuple[DataFrame, int]:
        """Per-(clause, doc) scored rows + the clause count for AND.
        ``clauses`` overrides the analyzer parse — used by term
        expansion (prefix/fuzzy/regex), where boosts are uniform and
        the analyzer's boost table must NOT apply."""
        if clauses is None:
            clauses = analyze_query(q)
        qdf = local_frame(self.spark, clauses, "term string, boost double")
        terms = sorted({t for t, _ in clauses})
        ts = self.index.term_stats.filter(F.col("term").isin(terms))
        scored = (
            self.index.postings
            .join(F.broadcast(qdf), "term")
            .join(F.broadcast(ts), "term")
            .crossJoin(F.broadcast(self.index.stats))
            .withColumn("s", F.expr(SCORE_EXPR))
        )
        return scored, len(clauses)

    def _docs_scored(self, q: str,
                     clauses: list[tuple[str, float]] | None = None
                     ) -> DataFrame:
        """(doc_id, score) for docs matching ALL clauses (conjunction)."""
        scored, n_clauses = self._matches(q, clauses)
        return (
            scored.groupBy("doc_id")
            .agg(F.sum("s").alias("score"), F.count("*").alias("nmatch"))
            .filter(F.col("nmatch") == n_clauses)
            .drop("nmatch")
        )

    def _docs_scored_or(self, q: str, min_match: int = 1,
                        clauses: list[tuple[str, float]] | None = None
                        ) -> DataFrame:
        """(doc_id, score) for docs matching >= ``min_match`` clauses —
        BooleanQuery should-clauses with minimum_should_match: the
        score sums the matched clauses' contributions, unmatched
        clauses contribute 0. min_match=1 is plain disjunction;
        min_match=n_clauses equals the conjunction. Same scored-rows
        fragment as the conjunction with the count filter relaxed."""
        scored, _n = self._matches(q, clauses)
        d = scored.groupBy("doc_id").agg(
            F.sum("s").alias("score"), F.count("*").alias("nmatch"))
        if min_match > 1:
            d = d.filter(F.col("nmatch") >= min_match)
        return d.drop("nmatch")

    # -- public query operators --------------------------------------------

    def topk_or(self, q: str, k: int = 10,
                round_to: int | None = None,
                min_match: int = 1,
                clauses: list[tuple[str, float]] | None = None
                ) -> DataFrame:
        """Disjunctive top-k (match >= min_match clauses, default ANY)
        — the query shape Block-Max WAND was designed for (Ding & Suel
        2011); the conjunction engines cover the reference's default
        AND semantics, this covers should-clause scoring."""
        return rank_topk(self._docs_scored_or(q, min_match, clauses),
                         k, round_to)

    def more_like_this(self, seed_doc_id: int, k: int = 10,
                       max_terms: int = 8, min_df: int = 2,
                       round_to: int | None = None) -> DataFrame:
        """MoreLikeThis (the Lucene MLT / related-docs query shape —
        the reference's serving surface exposes per-result navigation,
        serve.rs:336-453; MLT is its standard "find similar" analog):
        pick the seed doc's ``max_terms`` most distinctive terms by
        tf x BM25-idf (``MLT_TERM_EXPR`` — ONE SQL string shared with
        the DuckDB oracle; scores on the 6dp grid, ties -> term ASC),
        require ``df >= min_df`` so a term actually occurs beyond the
        seed, then run them as a uniform-boost disjunctive BM25 query
        with the seed excluded.

        The selection collects <= max_terms rows (the bounded
        expand.py pattern), after which the final query gets the usual
        term-pruned postings scan. At 100 TB derive the seed's tf from
        the doc-store point fetch + re-analysis (S5 + T1) instead of a
        postings filter — the selection rule is identical; the flat
        in-memory index makes the postings filter the cheaper plan
        here."""
        sel = (
            self.index.postings.filter(F.col("doc_id") == seed_doc_id)
            .join(self.index.term_stats, "term")
            .filter(F.col("df") >= min_df)
            .crossJoin(F.broadcast(self.index.stats))
            .withColumn("mscore", F.expr(MLT_TERM_EXPR))
            .orderBy(F.desc("mscore"), F.asc("term"))
            .limit(max_terms)
        )
        clauses = [(r["term"], 1.0) for r in sel.select("term").collect()]
        if not clauses:
            return local_frame(self.spark, [], TOPK_SCHEMA)
        d = (self._docs_scored_or("", clauses=clauses)
             .filter(F.col("doc_id") != seed_doc_id))
        return rank_topk(d, k, round_to)

    def multi_more_like_this(self, seed_doc_ids: list[int], k: int = 10,
                             max_terms: int = 8, min_df: int = 2,
                             round_to: int | None = None) -> DataFrame:
        """Batched MoreLikeThis — related docs for a whole result PAGE
        in ONE declarative plan (the msearch shape for the MLT family;
        per-seed semantics identical to :meth:`more_like_this`).

        Returns (query_id, rank, doc_id, score), query_id = the seed's
        doc_id — which makes per-seed exclusion a single
        ``doc_id != query_id`` predicate after the scoring join. Both
        stages stay lazy (no per-seed collect loop):

        1. selection: the seeds' postings join term_stats, score by
           the shared ``MLT_TERM_EXPR`` string, rank per seed with a
           PARTITIONED window (6dp grid, ties term ASC, df >= min_df),
           keep ``max_terms`` each — at most |seeds| x max_terms rows;
        2. scoring: that selection broadcast-joins the postings as a
           (query_id, term) relation at uniform boost 1.0 —
           DISJUNCTIVE (no clause-count filter, Lucene MLT's should
           semantics), one (query_id, doc_id) shuffle, one partitioned
           round-before-rank window.
        """
        sel = (
            self.index.postings
            .filter(F.col("doc_id").isin([int(s) for s in seed_doc_ids]))
            .join(self.index.term_stats, "term")
            .filter(F.col("df") >= min_df)
            .crossJoin(F.broadcast(self.index.stats))
            .withColumn("mscore", F.expr(MLT_TERM_EXPR))
            .withColumn("mrank", F.row_number().over(
                Window.partitionBy("doc_id")
                .orderBy(F.desc("mscore"), F.asc("term"))))
            .filter(F.col("mrank") <= max_terms)
            .select(F.col("doc_id").alias("query_id"), "term")
        )
        return self._multi_mlt_rank(sel, k, round_to)

    def _multi_mlt_rank(self, sel: DataFrame, k: int,
                        round_to: int | None) -> DataFrame:
        """Stage 2 of batched MLT: score a broadcast (query_id, term)
        seed-term relation disjunctively at uniform boost 1.0, exclude
        each seed from its own list (doc_id != query_id), rank per
        query (round-before-rank, partitioned window). Shared by the
        flat and committed batch paths."""
        # term_stats is vocabulary-sized — bound the broadcast to the
        # <= |seeds| x max_terms selected terms before shipping it
        ts = self.index.term_stats.join(
            F.broadcast(sel.select("term").distinct()), "term",
            "left_semi")
        scored = (
            self.index.postings
            .join(F.broadcast(sel), "term")
            .join(F.broadcast(ts), "term")
            .crossJoin(F.broadcast(self.index.stats))
            .withColumn("boost", F.lit(1.0))
            .withColumn("s", F.expr(SCORE_EXPR))
            .filter(F.col("doc_id") != F.col("query_id"))
        )
        d = (scored.groupBy("query_id", "doc_id")
             .agg(F.sum("s").alias("score")))
        return rank_multi_topk(d, k, round_to)

    def topk(self, q: str, k: int = 10, round_to: int | None = None,
             clauses: list[tuple[str, float]] | None = None) -> DataFrame:
        """Q6: top-k by (score DESC, doc_id ASC).

        ``round_to`` rounds scores BEFORE ranking — used by the
        cross-engine correctness gate so rank order is identical even
        when the two engines differ in the last float ulp.
        ``clauses`` overrides the analyzer parse (same contract as
        topk_or) — the lenient grammar's term clauses carry boosts the
        re-analysis of a joined string would NOT reproduce (a quoted
        token folds to boost 1.0; analyze_query would re-apply the
        raw-token boost table), so delegating callers pass the parsed
        clause list instead of text.
        """
        return rank_topk(self._docs_scored(q, clauses), k, round_to)

    def multi_topk(self, queries: list[str], k: int = 10,
                   round_to: int | None = None) -> DataFrame:
        """Batched multi-query top-k (the Elasticsearch ``_msearch``
        shape): score EVERY query of the batch in ONE declarative plan
        — (query_id, rank, doc_id, score), query_id = list position.

        Why this exists: a Spark job carries a fixed scheduling cost
        (~0.1-0.5 s in local mode, more on a real cluster), so
        serving N queries as N sequential ``topk`` jobs pays that cost
        N times over the SAME postings scan. Batching joins one
        broadcast (query_id, term, boost) relation against ONE
        bucket/term-pruned postings fetch, shuffles once on
        (query_id, doc_id), and ranks per query with a PARTITIONED
        window (WindowGroupLimit: per-task partial top-k, no global
        sort) — the batch costs one job regardless of N.

        Per-query semantics are identical to :meth:`topk` (conjunction
        over analyzed clauses, round-before-rank, (score DESC, doc_id
        ASC) tie-break); a query that analyzes to zero clauses
        contributes no rows."""
        return self._multi_topk_impl(queries, k, round_to,
                                     conjunctive=True)

    def multi_topk_or(self, queries: list[str], k: int = 10,
                      round_to: int | None = None,
                      min_match: int = 1) -> DataFrame:
        """Batched DISJUNCTIVE multi-query top-k (should-clause
        msearch with minimum_should_match): same one-plan batch shape
        as :meth:`multi_topk`, but a doc qualifies for a query when it
        matches >= ``min_match`` of that query's clauses (per-query
        semantics identical to :meth:`topk_or`). Completes the boolean
        batch family: conjunctive (multi_topk), quoted
        (multi_mixed_topk), related-docs (multi_more_like_this) — all
        one job per batch."""
        return self._multi_topk_impl(queries, k, round_to,
                                     conjunctive=False,
                                     min_match=min_match)

    def _multi_topk_impl(self, queries: list[str], k: int,
                         round_to: int | None, conjunctive: bool,
                         min_match: int = 1) -> DataFrame:
        parsed = [(qi, analyze_query(q)) for qi, q in enumerate(queries)]
        rows = [(qi, t, b) for qi, cl in parsed for t, b in cl]
        if not rows:
            return local_frame(self.spark, [], MULTI_TOPK_SCHEMA)
        qdf = local_frame(
            self.spark, rows, "query_id int, term string, boost double")
        ndf = local_frame(
            self.spark, [(qi, len(cl)) for qi, cl in parsed if cl],
            "query_id int, n_clauses int")
        terms = sorted({t for _qi, t, _b in rows})
        ts = self.index.term_stats.filter(F.col("term").isin(terms))
        scored = (
            self.index.postings
            .join(F.broadcast(qdf), "term")
            .join(F.broadcast(ts), "term")
            .crossJoin(F.broadcast(self.index.stats))
            .withColumn("s", F.expr(SCORE_EXPR))
        )
        d = (
            scored.groupBy("query_id", "doc_id")
            .agg(F.sum("s").alias("score"), F.count("*").alias("nmatch"))
            .join(F.broadcast(ndf), "query_id")
        )
        if conjunctive:
            d = d.filter(F.col("nmatch") == F.col("n_clauses"))
        elif min_match > 1:
            d = d.filter(F.col("nmatch") >= min_match)
        return rank_multi_topk(d, k, round_to)

    def topk_not(self, q: str, exclude: str, k: int = 10,
                 round_to: int | None = None) -> DataFrame:
        """BooleanQuery must_not: conjunctive matches of ``q`` minus
        every doc containing ANY analyzed term of ``exclude``
        (Tantivy's Occur::MustNot — exclusion never contributes to the
        score, it only removes docs). One anti-join against the
        excluded terms' postings; the exclusion side is term-pruned
        like any other lookup."""
        ex_terms = sorted({t for t, _ in analyze_query(exclude)})
        d = self._docs_scored(q)
        if ex_terms:
            ex_docs = self.index.postings.filter(
                F.col("term").isin(ex_terms)).select("doc_id")
            d = d.join(ex_docs, "doc_id", "left_anti")
        return rank_topk(d, k, round_to)

    def count(self, q: str) -> DataFrame:
        """Q7: total hit count alongside/instead of top-k."""
        return self._docs_scored(q).agg(F.count("*").alias("hits"))

    def topk_with_count(self, q: str, k: int = 10,
                        round_to: int | None = None) -> tuple[DataFrame, int]:
        """Q6+Q7 combined collector — the reference's
        ``(TopDocs, Count)`` pair (bench.rs:63-77). The matched set is
        computed once (cached) and serves both the heap top-k and the
        total count."""
        d = self._docs_scored(q)
        if round_to is not None:
            d = d.withColumn("score", F.round("score", round_to))
        d = d.cache()
        try:
            total = d.count()
            out = rank_topk(d, k, None)  # d is already rounded
            # materialize before unpersist so the caller's DataFrame
            # doesn't recompute the whole match
            result = local_frame(self.spark, out.collect(), out.schema)
        finally:
            d.unpersist()
        return result, total

    def match_scan(self, q: str) -> DataFrame:
        """Q8: every matching doc, unranked (search.rs:62-78)."""
        return self._docs_scored(q).select("doc_id")

    def top_hits_by_group(self, q: str, docs: DataFrame, group_col: str,
                          n_per_group: int = 3,
                          round_to: int | None = None) -> DataFrame:
        """Tantivy's top_hits sub-aggregation: the best n hits inside
        every bucket of ``group_col``. The per-group window is
        PARTITIONED, so Spark executes it as WindowGroupLimit (partial
        per-task top-n, then final per-group) — no global sort, no
        single-task window; round-before-rank and the (score DESC,
        doc_id ASC) tie-break as everywhere."""
        d = self._docs_scored(q)
        if round_to is not None:
            d = d.withColumn("score", F.round("score", round_to))
        joined = d.join(docs.select("doc_id", group_col), "doc_id")
        w = Window.partitionBy(group_col).orderBy(
            F.desc("score"), F.asc("doc_id"))
        return (
            joined.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= n_per_group)
            .select(group_col, "rank", "doc_id", "score")
            .orderBy(group_col, "rank")
        )

    def collapse_topk(self, q: str, docs: DataFrame, collapse_col: str,
                      k: int = 10,
                      round_to: int | None = None) -> DataFrame:
        """Field collapsing (the Lucene/ES collapse clause): keep only
        each ``collapse_col`` group's best hit, then rank the
        representatives globally — 'one result per site' in a SERP.
        First window partitioned by the collapse key (WindowGroupLimit
        shape), second is the ordinary k-row ranking."""
        d = self._docs_scored(q)
        if round_to is not None:
            d = d.withColumn("score", F.round("score", round_to))
        joined = d.join(docs.select("doc_id", collapse_col), "doc_id")
        w = Window.partitionBy(collapse_col).orderBy(
            F.desc("score"), F.asc("doc_id"))
        best = (joined.withColumn("rn", F.row_number().over(w))
                .filter(F.col("rn") == 1)
                .select(collapse_col, "doc_id", "score"))
        top = best.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)
        wg = Window.orderBy(F.desc("score"), F.asc("doc_id"))
        return top.withColumn("rank", F.row_number().over(wg)).select(
            "rank", collapse_col, "doc_id", "score")

    def fetch(self, hits: DataFrame, docs: DataFrame,
              id_col: str = "doc_id") -> DataFrame:
        """S5/J3: top-k doc store fetch = broadcast join of the k hits
        back to the document table (serve.rs:421-435)."""
        return docs.join(F.broadcast(hits), docs[id_col] == hits["doc_id"],
                         "inner").drop(hits["doc_id"])

    def terms_agg(self, q: str, docs: DataFrame, group_col: str,
                  size: int = 10) -> DataFrame:
        """Q9: Elasticsearch-style ``terms`` aggregation over matches
        (search.rs:47-61): top-N buckets by count."""
        m = self.match_scan(q)
        return (
            docs.join(m, "doc_id")
            .groupBy(group_col)
            .agg(F.count("*").alias("doc_count"))
            .orderBy(F.desc("doc_count"), F.asc(group_col))
            .limit(size)
        )

    def stats_agg(self, q: str, docs: DataFrame, value_col: str) -> DataFrame:
        """Q9: ``stats`` aggregation (count/min/max/sum/avg) over matches."""
        m = self.match_scan(q)
        return docs.join(m, "doc_id").agg(
            F.count(value_col).alias("count"),
            F.min(value_col).alias("min"),
            F.max(value_col).alias("max"),
            F.sum(value_col).alias("sum"),
            F.avg(value_col).alias("avg"),
        )

    def terms_stats_agg(self, q: str, docs: DataFrame, group_col: str,
                        value_col: str) -> DataFrame:
        """Q9: a ``terms`` aggregation with a ``stats`` SUB-aggregation
        per bucket (the Tantivy/ES agg-tree shape): count/min/max/sum/
        avg of ``value_col`` inside every ``group_col`` bucket of the
        match set. Integer value columns keep sum exact and avg a
        single division — float-order-safe vs the oracle."""
        m = self.match_scan(q)
        return (
            docs.join(m, "doc_id")
            .groupBy(group_col)
            .agg(
                F.count(value_col).cast("long").alias("count"),
                F.min(value_col).alias("min"),
                F.max(value_col).alias("max"),
                F.sum(value_col).cast("long").alias("sum"),
                F.round(F.avg(value_col), 6).alias("avg"),
            )
            .orderBy(group_col)
        )

    def topk_after(self, q: str, k: int = 10,
                   round_to: int | None = None,
                   after: tuple[float, int] | None = None) -> DataFrame:
        """search_after pagination: the k hits strictly AFTER the
        cursor ``(score, doc_id)`` in (score DESC, doc_id ASC) order —
        the ES/Lucene search_after contract (stateless deep paging;
        the reference parses an offset param and ignores it,
        serve.rs:573-587 — this is the real thing). The cursor
        compares against ROUNDED scores when round_to is set, i.e. in
        ranking order; rank restarts at 1 within the page. Unlike
        offset paging, cost does not grow with page depth: the filter
        prunes before the top-k heap."""
        d = self._docs_scored(q)
        if round_to is not None:
            d = d.withColumn("score", F.round("score", round_to))
        if after is not None:
            s0, d0 = after
            d = d.filter(
                (F.col("score") < F.lit(s0))
                | ((F.col("score") == F.lit(s0))
                   & (F.col("doc_id") > F.lit(d0)))
            )
        return rank_topk(d, k, round_to)

    def range_agg(self, q: str, docs: DataFrame, value_col: str,
                  ranges: list[tuple[float | None, float | None]]
                  ) -> DataFrame:
        """Q9: ES/Tantivy ``range`` aggregation over matches — one doc
        count per half-open bucket [lo, hi); ``None`` = unbounded end.
        Buckets may overlap (a doc counts in every bucket it falls in,
        the ES rule), so each range is its own conditional sum over ONE
        scan of the matched rows — no explode, no second shuffle."""
        m = self.match_scan(q)
        j = docs.join(m, "doc_id")
        v = F.col(value_col)
        aggs = []
        for lo, hi in ranges:
            cond = F.lit(True)
            if lo is not None:
                cond = cond & (v >= F.lit(lo))
            if hi is not None:
                cond = cond & (v < F.lit(hi))
            lo_k = "*" if lo is None else f"{lo:g}"
            hi_k = "*" if hi is None else f"{hi:g}"
            key = f"{lo_k}-{hi_k}"
            aggs.append(F.sum(F.when(cond, 1).otherwise(0))
                        .cast("long").alias(key))
        out = j.agg(*aggs)
        # long form (range_key, doc_count), ordered by key — the
        # driver-compare-friendly shape
        pairs = F.array(*[
            F.struct(F.lit(c).alias("range_key"),
                     F.col(c).alias("doc_count"))
            for c in out.columns
        ])
        return (out.select(F.explode(pairs).alias("r"))
                .select("r.range_key", "r.doc_count")
                .orderBy("range_key"))

    def percentiles_agg(self, q: str, docs: DataFrame, value_col: str,
                        ps: list[float] | None = None,
                        round_to: int = 6) -> DataFrame:
        """Q9: ``percentiles`` aggregation over matches (ES/Tantivy
        shape) — EXACT linear-interpolated percentiles via Spark's
        ``percentile`` (not the approx sketch: the oracle gate needs
        the deterministic value; at 100 TB swap in percentile_approx
        and drop the oracle to rows-only). Long form (p, value)."""
        ps = ps or [0.25, 0.5, 0.75, 0.95]
        m = self.match_scan(q)
        j = docs.join(m, "doc_id")
        out = j.agg(*[
            F.round(F.expr(f"percentile({value_col}, {p!r})"),
                    round_to).alias(f"p{i}")
            for i, p in enumerate(ps)
        ])
        pairs = F.array(*[
            F.struct(F.lit(p).alias("p"),
                     F.col(f"p{i}").alias("value"))
            for i, p in enumerate(ps)
        ])
        return (out.select(F.explode(pairs).alias("r"))
                .select("r.p", "r.value").orderBy("p"))

    def percentiles_agg_approx(self, q: str, docs: DataFrame,
                               value_col: str,
                               ps: list[float] | None = None,
                               accuracy: int = 10000) -> DataFrame:
        """The 100 TB twin of :meth:`percentiles_agg` — Spark's
        ``percentile_approx`` (Greenwald-Khanna sketch: one pass,
        bounded memory per partition, MERGEABLE partial states, so a
        1000-executor agg never materialises the full value column the
        way exact ``percentile``'s sort-based aggregate does).

        Guarantee (Spark's contract): the returned value is an ACTUAL
        value from the column whose rank r satisfies
        |r - p*n| <= n/accuracy. No DuckDB-identical oracle exists for
        a sketch, so this stays OUT of the driver window; the
        rank-error-bound pytest (tests/test_round5.py) is the
        executable evidence for the swap documented on the exact
        method. Long form (p, value), same shape as the exact twin."""
        ps = ps or [0.25, 0.5, 0.75, 0.95]
        m = self.match_scan(q)
        j = docs.join(m, "doc_id")
        out = j.agg(*[
            F.expr(f"percentile_approx({value_col}, {p!r}, {accuracy})")
            .cast("double").alias(f"p{i}")
            for i, p in enumerate(ps)
        ])
        pairs = F.array(*[
            F.struct(F.lit(p).alias("p"),
                     F.col(f"p{i}").alias("value"))
            for i, p in enumerate(ps)
        ])
        return (out.select(F.explode(pairs).alias("r"))
                .select("r.p", "r.value").orderBy("p"))

    def histogram_agg(self, q: str, docs: DataFrame, value_col: str,
                      interval: float) -> DataFrame:
        """Q9: ``histogram`` aggregation over matches."""
        m = self.match_scan(q)
        return (
            docs.join(m, "doc_id")
            .groupBy(
                (F.floor(F.col(value_col) / F.lit(interval)) * F.lit(interval))
                .alias("bucket")
            )
            .agg(F.count("*").alias("doc_count"))
            .orderBy("bucket")
        )

    def search(self, q: str, docs: DataFrame, k: int = 10,
               snippet_col: str | None = None) -> DataFrame:
        """Q1-Q6+Q10+P1: the full /search flow — top-k, fetch stored
        fields, optional snippet, body dropped (serve.rs:379-386)."""
        hits = self.topk(q, k)
        out = self.fetch(hits, docs)
        if snippet_col is not None:
            from prosearch_spark.query.snippet import with_snippet
            out = with_snippet(out, q, snippet_col)
            out = out.drop(snippet_col)
        return out.orderBy("rank")

"""Mixed term + phrase queries through the lenient front-end.

The reference parses user queries leniently (serve.rs:407-409) over a
positional index (meta.json:21-33) — so a complete rebuild must route a
query string like ``spark "join hash"`` to term BM25 for the bare
clause and phrase BM25 for the quoted one, conjunctively
(serve.rs:343-344), summing clause scores exactly like the flat
engine's per-clause sum.

One positional posting table serves both clause kinds (tf/dl for term
scoring, the position arrays for the phrase intersection), so the
corpus is tokenized once — and a caller that serves many queries
builds that table once and passes it in (``pp``), so per-request cost
is O(query), not O(corpus).
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from prosearch_spark.analyzer import parse_query_lenient
from prosearch_spark.index.positions import (
    phrase_matches,
    phrase_scores,
    positional_postings,
)
from prosearch_spark.query.bm25 import SCORE_EXPR
from prosearch_spark.query.engine import (
    TOPK_SCHEMA,
    materialize_topk,
    rank_topk,
)


def build_positional(spark: SparkSession, docs: DataFrame,
                     text_col: str = "text", id_col: str = "doc_id"
                     ) -> tuple[DataFrame, DataFrame]:
    """(positional postings, one-row stats) for mixed querying.

    Stats match the flat index definition exactly: n_docs counts every
    doc (zero-token included), avgdl = total tokens / n_docs.
    """
    pp = positional_postings(docs, text_col=text_col, id_col=id_col)
    n_docs = docs.count()
    tok_total = pp.agg(F.sum("tf")).collect()[0][0] or 0
    avgdl = tok_total / n_docs if n_docs else 0.0
    stats = spark.createDataFrame([(n_docs, float(avgdl))],
                                  "n_docs long, avgdl double")
    return pp, stats


def mixed_topk(spark: SparkSession, docs: DataFrame | None, q: str,
               k: int = 10,
               round_to: int | None = None, text_col: str = "text",
               id_col: str = "doc_id",
               pp: DataFrame | None = None,
               stats: DataFrame | None = None,
               term_stats: DataFrame | None = None,
               pp_terms: DataFrame | None = None) -> DataFrame:
    """BM25 top-k for a lenient query with optional quoted phrases.

    score(d) = sum over term clauses of boost * bm25(term, d)
             + sum over phrase clauses of bm25_phrase(phrase, d)
    where a phrase scores via positions.phrase_scores and a doc must
    match EVERY clause (conjunction by default).

    Pass a prebuilt ``(pp, stats)`` from :func:`build_positional` to
    amortize the corpus tokenize across queries (the serving path) —
    ``docs`` may then be None; otherwise they are built and persisted
    for this one call. ``term_stats`` (term, df) overrides the
    pp-derived document frequencies — the committed-artifact caller
    passes its manifest-era stats so the block path keeps the
    reference's df-drift-until-merge semantics under tombstones.
    ``pp_terms`` optionally narrows the postings used for TERM-clause
    scoring only (phrase matching always reads ``pp``) — the block
    engine passes a decode pruned to the phrase-match doc ranges,
    which is sound because a dropped row's doc cannot match every
    clause. Defaults to ``pp``.
    """
    return _mixed_impl(spark, docs, parse_query_lenient(q), k, round_to,
                       text_col, id_col, pp, stats, term_stats, pp_terms)


def mixed_slop_topk(spark: SparkSession, docs: DataFrame | None, q: str,
                    k: int = 10,
                    round_to: int | None = None, text_col: str = "text",
                    id_col: str = "doc_id",
                    pp: DataFrame | None = None,
                    stats: DataFrame | None = None,
                    term_stats: DataFrame | None = None) -> DataFrame:
    """:func:`mixed_topk` through the proximity grammar
    (analyzer.parse_query_slop): ``spark "join hash"~2`` scores the
    bare term conjunctively with an ORDERED slop-2 proximity clause
    (tf = chain starts, synthetic-term BM25 — semantics and the
    greedy==exists proof in index/positions.phrase_slop_matches).
    ``"..."~0`` folds to the exact phrase, so this is a strict
    superset of the lenient grammar (round 6)."""
    from prosearch_spark.analyzer import parse_query_slop

    return _mixed_impl(spark, docs, parse_query_slop(q), k, round_to,
                       text_col, id_col, pp, stats, term_stats, None)


def _mixed_impl(spark: SparkSession, docs: DataFrame | None,
                clauses: list[tuple[str, object]], k: int,
                round_to: int | None, text_col: str, id_col: str,
                pp: DataFrame | None, stats: DataFrame | None,
                term_stats: DataFrame | None,
                pp_terms: DataFrame | None) -> DataFrame:
    """mixed_topk's body, verbatim (round 6 — the same move
    engine.multi_topk made into _multi_topk_impl), generalized only by
    taking PARSED clauses and by scoring ("slop", (terms, n)) clauses
    through phrase_slop_matches instead of phrase_matches."""
    if not clauses:
        return spark.createDataFrame([], TOPK_SCHEMA)
    n_clauses = len(clauses)
    term_clauses = [c for kind, c in clauses if kind == "term"]
    phrase_clauses = [c for kind, c in clauses if kind == "phrase"]
    slop_clauses = [c for kind, c in clauses if kind == "slop"]

    owns_pp = pp is None
    persisted: list[DataFrame] = []
    if owns_pp:
        pp, stats = build_positional(spark, docs, text_col, id_col)
        pp = pp.persist()
        persisted.append(pp)
    assert stats is not None, "stats must accompany a prebuilt pp"
    try:
        scored_parts: list[DataFrame] = []
        if term_clauses:
            qdf = spark.createDataFrame(term_clauses,
                                        "term string, boost double")
            terms = sorted({t for t, _ in term_clauses})
            ts = term_stats if term_stats is not None else (
                pp.filter(F.col("term").isin(terms))
                .groupBy("term").agg(F.count("*").alias("df"))
            )
            if pp_terms is not None and term_stats is None:
                # a pruned term decode cannot supply global df
                raise ValueError("pp_terms requires explicit term_stats")
            tp_src = pp_terms if pp_terms is not None else pp
            scored_parts.append(
                tp_src.select("term", "doc_id", "tf", "dl")
                .join(F.broadcast(qdf), "term")
                .join(F.broadcast(ts), "term")
                .crossJoin(F.broadcast(stats))
                .withColumn("s", F.expr(SCORE_EXPR))
                .select("doc_id", "s")
            )
        for terms in phrase_clauses:
            m = phrase_matches(pp, terms).persist()
            persisted.append(m)
            phrase_df = m.count()
            if phrase_df == 0:
                return spark.createDataFrame([], TOPK_SCHEMA)  # AND dead
            scored_parts.append(phrase_scores(m, phrase_df, stats))
        for terms, slop in slop_clauses:
            from prosearch_spark.index.positions import phrase_slop_matches

            m = phrase_slop_matches(pp, terms, slop).persist()
            persisted.append(m)
            phrase_df = m.count()
            if phrase_df == 0:
                return spark.createDataFrame([], TOPK_SCHEMA)  # AND dead
            scored_parts.append(phrase_scores(m, phrase_df, stats))

        scored = reduce(lambda a, b: a.unionByName(b), scored_parts)
        # each clause emits at most one row per doc, so the row count
        # per doc equals the number of matched clauses (same AND shape
        # as SearchEngine._docs_scored)
        d = (
            scored.groupBy("doc_id")
            .agg(F.sum("s").alias("score"), F.count("*").alias("nmatch"))
            .filter(F.col("nmatch") == n_clauses)
            .drop("nmatch")
        )
        return materialize_topk(spark, rank_topk(d, k, round_to))
    finally:
        for df in persisted:
            df.unpersist()

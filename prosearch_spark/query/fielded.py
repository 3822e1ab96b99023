"""Multi-field BM25 query engine — the reference's exact field
semantics (serve.rs:336-351 + meta.json:7-47):

- each query clause matches ``title OR body`` (default-field expansion)
- field boosts: title 1.5, body 1.0
- ``title`` is record:"basic" -> tf==1 (enforced at build time by
  build_fielded_index)
- per-field df / N / avgdl feed per-field BM25; a clause's score is
  the field-boost-weighted SUM of its per-field scores; a doc matches
  iff EVERY clause hits at least one field (conjunction).

Plan shape: one broadcast join of (clause_id, term, boost) against the
fielded postings, one groupBy(doc_id) computing both the total score
(sum over every (clause, field) contribution) and the AND predicate
(countDistinct(clause_id) == n_clauses), then TakeOrderedAndProject.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from prosearch_spark.analyzer import analyze_query
from prosearch_spark.index.artifact import apply_deletes
from prosearch_spark.index.blocks import decode_blocks
from prosearch_spark.index.build import InvertedIndex
from prosearch_spark.query.block_engine import block_cols
from prosearch_spark.query.bm25 import SCORE_EXPR
from prosearch_spark.query.engine import (
    MULTI_TOPK_SCHEMA,
    rank_multi_topk,
    rank_topk,
)
from prosearch_spark.query.mixed import ladder_multi_topk, ladder_topk
from prosearch_spark.query.wand import block_max_wand
from prosearch_spark.session import local_frame

DEFAULT_FIELD_BOOSTS = {"title": 1.5, "body": 1.0}


def _terms(q: str) -> list[str]:
    return sorted({t for t, _ in analyze_query(q)})


def field_boost_expr(field_boosts: dict[str, float]):
    """CASE column mapping ``field`` -> its boost (1.0 otherwise) —
    the one place the boost table becomes a Spark expression."""
    fb = None
    for field, boost in field_boosts.items():
        cond = F.when(F.col("field") == field, F.lit(float(boost)))
        fb = cond if fb is None else fb.when(
            F.col("field") == field, F.lit(float(boost)))
    return F.lit(1.0) if fb is None else fb.otherwise(F.lit(1.0))


class FieldedSearchEngine:
    def __init__(self, spark: SparkSession, index: InvertedIndex,
                 field_boosts: dict[str, float] | None = None):
        self.spark = spark
        self.index = index  # postings: (field, term, doc_id, tf, dl)
        self.field_boosts = field_boosts or DEFAULT_FIELD_BOOSTS

    def _scored(self, q: str) -> tuple[DataFrame, int]:
        """Per-(clause, field, doc) scored rows + clause count."""
        clauses = analyze_query(q)
        qdf = local_frame(
            self.spark, [(i, t, b) for i, (t, b) in enumerate(clauses)],
            "clause_id int, term string, boost double",
        )
        terms = sorted({t for t, _ in clauses})
        ts = self.index.term_stats.filter(F.col("term").isin(terms))
        fb = field_boost_expr(self.field_boosts)
        scored = (
            self.index.postings
            .join(F.broadcast(qdf), "term")
            .join(F.broadcast(ts), ["field", "term"])
            .join(F.broadcast(self.index.stats), "field")
            .withColumn("s", fb * F.expr(SCORE_EXPR))
        )
        return scored, len(clauses)

    def _docs_scored(self, q: str) -> DataFrame:
        scored, n_clauses = self._scored(q)
        return (
            scored.groupBy("doc_id")
            .agg(
                F.sum("s").alias("score"),
                F.countDistinct("clause_id").alias("nmatch"),
            )
            .filter(F.col("nmatch") == n_clauses)
            .drop("nmatch")
        )

    def _docs_scored_or(self, q: str, min_match: int = 1) -> DataFrame:
        """Disjunctive fielded scoring: a doc scores the sum of every
        matched (clause, field) contribution and qualifies with >=
        ``min_match`` DISTINCT matched clauses (a clause matched in
        both fields is still one clause — countDistinct, exactly like
        the conjunction's AND predicate)."""
        scored, _n = self._scored(q)
        d = scored.groupBy("doc_id").agg(
            F.sum("s").alias("score"),
            F.countDistinct("clause_id").alias("nmatch"),
        )
        if min_match > 1:
            d = d.filter(F.col("nmatch") >= min_match)
        return d.drop("nmatch")

    def topk_or(self, q: str, k: int = 10, round_to: int | None = None,
                min_match: int = 1) -> DataFrame:
        """Multi-field should-clause top-k (title 1.5 / body 1.0 kept;
        match ANY clause by default) — the disjunctive twin of topk."""
        return rank_topk(self._docs_scored_or(q, min_match), k, round_to)

    def topk(self, q: str, k: int = 10, round_to: int | None = None) -> DataFrame:
        return rank_topk(self._docs_scored(q), k, round_to)

    def count(self, q: str) -> DataFrame:
        return self._docs_scored(q).agg(F.count("*").alias("hits"))

    def match_scan(self, q: str) -> DataFrame:
        return self._docs_scored(q).select("doc_id")

    def multi_topk(self, queries: list[str], k: int = 10,
                   round_to: int | None = None,
                   min_match: int | None = None) -> DataFrame:
        """Batched fielded msearch — SearchEngine.multi_topk's shape
        with the fielded algebra: every query's clauses join as ONE
        broadcast (query_id, clause_id, term, boost) relation against
        the field-tagged postings, per-(clause, field) scores sum per
        (query_id, doc_id), and the per-query conjunction counts
        DISTINCT clause ids (a clause matched in both fields is one
        clause). One postings scan, one shuffle, a partitioned-window
        rank — N fielded queries, one job."""
        parsed = [(qi, analyze_query(q)) for qi, q in enumerate(queries)]
        rows = [(qi, ci, t, b) for qi, cl in parsed
                for ci, (t, b) in enumerate(cl)]
        if not rows:
            return local_frame(self.spark, [], MULTI_TOPK_SCHEMA)
        qdf = local_frame(self.spark, rows, "query_id int, clause_id int, "
                          "term string, boost double")
        ndf = local_frame(
            self.spark, [(qi, len(cl)) for qi, cl in parsed if cl],
            "query_id int, n_clauses int")
        terms = sorted({t for _qi, _ci, t, _b in rows})
        ts = self.index.term_stats.filter(F.col("term").isin(terms))
        fb = field_boost_expr(self.field_boosts)
        scored = (
            self.index.postings
            .join(F.broadcast(qdf), "term")
            .join(F.broadcast(ts), ["field", "term"])
            .join(F.broadcast(self.index.stats), "field")
            .withColumn("s", fb * F.expr(SCORE_EXPR))
        )
        d = (
            scored.groupBy("query_id", "doc_id")
            .agg(F.sum("s").alias("score"),
                 F.countDistinct("clause_id").alias("nmatch"))
            .join(F.broadcast(ndf), "query_id")
        )
        if min_match is None:
            d = d.filter(F.col("nmatch") == F.col("n_clauses"))
        elif min_match > 1:
            d = d.filter(F.col("nmatch") >= min_match)
        return rank_multi_topk(d, k, round_to)

    def multi_topk_or(self, queries: list[str], k: int = 10,
                      round_to: int | None = None,
                      min_match: int = 1) -> DataFrame:
        """Batched DISJUNCTIVE fielded msearch (should-clause with
        minimum_should_match over DISTINCT clause ids — a clause
        matched in both fields is still one clause): the multi_topk
        batch with the conjunction filter relaxed, per-query semantics
        identical to :meth:`topk_or`."""
        return self.multi_topk(queries, k, round_to,
                               min_match=min_match)


def fielded_index_from_artifacts(artifacts: dict, terms: list[str],
                                 blocks: DataFrame | None = None
                                 ) -> InvertedIndex:
    """The fielded logical index of ``terms`` over per-field block
    artifacts (save_fielded_index layout): each field decodes its own
    bucket/term-pruned blocks — or, given field-tagged ``blocks`` (the
    WAND ladder's pruned set), its rows of those — with its tombstones
    applied, and the union adds the ``field`` tag the fielded scorer
    expects. Per-field df / N / avgdl come from each artifact's
    manifest — exactly Tantivy's per-field segment stats — so scoring
    is byte-identical whichever blocks were pruned.
    """
    postings = term_stats = stats = None
    for field, art in sorted(artifacts.items()):
        fb = (art.blocks(terms) if blocks is None
              else blocks.filter(F.col("field") == field))
        p = apply_deletes(decode_blocks(block_cols(fb)), art.deletes())
        p = p.select(F.lit(field).alias("field"), "term", "doc_id",
                     "tf", "dl")
        t = art.term_stats(terms).select(
            F.lit(field).alias("field"), "term", "df"
        )
        s = art.stats().select(F.lit(field).alias("field"), "n_docs",
                               "avgdl")
        postings = p if postings is None else postings.unionByName(p)
        term_stats = t if term_stats is None else term_stats.unionByName(t)
        stats = s if stats is None else stats.unionByName(s)
    return InvertedIndex(postings=postings, term_stats=term_stats,
                         stats=stats)


class FieldedBlockSearchEngine:
    """Fielded queries over per-field committed artifacts."""

    def __init__(self, spark: SparkSession, artifacts: dict,
                 field_boosts: dict[str, float] | None = None):
        self.spark = spark
        self.artifacts = artifacts
        self.field_boosts = field_boosts or DEFAULT_FIELD_BOOSTS

    def _engine(self, terms: list[str], blocks: DataFrame | None = None
                ) -> FieldedSearchEngine:
        """FieldedSearchEngine over fielded_index_from_artifacts."""
        return FieldedSearchEngine(
            self.spark,
            fielded_index_from_artifacts(self.artifacts, terms, blocks),
            self.field_boosts)

    def topk(self, q: str, k: int = 10, round_to: int | None = None) -> DataFrame:
        return self._engine(_terms(q)).topk(q, k, round_to)

    def topk_or(self, q: str, k: int = 10, round_to: int | None = None,
                min_match: int = 1) -> DataFrame:
        """Disjunctive fielded top-k over the committed artifacts."""
        return self._engine(_terms(q)).topk_or(q, k, round_to, min_match)

    def count(self, q: str) -> DataFrame:
        return self._engine(_terms(q)).count(q)

    def match_scan(self, q: str) -> DataFrame:
        return self._engine(_terms(q)).match_scan(q)

    def multi_topk(self, queries: list[str], k: int = 10,
                   round_to: int | None = None,
                   min_match: int | None = None) -> DataFrame:
        """Batched fielded msearch over the committed per-field
        artifacts: the UNION of every query's terms drives one
        bucket/term-pruned decode per field, then the whole batch
        scores in FieldedSearchEngine.multi_topk's single plan."""
        terms = sorted({t for q in queries for t in _terms(q)})
        if not terms:
            return local_frame(self.spark, [], MULTI_TOPK_SCHEMA)
        return self._engine(terms).multi_topk(queries, k, round_to,
                                              min_match=min_match)

    def multi_topk_or(self, queries: list[str], k: int = 10,
                      round_to: int | None = None,
                      min_match: int = 1) -> DataFrame:
        """Batched disjunctive fielded msearch over the committed
        per-field artifacts (block twin of
        FieldedSearchEngine.multi_topk_or)."""
        return self.multi_topk(queries, k, round_to,
                               min_match=min_match)

    # -- fielded Block-Max WAND ------------------------------------------------

    def _sources(self) -> list:
        return [(field, art, float(self.field_boosts.get(field, 1.0)))
                for field, art in sorted(self.artifacts.items())]

    def _body(self) -> tuple:
        """The positional source: phrases score in ``body`` only."""
        return ("body", self.artifacts["body"],
                float(self.field_boosts.get("body", 1.0)))

    def topk_wand(self, q: str, k: int = 10, round_to: int | None = None,
                  min_prune_blocks: int | None = None
                  ) -> tuple[DataFrame, dict]:
        """Block-Max WAND over PER-FIELD artifacts — exact results with
        score-bound block pruning for the reference's production query
        shape: multi-field OR with boosts title 1.5 / body 1.0
        (serve.rs:336-351) served from block-max skip data
        (serve.rs:413-419 BooleanQuery over Tantivy segments). The
        conjunctive ladder of query/wand.py with one source per field:
        the driver term is rarest by TOTAL df across fields, each
        block bound carries its field boost, and a range's bound sums
        per term the FIELD-SUM of max block bounds (a doc can match a
        term in both fields). ``title`` is record:"basic" (tf==1 at
        commit), so its stored max_tf==1 gives the tight title bound
        for free. Returns (result, stats with
        blocks_total/blocks_decoded)."""
        clauses = analyze_query(q)
        terms = sorted({t for t, _ in clauses})

        def score(blocks: DataFrame, rt: int | None) -> DataFrame:
            return self._engine(terms, blocks).topk(q, k, rt)

        return block_max_wand(self.spark, self._sources(), clauses, score,
                              k, round_to, min_prune_blocks,
                              conjunctive=True)

    def topk_wand_or(self, q: str, k: int = 10,
                     round_to: int | None = None,
                     min_prune_blocks: int | None = None,
                     min_match: int = 1) -> tuple[DataFrame, dict]:
        """DISJUNCTIVE Block-Max WAND over PER-FIELD artifacts — the
        disjunctive ladder of query/wand.py with (field, term) playing
        the role of the term: the SAME term in the OTHER field is one
        of the summed groups of a block's bound (a doc can match a
        term in both fields and collect both contributions), and each
        block bound folds clause weight x field boost. ``min_match``
        filters DISTINCT clause counts at scoring only (bounds
        dominate any subset)."""
        clauses = analyze_query(q)
        terms = sorted({t for t, _ in clauses})

        def score(blocks: DataFrame, rt: int | None) -> DataFrame:
            return self._engine(terms, blocks).topk_or(
                q, k, round_to=rt, min_match=min_match)

        return block_max_wand(self.spark, self._sources(), clauses, score,
                              k, round_to, min_prune_blocks,
                              conjunctive=False)

    # -- fielded mixed (term + phrase + slop) queries ------------------------

    def mixed_topk(self, q: str, k: int = 10,
                   round_to: int | None = None,
                   return_stats: bool = False
                   ) -> DataFrame | tuple[DataFrame, dict]:
        """Mixed term + phrase + ``"..."~N`` query over a FIELDED
        deployment: the reference parses EVERY user query with one
        lenient parser over the default fields [title, body] WITH
        their boosts (serve.rs:336-351,407-409), so a quoted query
        must not drop to single-field scoring. The staged mixed ladder
        (query/mixed.ladder_topk) with one source per field:

        - a TERM clause scores in every field it appears in —
          field_boost x clause_boost x per-field BM25 (title
          record:"basic" keeps tf=1), summed across fields;
        - a PHRASE or slop clause matches and scores in the
          positional ``body`` field only (title stores no positions,
          the reason Tantivy cannot serve a phrase from a basic
          field): body_boost x phrase BM25 with the body's phrase df
          and dl/avgdl;
        - conjunction over DISTINCT clause ids (a term clause matched
          in both fields is one clause).

        ``return_stats=True`` also returns {blocks_total,
        blocks_decoded} over every touched block of every field."""
        return ladder_topk(self.spark, self._sources(), self._body(), q,
                           k, round_to, return_stats)

    def multi_mixed_topk(self, queries: list[str], k: int = 10,
                         round_to: int | None = None) -> DataFrame:
        """Batched fielded mixed msearch (query/mixed.ladder_multi_topk
        over one source per field): one fielded term pass, one body
        decode, one position join per phrase length and chain, one
        partitioned-window rank. Per-query rows equal
        :meth:`mixed_topk`'s."""
        return ladder_multi_topk(self.spark, self._sources(), self._body(),
                                 queries, k, round_to)

"""Query engine over the persisted block artifact, with pruning.

The physical-layer twin of query/engine.py. Pruning ladder, applied
before any block is decoded (each level is a plain relational filter —
correct and conservative, per SURVEY.md §7 stage 3):

1. bucket pruning: ``tb IN (buckets(query terms))`` — parquet
   partition-directory pruning (term-dictionary lookup analog).
2. term pruning: ``term IN (...)`` — row-group min/max skipping
   (blocks are written sorted by term).
3. AND doc-range pruning: for conjunctions, only blocks whose
   [first_doc, last_doc] range overlaps some block range of the
   RAREST query term can contain a conjunctive match — a broadcast
   range semi-join on block metadata. This is the DataFrame shape of
   the zipper intersection driving Block-Max WAND (score-based
   pruning over the block-max ``max_tf``/``min_dl`` columns lives in
   query/wand.py; topk_wand/topk_wand_or here are its adapters, as
   mixed_topk/multi_mixed_topk are of the mixed ladder in
   query/mixed.py).

Only surviving blocks are varint-decoded (Arrow-batched), then scoring
is byte-identical to the flat engine.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from prosearch_spark.analyzer import analyze_query
from prosearch_spark.index.artifact import IndexArtifact, apply_deletes
from prosearch_spark.index.blocks import decode_blocks
from prosearch_spark.index.build import InvertedIndex
from prosearch_spark.query.engine import MULTI_TOPK_SCHEMA, SearchEngine
from prosearch_spark.session import local_frame


def block_key(df: DataFrame, *lead: str) -> list[str]:
    """The unique block identity for joins/dedups: (term, first_doc)
    within one artifact — per-term ranges are disjoint by the
    range-partitioned writer — PLUS the ``seg`` tag when the frame
    comes from a live (tombstoned) segment stack: an upserted doc
    keeps its doc_id, so two segments can hold blocks with identical
    (term, first_doc) and only the segment disambiguates them."""
    return [*lead, "term", "first_doc"] + (
        ["seg"] if "seg" in df.columns else [])


# the block-row columns a decode needs (positions excluded: no
# Block-Max WAND scorer reads them)
BLOCK_COLS = ["term", "first_doc", "last_doc", "n", "max_tf", "min_dl",
              "docs", "tfs", "dls"]


def block_cols(df: DataFrame) -> DataFrame:
    """``df`` narrowed to BLOCK_COLS plus the live-stack ``seg`` tag."""
    return df.select(*BLOCK_COLS, *(["seg"] if "seg" in df.columns else []))


def overlaps():
    """Block [first_doc, last_doc] overlaps the doc range [rf, rl]."""
    return (F.col("first_doc") <= F.col("rl")) \
        & (F.col("last_doc") >= F.col("rf"))


def term_ranges(blocks: DataFrame, term: str) -> DataFrame:
    """The (rf, rl) doc ranges of ``term``'s blocks: every doc holding
    ``term`` lies in one of them."""
    return blocks.filter(F.col("term") == term).select(
        F.col("first_doc").alias("rf"), F.col("last_doc").alias("rl"))


def overlap_semi(side: DataFrame, ranges: DataFrame) -> DataFrame:
    """Rows of ``side`` overlapping some broadcast (rf, rl) doc range —
    the zipper's skip as a range semi-join over block metadata."""
    return side.join(F.broadcast(ranges), overlaps(), "left_semi")


# WAND seed bound: the grow-4x retry loop collects at most this many
# block RANGES to the driver (~16 B each), including on the FIRST
# iteration. A query so sparse that a 64k-block seed still holds < k
# matches falls back to one exact decode of the (range-pruned) block
# metadata, which needs no driver-side collect at all. The
# Block-Max WAND constants here are read by query/wand.py at call time.
SEED_BLOCK_CAP = 1 << 16

# Cost-based WAND cutoff: the seed/bounds machinery pays ~6 extra
# driver-scheduled jobs; decoding a block costs ~128 posting rows. When
# fewer than this many blocks exist (or could be pruned), one exact
# decode+score is cheaper than any pruning pass — the short-circuit
# that fixed the r02 no-skew regression (q_wand_single 3.82 s -> topk
# level). Tests and benches that MEASURE pruning pass 0 to force the
# full ladder regardless of corpus size.
WAND_MIN_PRUNE_BLOCKS = 256

# The DISJUNCTIVE ladder has no rarest-term pre-prune, so its fixed
# cost is higher (per-block bound self-range-join + the same ~6 jobs):
# measured at 800k docs / 2.5k blocks, the ladder ran 14.0 s against
# 3.4 s for one unpruned decode even while pruning 64% of blocks
# (tools/or_bench.py, BENCH.md §2ad) — block decode is too cheap at
# sandbox scale to amortize the scheduling. The cutoff is set where
# the ladder's fixed cost (~11 s) matches decode savings at gate
# hardware; the pruning RATIO is the scale signal that the ladder
# pays at true posting volumes.
WAND_OR_MIN_PRUNE_BLOCKS = 8192


class BlockSearchEngine:
    def __init__(self, spark: SparkSession, artifact: IndexArtifact):
        self.spark = spark
        self.artifact = artifact

    def _pruned_blocks(self, terms: list[str]) -> DataFrame:
        blocks = self.artifact.blocks(terms)
        if len(terms) > 1:
            dfs = {r["term"]: r["df"]
                   for r in self.artifact.term_stats(terms).collect()}
            if any(t not in dfs for t in terms):
                # a clause with zero postings -> conjunction is empty
                return blocks.filter(F.lit(False))
            rarest = min(terms, key=lambda t: (dfs[t], t))
            blocks = overlap_semi(blocks, term_ranges(blocks, rarest))
        return blocks

    def _engine(self, q: str,
                clauses: list[tuple[str, float]] | None = None,
                predicate: str | None = None) -> SearchEngine:
        """:meth:`_engine_on_blocks` over the bucket/term/range-pruned
        blocks of ``q``'s terms (``clauses`` overrides the parse)."""
        terms = sorted({t for t, _ in (clauses if clauses is not None
                                       else analyze_query(q))})
        return self._engine_on_blocks(self._pruned_blocks(terms), terms,
                                      predicate)

    def topk(self, q: str, k: int = 10, round_to: int | None = None,
             clauses: list[tuple[str, float]] | None = None) -> DataFrame:
        """``clauses`` overrides the analyzer parse — same contract as
        SearchEngine.topk (the lenient grammar's boosts must survive
        delegation verbatim, never a re-analysis of joined text)."""
        return self._engine(q, clauses).topk(q, k, round_to, clauses)

    def _batch_engine(self, queries: list[str]) -> SearchEngine | None:
        """One engine over the UNION of the batch's analyzed terms —
        one bucket/term-pruned block fetch + decode (None: no terms).

        NB: deliberately NOT _pruned_blocks — its rarest-term range
        pruning encodes ONE query's conjunction (and empties the set
        when any term is absent); the batch's queries are independent,
        so only bucket/term pruning applies here."""
        terms = sorted({t for q in queries for t, _ in analyze_query(q)})
        if not terms:
            return None
        return self._engine_on_blocks(self.artifact.blocks(terms), terms)

    def multi_topk(self, queries: list[str], k: int = 10,
                   round_to: int | None = None) -> DataFrame:
        """Batched multi-query top-k over the committed artifact
        (SearchEngine.multi_topk's semantics): ONE decode
        (:meth:`_batch_engine`), then the whole batch scores, conjoins,
        and ranks per query in a single plan — N queries, one job, one
        postings scan. The amortization evidence lives in
        tools/msearch_bench.py / BENCH.md."""
        eng = self._batch_engine(queries)
        if eng is None:
            return local_frame(self.spark, [], MULTI_TOPK_SCHEMA)
        return eng.multi_topk(queries, k, round_to)

    def multi_topk_or(self, queries: list[str], k: int = 10,
                      round_to: int | None = None,
                      min_match: int = 1) -> DataFrame:
        """Batched DISJUNCTIVE msearch over the committed artifact —
        same one-decode batch shape as :meth:`multi_topk` (bucket/term
        pruning only; per-query rarest-term or score pruning cannot
        batch), per-query semantics identical to the flat
        :meth:`SearchEngine.topk_or`."""
        eng = self._batch_engine(queries)
        if eng is None:
            return local_frame(self.spark, [], MULTI_TOPK_SCHEMA)
        return eng.multi_topk_or(queries, k, round_to, min_match=min_match)

    def _engine_on_blocks(self, blocks: DataFrame, terms: list[str],
                          predicate: str | None = None) -> SearchEngine:
        """Decode the given block rows (tombstones applied) and wrap a
        SearchEngine — final scoring is byte-identical to the flat
        engine/oracle regardless of which blocks were pruned.
        ``predicate`` restricts matches to qualifying fast-field docs
        (semi-join, like topk_filtered); BM25 stats stay corpus-global."""
        postings = apply_deletes(decode_blocks(block_cols(blocks)),
                                 self.artifact.deletes())
        if predicate is not None:
            qualifying = self.artifact.doc_stats().filter(
                F.expr(predicate)
            ).select("doc_id")
            postings = postings.join(qualifying, "doc_id", "left_semi")
        return SearchEngine(self.spark, InvertedIndex(
            postings=postings,
            term_stats=self.artifact.term_stats(terms),
            stats=self.artifact.stats(),
        ))

    def topk_wand(self, q: str, k: int = 10,
                  round_to: int | None = None,
                  min_prune_blocks: int | None = None,
                  predicate: str | None = None,
                  clauses: list[tuple[str, float]] | None = None
                  ) -> tuple[DataFrame, dict]:
        """Block-Max WAND top-k — EXACT results with score-based block
        pruning, for single terms AND conjunctions: the conjunctive
        ladder of query/wand.py over this one artifact (the ladder,
        its soundness argument and the ``min_prune_blocks`` cost
        cutoff, default WAND_MIN_PRUNE_BLOCKS, live there). Returns
        (result, stats) with blocks_total / blocks_decoded.

        ``predicate`` adds the fast-field filter (topk_filtered
        semantics — the Tantivy filtered-search shape) UNDER the same
        pruning: theta comes from the k-th FILTERED seed score, and
        every block bound upper-bounds the unfiltered score, hence also
        any filtered doc's score — filtering only tightens theta, so
        pruning stays sound and results match topk_filtered exactly.

        ``clauses`` overrides the analyzer parse (the topk_wand_or
        contract): the mixed engine's term-only route delegates its
        PARSED (term, boost) list here, because re-analyzing a joined
        string re-derives boosts the lenient grammar deliberately set
        differently (a quoted token folds to 1.0; raw-case rules are
        lost after lowercasing).
        """
        from prosearch_spark.query.wand import block_max_wand

        if clauses is None:
            clauses = analyze_query(q)
        terms = sorted({t for t, _ in clauses})

        def score(blocks: DataFrame, rt: int | None) -> DataFrame:
            return self._engine_on_blocks(blocks, terms, predicate).topk(
                q, k, rt, clauses=clauses)

        return block_max_wand(self.spark, [(None, self.artifact, 1.0)],
                              clauses, score, k, round_to,
                              min_prune_blocks, conjunctive=True)

    def topk_wand_or(self, q: str, k: int = 10,
                     round_to: int | None = None,
                     min_prune_blocks: int | None = None,
                     min_match: int = 1,
                     clauses: list[tuple[str, float]] | None = None
                     ) -> tuple[DataFrame, dict]:
        """DISJUNCTIVE Block-Max WAND top-k — match ANY clause, score =
        sum of matched contributions; the query shape the block-max
        skip structure was invented for (Ding & Suel 2011, PAPERS.md).
        The disjunctive ladder of query/wand.py (per-block bounds, no
        rarest-term zipper; cost cutoff default
        WAND_OR_MIN_PRUNE_BLOCKS).

        ``min_match`` adds minimum_should_match semantics (m-of-n):
        the per-block bounds dominate any clause subset's score, so
        the pruning argument is unchanged; only the final clause-count
        filter and the seed scoring apply the threshold. A partial doc
        can understate nmatch, but only below-theta docs decode
        partially, so nothing that belongs in the top-k is lost.
        """
        from prosearch_spark.query.wand import block_max_wand

        if clauses is None:
            clauses = analyze_query(q)
        terms = sorted({t for t, _ in clauses})

        def score(blocks: DataFrame, rt: int | None) -> DataFrame:
            return self._engine_on_blocks(blocks, terms).topk_or(
                q, k, round_to=rt, min_match=min_match, clauses=clauses)

        return block_max_wand(self.spark, [(None, self.artifact, 1.0)],
                              clauses, score, k, round_to,
                              min_prune_blocks, conjunctive=False)

    def topk_not(self, q: str, exclude: str, k: int = 10,
                 round_to: int | None = None) -> DataFrame:
        """BooleanQuery must_not over the committed artifact: the
        bucket/term/range-pruned conjunctive decode anti-joined with
        the excluded terms' postings (their lookup is bucket-pruned
        like any query term's; exclusion never scores — Occur::MustNot
        semantics)."""
        from prosearch_spark.query.engine import rank_topk

        ex_terms = sorted({t for t, _ in analyze_query(exclude)})
        d = self._engine(q)._docs_scored(q)
        if ex_terms:
            ex_docs = self.artifact.postings(ex_terms).select("doc_id")
            d = d.join(ex_docs, "doc_id", "left_anti")
        return rank_topk(d, k, round_to)

    def more_like_this(self, seed_doc_id: int, k: int = 10,
                       max_terms: int = 8, min_df: int = 2,
                       round_to: int | None = None,
                       min_prune_blocks: int | None = None,
                       text_col: str = "text"
                       ) -> tuple[DataFrame, dict]:
        """MoreLikeThis over a COMMITTED artifact — the production
        related-docs shape (serve.rs:336-453 navigation analog; the
        flat-engine twin is SearchEngine.more_like_this).

        This implements the flat docstring's own 100 TB recipe: the
        seed's term frequencies come from the DOC-STORE POINT FETCH
        (S5) + re-analysis (T1, the white_lower Python twin — one doc,
        driver-side, no postings-scale scan), NOT a postings filter:
        postings are bucketed by TERM, so "all postings of one doc"
        would scan every bucket. Selection scoring is Spark-side with
        ``MLT_TERM_EXPR`` — the ONE SQL string shared with the flat
        engine and the DuckDB oracle — over the bucket-pruned
        term_stats of the seed's own terms (<= one doc's vocabulary),
        so the selected seed-term set is identical to the flat path by
        construction (6dp grid, ties -> term ASC, df >= min_df).

        The final query is DISJUNCTIVE Block-Max WAND (topk_wand_or)
        with uniform boost 1.0, asked for k+1 hits; the seed row is
        then dropped and ranks renumbered. Exactness: topk_wand_or is
        exact under (rounded score DESC, doc_id ASC), and the top-k of
        corpus-minus-seed is precisely the first k of the global
        top-(k+1) with the seed removed — whether or not the seed made
        the list. Excluding AFTER an exact k+1 ranking keeps the WAND
        theta sound (a pre-exclusion theta seeded off the usually
        top-ranked seed doc would be too tight for the survivors).
        """
        from prosearch_spark.analyzer import white_lower_py
        from prosearch_spark.query.bm25 import MLT_TERM_EXPR
        from prosearch_spark.query.engine import TOPK_SCHEMA

        store = self.artifact.doc_store()
        if store is None:
            raise ValueError(
                "more_like_this needs a doc_store (write_doc_store with "
                "the analyzed text column) for the S5 seed fetch")
        rows = (store.filter(F.col("doc_id") == seed_doc_id)
                .select(text_col).collect())
        empty = (local_frame(self.spark, [], TOPK_SCHEMA),
                 {"blocks_total": 0, "blocks_decoded": 0})
        if not rows or rows[0][0] is None:
            return empty
        from collections import Counter
        tf = Counter(white_lower_py(rows[0][0]))
        if not tf:
            return empty
        seed_tf = local_frame(
            self.spark, [(t, int(c)) for t, c in sorted(tf.items())],
            "term string, tf long")
        sel = (
            self.artifact.term_stats(sorted(tf))
            .filter(F.col("df") >= min_df)
            .join(F.broadcast(seed_tf), "term")
            .crossJoin(F.broadcast(self.artifact.stats()))
            .withColumn("mscore", F.expr(MLT_TERM_EXPR))
            .orderBy(F.desc("mscore"), F.asc("term"))
            .limit(max_terms)
        )
        clauses = [(r["term"], 1.0) for r in sel.select("term").collect()]
        if not clauses:
            return empty
        hits, stats = self.topk_wand_or(
            "", k + 1, round_to=round_to,
            min_prune_blocks=min_prune_blocks, clauses=clauses)
        from pyspark.sql import Window
        out = (
            hits.filter(F.col("doc_id") != seed_doc_id)
            # <= k+1 rows: the harmless k-row rank window
            .withColumn("rank", F.row_number().over(
                Window.orderBy(F.asc("rank"))).cast("int"))
            .filter(F.col("rank") <= k)
            .select("rank", "doc_id", "score")
        )
        return out, stats

    def multi_more_like_this(self, seed_doc_ids: list[int], k: int = 10,
                             max_terms: int = 8, min_df: int = 2,
                             round_to: int | None = None,
                             text_col: str = "text") -> DataFrame:
        """Batched MLT over the COMMITTED artifact — related docs for a
        whole result page in three jobs (the msearch contract; per-seed
        semantics identical to :meth:`more_like_this` minus the WAND
        physical plan, so one oracle gates flat and committed):

        1. ONE doc-store scan fetches every seed's stored text
           (``doc_id IN (...)`` — row-group skippable), re-analyzed
           driver-side (|seeds| docs, the T1 Python twin);
        2. ONE selection job: the union of seed vocabularies against
           bucket-pruned term_stats, scored by the shared
           ``MLT_TERM_EXPR``, ranked per seed by a PARTITIONED window;
           the <= |seeds| x max_terms winners collect;
        3. ONE scoring job: the selected terms' blocks decode once
           (bucket/term-pruned) and the shared disjunctive batch tail
           runs (engine._multi_mlt_rank — per-seed exclusion is
           ``doc_id != query_id``).

        Returns (query_id, rank, doc_id, score), query_id = seed
        doc_id.
        """
        from collections import Counter

        from prosearch_spark.analyzer import white_lower_py
        from prosearch_spark.query.bm25 import MLT_TERM_EXPR

        store = self.artifact.doc_store()
        if store is None:
            raise ValueError(
                "multi_more_like_this needs a doc_store (write_doc_store"
                " with the analyzed text column) for the seed fetch")
        seeds = [int(s) for s in seed_doc_ids]
        srows = (store.filter(F.col("doc_id").isin(seeds))
                 .select("doc_id", text_col).collect())
        tf_rows = [
            (int(r["doc_id"]), t, int(c))
            for r in srows if r[text_col] is not None
            for t, c in sorted(Counter(white_lower_py(r[text_col])).items())
        ]
        empty = local_frame(self.spark, [], "query_id long, rank int, "
                            "doc_id long, score double")
        if not tf_rows:
            return empty
        seed_tf = local_frame(
            self.spark, tf_rows, "query_id long, term string, tf long")
        vocab = sorted({t for _q, t, _c in tf_rows})
        sel_rows = (
            self.artifact.term_stats(vocab)
            .filter(F.col("df") >= min_df)
            .join(F.broadcast(seed_tf), "term")
            .crossJoin(F.broadcast(self.artifact.stats()))
            .withColumn("mscore", F.expr(MLT_TERM_EXPR))
            .withColumn("mrank", F.row_number().over(
                Window.partitionBy("query_id")
                .orderBy(F.desc("mscore"), F.asc("term"))))
            .filter(F.col("mrank") <= max_terms)
            .select("query_id", "term")
            .collect()  # <= |seeds| x max_terms rows
        )
        if not sel_rows:
            return empty
        terms = sorted({r["term"] for r in sel_rows})
        eng = self._engine_on_blocks(self.artifact.blocks(terms), terms)
        sel = local_frame(
            self.spark, [(int(r["query_id"]), r["term"]) for r in sel_rows],
            "query_id long, term string")
        return eng._multi_mlt_rank(sel, k, round_to)

    def topk_filtered(self, q: str, predicate: str, k: int = 10,
                      round_to: int | None = None,
                      clauses: list[tuple[str, float]] | None = None
                      ) -> DataFrame:
        """Fast-field filtered top-k: matches are restricted by a SQL
        predicate over the typed doc_stats columns BEFORE ranking — the
        Tantivy fast-field collector filter (``fast:true`` columns,
        meta.json:34-46; typed-field options new.rs:136-231). The
        predicate is pushed into the doc_stats parquet scan (plan-
        pinned), then a semi-join keeps only qualifying docs; BM25
        stats (df/avgdl/N) stay corpus-global, exactly like a filtered
        Tantivy search."""
        return self._engine(q, clauses, predicate).topk(
            q, k, round_to, clauses=clauses)

    def count(self, q: str) -> DataFrame:
        return self._engine(q).count(q)

    def match_scan(self, q: str) -> DataFrame:
        return self._engine(q).match_scan(q)

    # -- committed-artifact paging / aggregation paths (r3 verdict 4) ------
    # Each is decode-then-flat-engine, exactly like topk: the
    # bucket/term-pruned block decode feeds the already-gated flat
    # operator, and group/value/date columns come from the artifact's
    # COLUMNAR fast fields (doc_stats), never a side-loaded corpus —
    # at 100 TB these read k buckets + a pruned doc_stats scan.

    def topk_after(self, q: str, k: int = 10,
                   round_to: int | None = None,
                   after: tuple[float, int] | None = None) -> DataFrame:
        """search_after pagination over the committed artifact."""
        return self._engine(q).topk_after(q, k, round_to, after)

    def terms_stats_agg(self, q: str, group_col: str,
                        value_col: str) -> DataFrame:
        """terms+stats agg tree over the artifact's fast fields."""
        return self._engine(q).terms_stats_agg(
            q, self.artifact.doc_stats(), group_col, value_col)

    def top_hits_by_group(self, q: str, group_col: str,
                          n_per_group: int = 3,
                          round_to: int | None = None) -> DataFrame:
        """Tantivy top_hits sub-aggregation over the COMMITTED
        artifact (round 6): the bucket/term-pruned decode feeds the
        flat per-group WindowGroupLimit algebra; the group key comes
        from the COLUMNAR fast-field doc_stats, never a side-loaded
        corpus. Pytest-pinned against the gated flat engine (the
        driver window is at capacity — the chunk/pack precedent)."""
        return self._engine(q).top_hits_by_group(
            q, self.artifact.doc_stats(), group_col, n_per_group,
            round_to)

    def collapse_topk(self, q: str, collapse_col: str, k: int = 10,
                      round_to: int | None = None) -> DataFrame:
        """Field collapsing over the COMMITTED artifact (round 6 —
        'one result per site' on the production deployment): pruned
        decode -> flat collapse algebra, collapse key from the
        fast-field doc_stats. Pytest-pinned against the gated flat
        engine."""
        return self._engine(q).collapse_topk(
            q, self.artifact.doc_stats(), collapse_col, k, round_to)

    def range_agg(self, q: str, value_col: str,
                  ranges: list[tuple[float | None, float | None]]
                  ) -> DataFrame:
        """ES/Tantivy range aggregation over the artifact's fast
        fields (half-open [lo, hi) buckets, ES overlap semantics)."""
        return self._engine(q).range_agg(
            q, self.artifact.doc_stats(), value_col, ranges)

    def percentiles_agg(self, q: str, value_col: str,
                        ps: list[float] | None = None,
                        round_to: int = 6) -> DataFrame:
        """Percentiles aggregation over the artifact's fast fields."""
        return self._engine(q).percentiles_agg(
            q, self.artifact.doc_stats(), value_col, ps, round_to)

    def percentiles_agg_approx(self, q: str, value_col: str,
                               ps: list[float] | None = None,
                               accuracy: int = 10000) -> DataFrame:
        """Sketch-based percentiles over the fast fields — the scale
        path (see SearchEngine.percentiles_agg_approx)."""
        return self._engine(q).percentiles_agg_approx(
            q, self.artifact.doc_stats(), value_col, ps, accuracy)

    def date_histogram(self, q: str, date_col: str) -> DataFrame:
        """Per-month date histogram over a Date fast field (Tantivy
        DateHistogramAggregation): pruned match set joined to the
        columnar doc_stats date, one groupBy."""
        m = self._engine(q).match_scan(q)
        ds = self.artifact.doc_stats().select("doc_id", date_col)
        return (
            m.join(ds, "doc_id")
            .withColumn("month",
                        F.date_format(F.date_trunc("month", date_col),
                                      "yyyy-MM-dd"))
            .groupBy("month").agg(F.count("*").alias("doc_count"))
            .orderBy("month")
        )

    def phrase_prefix_topk(self, phrase: str, prefix: str, k: int = 10,
                           round_to: int | None = None,
                           max_expansions: int | None = None) -> DataFrame:
        """Phrase + last-slot prefix (MultiPhraseQuery) over a
        committed POSITIONAL artifact (index/positions.phrase_prefix_topk):
        the prefix expands over the artifact's term_stats METADATA
        (vocabulary-sized parquet — no postings-scale shuffle), then
        ONLY the fixed + expansion terms' blocks decode."""
        from prosearch_spark.index.positions import phrase_prefix_topk

        return phrase_prefix_topk(
            self.spark, self.artifact.postings, self.artifact.stats(),
            self.artifact.term_stats(None), phrase, prefix, k, round_to,
            max_expansions)

    def facet_counts(self, q: str, facet_col: str = "facets") -> DataFrame:
        """Tantivy FacetCollector analog (r3 verdict 8): per facet PATH
        PREFIX, the number of matched docs carrying >= 1 facet under
        that prefix. Facets are '/'-separated paths in an array-typed
        fast field; every leading-segment prefix of every facet counts
        the doc once (dropDuplicates on (doc, path) — a doc with two
        facets under one subtree still counts once there, the Lucene
        doc-count rule). Prefix explosion multiplies rows by path
        depth (small constant); one distinct + one groupBy shuffle."""
        m = self._engine(q).match_scan(q)
        ds = self.artifact.doc_stats().select("doc_id", facet_col)
        segs = F.split(F.col("facet"), "/")
        pref = (
            ds.join(m, "doc_id", "left_semi")
            .select("doc_id", F.explode(facet_col).alias("facet"))
            .select("doc_id", F.explode(F.transform(
                F.sequence(F.lit(1), F.size(segs)),
                lambda i: F.concat_ws("/", F.slice(segs, F.lit(1), i)),
            )).alias("path"))
        )
        return (
            pref.dropDuplicates(["doc_id", "path"])
            .groupBy("path").agg(F.count("*").alias("doc_count"))
            .orderBy("path")
        )

    def mixed_topk(self, q: str, k: int = 10,
                   round_to: int | None = None,
                   return_stats: bool = False
                   ) -> DataFrame | tuple[DataFrame, dict]:
        """Mixed term + phrase + ``"..."~N`` query over a COMMITTED
        positional artifact — the one-source case of the staged mixed
        ladder (query/mixed.ladder_topk: term-only parses run
        topk_wand's conjunctive ladder with the parsed clauses; phrase
        coverage and first-match pruning before any term decode).
        ``return_stats=True`` also returns {blocks_total,
        blocks_decoded}."""
        from prosearch_spark.query.mixed import ladder_topk

        src = (None, self.artifact, 1.0)
        return ladder_topk(self.spark, [src], src, q, k, round_to,
                           return_stats)

    def multi_mixed_topk(self, queries: list[str], k: int = 10,
                         round_to: int | None = None) -> DataFrame:
        """Batched mixed msearch over a positional artifact — the
        one-source case of query/mixed.ladder_multi_topk (a fixed
        number of plans per batch: one position join per phrase
        length and chain). Per-query rows equal :meth:`mixed_topk`'s."""
        from prosearch_spark.query.mixed import ladder_multi_topk

        src = (None, self.artifact, 1.0)
        return ladder_multi_topk(self.spark, [src], src, queries, k,
                                 round_to)

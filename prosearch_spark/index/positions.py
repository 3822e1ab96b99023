"""Positional postings + phrase matching.

The reference indexes ``body`` with ``record:"position"`` — postings
carry docids + term freqs + token positions (meta.json:21-33;
inspect.rs:71-76 reports the positions store). Its own query front-end
never issues multi-term phrases (each token is quoted alone,
serve.rs:270-299), but the index supports them; a complete rebuild
should too.

Layout: ``(term, doc_id, tf, dl, positions array<int>)`` — positions
are 0-based token offsets, sorted. Phrase matching is pure relational
algebra: for terms t1..tn, a doc matches iff
``intersect_i (positions(t_i) - (i-1))`` is non-empty; the size of
that intersection is the PHRASE FREQUENCY, which scores as the tf of
a synthetic term (Lucene's PhraseQuery semantics: df of the phrase is
the number of docs containing it).

This module holds the position algebra only — the matchers
(phrase_matches, phrase_slop_matches, phrase_prefix_matches) and the
chain expressions they share with the batched mixed ladder (shifted,
phrase_freq, slop_chain). A phrase or ``"..."~N`` query is a mixed
query with one clause: its top-k is query/mixed.mixed_topk (flat) or an
engine's mixed_topk (committed). phrase_prefix_topk is the one
phrase-prefix top-k, for flat postings and committed artifacts alike.
"""

from __future__ import annotations

from collections.abc import Callable
from functools import reduce

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from prosearch_spark.analyzer import analyze_query


def positional_postings(docs: DataFrame, text_col: str = "text",
                        id_col: str = "doc_id") -> DataFrame:
    """(term, doc_id, tf, dl, positions) with the white_lower analyzer.

    Positions index the NON-EMPTY token sequence (0-based), matching
    white_lower_py enumeration.
    """
    from prosearch_spark.analyzer import white_lower_tokens

    # NB: positions must index the FILTERED token sequence, so the
    # empty-token filter has to happen BEFORE posexplode assigns
    # offsets — the flat row-filter-after-explode form used by
    # build.tokens() would leave gaps at empty slots. The array-level
    # HOF costs codegen on this projection; positional indexing is
    # opt-in and pays it knowingly (documented trade).
    toks = docs.select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(white_lower_tokens(text_col)).alias("pos", "term"),
    )
    per_term = toks.groupBy("doc_id", "term").agg(
        F.count("*").alias("tf"),
        F.array_sort(F.collect_list("pos")).alias("positions"),
    )
    return per_term.withColumn(
        "dl", F.sum("tf").over(Window.partitionBy("doc_id"))
    ).select("term", "doc_id", "tf", "dl", "positions")


def shifted(col: str, by: int) -> Column:
    """The position array ``col`` minus ``by`` — slot ``by``'s
    positions aligned to the phrase start."""
    # NB: single-parameter lambda — a second parameter would be bound
    # to the element index by F.transform
    return F.transform(col, lambda p: p - F.lit(by))


def phrase_freq(arrays: list[Column]) -> Column:
    """Phrase frequency: the size of the intersection of the slots'
    start-aligned position arrays (all JVM built-ins)."""
    return F.size(reduce(F.array_intersect, arrays))


# the greedy earliest ordered chain per start position (semantics and
# the greedy == exists proof: phrase_slop_matches) over position
# columns q0..q{n-1}; ``window`` is a literal bound or a column name, so
# batched clauses of different slops share one plan
_SLOP_CHAIN = (
    "size(filter(q0, start -> aggregate({arrs}, start, "
    "(acc, arr) -> CASE WHEN acc < 0 THEN -1 "
    "ELSE coalesce(array_min(filter(arr, x -> x > acc)), -1) END, "
    "acc -> acc >= 0 AND acc - start <= {window})))"
)


def slop_chain(n: int, window: int | str) -> Column:
    """Chain-start count of the ``n`` position columns q0..q{n-1}
    within ``window`` (= n - 1 + slop) position steps."""
    return F.expr(_SLOP_CHAIN.format(
        arrs="array(" + ", ".join(f"q{i}" for i in range(1, n)) + ")",
        window=window))


def _slot_sides(postings: DataFrame, terms: list[str]) -> list[DataFrame]:
    """One (doc_id, [dl,] p{i}) side per phrase slot: slot i's term
    postings with their positions shifted by i (slot 0 carries dl)."""
    return [postings.filter(F.col("term") == t).select(
        "doc_id", *(["dl"] if i == 0 else []), shifted("positions", i)
        .alias(f"p{i}")) for i, t in enumerate(terms)]


def _matched(sides: list[DataFrame], tf: Column) -> DataFrame:
    """(doc_id, dl, tf) over the doc_id equi-join of the slot sides,
    keeping docs with tf > 0."""
    return (
        reduce(lambda a, b: a.join(b, "doc_id"), sides)
        .withColumn("phrase_freq", tf)
        .filter(F.col("phrase_freq") > 0)
        .select("doc_id", "dl", F.col("phrase_freq").cast("long").alias("tf"))
    )


def phrase_matches(postings: DataFrame, phrase_terms: list[str]) -> DataFrame:
    """(doc_id, dl, tf = phrase frequency) for docs containing the
    exact phrase.

    n-way broadcast-friendly join on doc_id; the position algebra is
    array_intersect over shifted position arrays (phrase_freq).
    Duplicate terms in the phrase are handled naturally (each slot
    joins the same posting row, shifted differently).
    """
    if not phrase_terms:
        raise ValueError("empty phrase")
    return _matched(_slot_sides(postings, phrase_terms), phrase_freq(
        [F.col(f"p{i}") for i in range(len(phrase_terms))]))


def phrase_prefix_matches(postings: DataFrame, fixed_terms: list[str],
                          expansion_terms: list[str]) -> DataFrame:
    """(doc_id, dl, tf) for docs where ``fixed_terms`` align as a
    phrase and ANY of ``expansion_terms`` completes it at the final
    slot — Lucene MultiPhraseQuery / Tantivy PhrasePrefixQuery (the
    autocomplete shape). The last slot's positions are the per-doc
    UNION of the expansion terms' (shifted) positions; tf counts the
    start offsets where the phrase completes with some expansion.

    ``fixed_terms`` must be non-empty (a pure prefix query is
    query/expand.prefix_clauses + topk_or, scored per-term — a
    different, better shape for that case)."""
    if not fixed_terms:
        raise ValueError("phrase-prefix needs at least one fixed term; "
                         "use expand.prefix_clauses + topk_or instead")
    n = len(fixed_terms)
    if not expansion_terms:
        return (postings.select("doc_id", "dl")
                .withColumn("tf", F.lit(0).cast("long"))
                .filter(F.lit(False)))
    last = (
        postings.filter(
            F.col("term").isin(sorted(set(expansion_terms))))
        .select("doc_id", shifted("positions", n).alias("pl"))
        .groupBy("doc_id")
        .agg(F.array_sort(F.array_distinct(
            F.flatten(F.collect_list("pl")))).alias(f"p{n}"))
    )
    return _matched(_slot_sides(postings, fixed_terms) + [last], phrase_freq(
        [F.col(f"p{i}") for i in range(n + 1)]))


def phrase_prefix_topk(spark: SparkSession,
                       postings: Callable[[list[str]], DataFrame],
                       n_docs_avgdl: DataFrame, dictionary: DataFrame,
                       phrase: str, prefix: str, k: int = 10,
                       round_to: int | None = None,
                       max_expansions: int | None = None) -> DataFrame:
    """BM25 top-k for phrase + last-slot prefix. The prefix expands
    over ``dictionary`` (term, df) with the Lucene (df DESC, term ASC)
    cap — a flat build passes its postings grouped by term, a committed
    artifact its term_stats metadata (the FST dictionary-walk analog).
    ``postings(terms)`` returns the positional postings of the fixed +
    expansion terms. Scored as one synthetic phrase term (tf =
    completion count, df = matching-doc count) by the mixed ladder's
    phrase scorer."""
    from prosearch_spark.query.engine import materialize_topk, rank_topk
    from prosearch_spark.query.expand import MAX_EXPANSIONS, prefix_clauses
    from prosearch_spark.query.mixed import _phrase_scored

    terms = [t for t, _ in analyze_query(phrase)]
    exp = [t for t, _ in prefix_clauses(
        dictionary, prefix, max_expansions or MAX_EXPANSIONS)]
    pp = postings(sorted(set(terms) | set(exp)))
    if "positions" not in pp.columns:
        raise ValueError("artifact was not built with_positions=True")
    m = phrase_prefix_matches(pp, terms, exp).persist()
    try:
        phrase_df = m.count()
        scored = _phrase_scored(
            m.withColumn("df", F.lit(phrase_df)), None,
            n_docs_avgdl.select("n_docs", "avgdl",
                                F.lit(1.0).alias("fboost")), [])
        return materialize_topk(spark, rank_topk(
            scored.withColumnRenamed("s", "score"), k, round_to))
    finally:
        m.unpersist()


def phrase_slop_matches(postings: DataFrame, phrase_terms: list[str],
                        slop: int) -> DataFrame:
    """(doc_id, dl, tf) for ORDERED proximity matches of the phrase
    within ``slop`` extra position steps — Tantivy
    ``PhraseQuery::set_slop`` / Lucene sloppy-phrase territory
    (the reference's positional index supports it via the pinned
    Tantivy library, meta.json:21-33; its own front-end never sets
    slop, so this is index-capability parity).

    Semantics (ordered window, the precise rule both engines share):
    a doc matches iff there exist positions ``p1 < p2 < ... < pn``
    with ``p_i ∈ positions(t_i)`` and
    ``(p_n - p_1) - (n - 1) <= slop``; ``tf`` counts the DISTINCT
    start positions ``p1`` admitting such a chain. ``slop=0``
    degenerates to the exact phrase (the window forces the chain
    consecutive), so ``phrase_matches`` is the slop=0 special case —
    pinned by test. Order is required (no transpositions): this is
    the "ordered near/k" simplification, documented rather than
    Lucene's move-count edit distance.

    Plan shape = phrase_matches: n broadcast-friendly equi-joins on
    doc_id (each side one term's postings), then a PER-DOC
    higher-order expression — no position explode, no inequality join at scale.
    The Spark side evaluates the GREEDY earliest chain per start
    (``aggregate`` over the later terms' arrays, each step taking the
    smallest position > the previous). Greedy minimizes every
    intermediate and hence the final position among increasing chains,
    so greedy-success == exists-success — exactly the oracle's n-way
    inequality join (oracle_sql.phrase_slop_topk_sql). HOF lambdas are
    fine here: the positional path is opt-in and already pays codegen
    for array algebra (see positional_postings' note)."""
    if len(phrase_terms) < 2:
        raise ValueError("slop phrase needs >= 2 terms; a single term "
                         "is a plain term query")
    if slop < 0:
        raise ValueError("slop must be >= 0")
    n = len(phrase_terms)
    sides = [postings.filter(F.col("term") == t).select(
        "doc_id", *(["dl"] if i == 0 else []), F.col("positions")
        .alias(f"q{i}")) for i, t in enumerate(phrase_terms)]
    return _matched(sides, slop_chain(n, n - 1 + slop))

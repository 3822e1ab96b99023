"""Mixed term + phrase + slop queries: the flat lenient front-end and
the ONE ladder behind both block engines.

The reference parses user queries leniently (serve.rs:407-409) over a
positional index (meta.json:21-33) — so a complete rebuild must route a
query string like ``spark "join hash"`` to term BM25 for the bare
clause and phrase BM25 for the quoted one, conjunctively
(serve.rs:343-344), summing clause scores exactly like the flat
engine's per-clause sum. ``"..."~N`` (analyzer.parse_query_slop, a
strict superset of the lenient grammar) adds ORDERED proximity clauses
scored like phrases (tf = chain starts; index/positions).

:func:`mixed_topk` is the flat path and the only flat phrase / slop
top-k (a phrase query is a mixed query with one clause): one positional
posting table built from the documents serves both clause kinds (tf/dl
for term scoring, the position arrays for the phrase intersection), and
it scores and conjoins like the ladder below with one source of field
boost 1.0.

:func:`ladder_topk` / :func:`ladder_multi_topk` serve COMMITTED
artifacts. Like query/wand.py, a deployment is a list of ``(field,
artifact, field_boost)`` sources plus the positional ``body`` source;
a single-field engine is the one-source case ``[(None, artifact,
1.0)]`` with no ``field`` column, and its body is that source. Term
clauses score in every source (field_boost x clause boost x the
source's BM25, manifest-era df/N/avgdl); phrase and slop clauses score
in the body only — a record:"basic" field stores no positions — as
body_boost x synthetic-term BM25; a doc matches iff EVERY clause
matched (countDistinct(clause_id) == n_clauses: a term clause can emit
one row per field).

The staged ladder (one query):

  parse     parse_query_slop; ONE term-stats job picks each phrase's
            rarest term (body df) and empties the conjunction when a
            clause term has zero postings in every source. A
            term-only parse is a conjunction: it runs the conjunctive
            Block-Max WAND ladder (query/wand.py) with the PARSED
            clause list and this module's term scorer.
  cover     a phrase's body blocks decode only where they overlap the
            block ranges of its rarest term (a doc holding the phrase
            holds every phrase term, so phrase df stays exact). The
            union decodes ONCE with positions and persists.
  match     each exact / slop clause's match frame persists and counts
            (its df); a zero count empties the conjunction.
  prune     term-clause blocks of every source decode (without
            positions, per-source tombstones) only where they overlap
            the FIRST positional clause's match doc ids — collected
            capped at block_engine.SEED_BLOCK_CAP (read at call time)
            and merged into intervals. Over the cap, the first clause's
            rarest-term body ranges bound them instead: doc ids are
            shared by every field and every match holds that term in
            the body. Sound either way: a dropped row's doc cannot
            pass the clause-count conjunction.

The batched ladder (msearch) parses every member once and runs one
plan whose shape depends only on the batch's phrase LENGTHS: one term
pass over all sources; one body decode with positions, whose postings
join a broadcast (query_id, clause_id, slot, term) table and collect,
in ONE shuffle, each (query_id, clause_id, doc_id)'s position arrays in
slot order; per (phrase length, chain) one projection over that shared
exchange (exact: shifted array_intersect; slop: the greedy chain with
the window as a column); and one partitioned-window rank. A dead
member never empties the batch (no per-query exits), and single-query
pruning does not compose across members, so the batch decodes with
bucket/term pruning only.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from prosearch_spark.analyzer import parse_query_slop
from prosearch_spark.index.artifact import apply_deletes
from prosearch_spark.index.blocks import BLOCK_SIZE, decode_blocks
from prosearch_spark.index.positions import (
    phrase_freq,
    phrase_matches,
    phrase_slop_matches,
    positional_postings,
    shifted,
    slop_chain,
)
from prosearch_spark.query import block_engine as be
from prosearch_spark.query.bm25 import SCORE_EXPR
from prosearch_spark.query.engine import (
    MULTI_TOPK_SCHEMA,
    TOPK_SCHEMA,
    materialize_topk,
    rank_multi_topk,
    rank_topk,
)
from prosearch_spark.query.wand import _union_tagged, align_seg, block_max_wand
from prosearch_spark.session import local_frame


def build_positional(spark: SparkSession, docs: DataFrame,
                     text_col: str = "text", id_col: str = "doc_id"
                     ) -> tuple[DataFrame, DataFrame]:
    """(positional postings, one-row n_docs / avgdl / fboost stats) for
    mixed querying — the ladder's stats frame of one source at field
    boost 1.0.

    Stats match the flat index definition exactly: n_docs counts every
    doc (zero-token included), avgdl = total tokens / n_docs.
    """
    pp = positional_postings(docs, text_col=text_col, id_col=id_col)
    n_docs = docs.count()
    tok_total = pp.agg(F.sum("tf")).collect()[0][0] or 0
    avgdl = tok_total / n_docs if n_docs else 0.0
    stats = local_frame(spark, [(n_docs, float(avgdl), 1.0)],
                        "n_docs long, avgdl double, fboost double")
    return pp, stats


def mixed_topk(spark: SparkSession, docs: DataFrame, q: str, k: int = 10,
               round_to: int | None = None, text_col: str = "text",
               id_col: str = "doc_id") -> DataFrame:
    """BM25 top-k over ``docs`` for a query in the proximity grammar
    (analyzer.parse_query_slop): bare terms, quoted phrases and
    ``"..."~N`` ordered proximity clauses.

    score(d) = sum over term clauses of boost * bm25(term, d)
             + sum over phrase / slop clauses of bm25_phrase(clause, d)
    where a phrase or slop clause scores as one synthetic term (tf =
    phrase frequency or chain starts, df = matching docs) and a doc
    must match EVERY clause (conjunction by default). Scoring and the
    conjunction are the committed ladder's (_scored, _phrase_scored,
    countDistinct(clause_id)) over the one-source stats frame. The
    positional postings are built and persisted for this one call.
    """
    clauses = parse_query_slop(q)
    if not clauses:
        return local_frame(spark, [], TOPK_SCHEMA)
    term_rows = [(ci, c[0], c[1]) for ci, (kind, c) in enumerate(clauses)
                 if kind == "term"]

    pp, stats = build_positional(spark, docs, text_col, id_col)
    pp = pp.persist()
    persisted: list[DataFrame] = [pp]
    try:
        parts: list[DataFrame] = []
        if term_rows:
            terms = sorted({t for _ci, t, _b in term_rows})
            ts = (pp.filter(F.col("term").isin(terms))
                  .groupBy("term").agg(F.count("*").alias("df")))
            parts.append(_scored(
                pp.select("term", "doc_id", "tf", "dl")
                .join(F.broadcast(local_frame(
                    spark, term_rows,
                    "clause_id int, term string, boost double")), "term")
                .join(F.broadcast(ts), "term"), stats, [], ["clause_id"]))
        for ci, (kind, c) in enumerate(clauses):
            if kind == "term":
                continue
            m = (phrase_matches(pp, c) if kind == "phrase"
                 else phrase_slop_matches(pp, *c)).persist()
            persisted.append(m)
            phrase_df = m.count()
            if phrase_df == 0:
                return local_frame(spark, [], TOPK_SCHEMA)  # AND dead
            parts.append(_phrase_scored(
                m.select(F.lit(ci).alias("clause_id"), "doc_id", "dl", "tf",
                         F.lit(phrase_df).alias("df")),
                None, stats, ["clause_id"]))
        return materialize_topk(spark, rank_topk(
            _conj(reduce(lambda a, b: a.unionByName(b), parts), len(clauses)),
            k, round_to))
    finally:
        for df in persisted:
            df.unpersist()


# -- the committed-artifact ladder ---------------------------------------


def _lead(sources: list) -> list[str]:
    return [] if sources[0][0] is None else ["field"]


def _tag(field: str | None, df: DataFrame) -> DataFrame:
    return df if field is None else df.select(F.lit(field).alias("field"),
                                              "*")


def _positional_blocks(body: tuple, terms: list[str]) -> DataFrame:
    field, art, _boost = body
    blocks = art.blocks(terms)
    if "positions" not in blocks.columns:
        raise ValueError(
            "artifact was not built with_positions=True" if field is None
            else f"field '{field}' was not committed with positions "
                 "(save_fielded_index positional_fields)")
    return blocks


def _source_stats(sources: list) -> DataFrame:
    """[field,] n_docs, avgdl, fboost: each source's manifest stats and
    field boost. Built ONCE per query and shared by the term and phrase
    parts, so the plan broadcasts it once."""
    return _union_tagged(sources, lambda art, boost: art.stats().select(
        "n_docs", "avgdl", F.lit(float(boost)).alias("fboost")))


def _scored(rows: DataFrame, stats: DataFrame, lead: list[str],
            keys: list[str]) -> DataFrame:
    """(*keys, doc_id, s) from rows carrying [field,] tf, dl, df and
    the clause boost: s = field boost x BM25 (SCORE_EXPR)."""
    return (rows.join(F.broadcast(stats), lead or None)
            .withColumn("s", F.col("fboost") * F.expr(SCORE_EXPR))
            .select(*keys, "doc_id", "s"))


def _term_stats(sources: list, terms: list[str]) -> DataFrame:
    """[field,] term, df of ``terms`` in every source."""
    return _union_tagged(sources, lambda art, _b: art.term_stats(terms))


def _term_scored(sources: list, blocks: DataFrame, qdf: DataFrame,
                 ts: DataFrame, stats: DataFrame,
                 keys: list[str]) -> DataFrame:
    """(*keys, doc_id, s) for the term clauses of ``qdf`` (keys, term,
    boost) over the given (field-tagged when fielded) block rows: each
    source's blocks decode without positions, its tombstones applied,
    and score under the source's manifest-era df/N/avgdl (``ts`` =
    _term_stats covering the clause terms) — exact whichever blocks
    were pruned."""
    lead = _lead(sources)
    postings = reduce(lambda a, b: a.unionByName(b), [
        _tag(field, apply_deletes(decode_blocks(be.block_cols(
            blocks if field is None
            else blocks.filter(F.col("field") == field))), art.deletes())
            .select("term", "doc_id", "tf", "dl"))
        for field, art, _b in sources])
    return _scored(postings.join(F.broadcast(qdf), "term")
                   .join(F.broadcast(ts), [*lead, "term"]), stats, lead, keys)


def _phrase_scored(m: DataFrame, body_field: str | None, stats: DataFrame,
                   keys: list[str]) -> DataFrame:
    """(*keys, doc_id, s) from (*keys, doc_id, dl, tf, df) body match
    rows: body boost x synthetic-term BM25 at clause boost 1.0."""
    return _scored(_tag(body_field, m.withColumn("boost", F.lit(1.0))),
                   stats, [] if body_field is None else ["field"], keys)


def _conj(scored: DataFrame, n_clauses: int) -> DataFrame:
    """(doc_id, score) of the docs matching every clause: duplicate
    clauses carry distinct clause_ids and a term clause can emit one
    row per field, so the DISTINCT clause count decides."""
    return (
        scored.groupBy("doc_id")
        .agg(F.sum("s").alias("score"),
             F.countDistinct("clause_id").alias("nmatch"))
        .filter(F.col("nmatch") == n_clauses)
        .drop("nmatch")
    )


def _doc_ranges(ids: list[int]) -> list[tuple[int, int]]:
    """Sorted doc ids merged into (first, last) intervals — gap
    tolerance one block span: finer ranges cannot skip more blocks."""
    ranges: list[tuple[int, int]] = []
    lo = prev = ids[0]
    for d in ids[1:]:
        if d - prev > BLOCK_SIZE:
            ranges.append((lo, prev))
            lo = d
        prev = d
    ranges.append((lo, prev))
    return ranges


def ladder_topk(spark: SparkSession, sources: list, body: tuple, q: str,
                k: int = 10, round_to: int | None = None,
                return_stats: bool = False
                ) -> DataFrame | tuple[DataFrame, dict]:
    """Exact top-k of the mixed query ``q`` over committed artifacts
    through the staged ladder (module docstring). ``sources`` =
    [(field | None, artifact, field_boost)]; ``body`` is the
    positional source. ``return_stats=True`` also returns
    {blocks_total, blocks_decoded} over every touched block (two
    extra metadata count jobs; term-only parses return the WAND
    ladder's stats)."""
    clauses = parse_query_slop(q)
    n_clauses = len(clauses)
    term_rows = [(ci, c[0], c[1]) for ci, (kind, c) in enumerate(clauses)
                 if kind == "term"]
    # (clause_id, terms, slop | None) — None = exact phrase
    pos = [(ci, list(c), None) if kind == "phrase"
           else (ci, list(c[0]), int(c[1]))
           for ci, (kind, c) in enumerate(clauses) if kind != "term"]
    tc_terms = sorted({t for _ci, t, _b in term_rows})
    qdf = (local_frame(spark, term_rows,
                       "clause_id int, term string, boost double")
           if term_rows else None)

    def ret(df: DataFrame, stats: dict):
        return (df, stats) if return_stats else df

    empty = local_frame(spark, [], TOPK_SCHEMA)
    if not clauses:
        return ret(empty, {"blocks_total": 0, "blocks_decoded": 0})
    if not pos:
        stats = _source_stats(sources)
        ts = _term_stats(sources, tc_terms)

        def score(blocks: DataFrame, rt: int | None) -> DataFrame:
            return rank_topk(_conj(_term_scored(
                sources, blocks, qdf, ts, stats, ["clause_id"]), n_clauses),
                k, rt)

        return ret(*block_max_wand(
            spark, sources, [(t, b) for _ci, t, b in term_rows], score,
            k, round_to, None, conjunctive=True))

    lead = _lead(sources)
    body_field, body_art, _boost = body
    p_terms = sorted({t for _ci, pt, _s in pos for t in pt})
    all_terms = sorted(set(p_terms) | set(tc_terms))
    # every artifact frame is read ONCE per call (creating one lists its
    # partition dirs in a Spark job): the body blocks serve both clause
    # kinds, the collected term stats also score the term clauses
    body_blocks = _positional_blocks(body, all_terms)
    pblocks = (body_blocks.filter(F.col("term").isin(p_terms))
               if term_rows else body_blocks)
    term_blocks = (_union_tagged(sources, lambda art, _b: be.block_cols(
        body_blocks.filter(F.col("term").isin(tc_terms)) if art is body_art
        else art.blocks(tc_terms))) if term_rows else None)
    totals = [_tag(body_field, be.block_cols(pblocks))] + (
        [term_blocks] if term_rows else [])
    decoded: list[DataFrame] = []

    def block_stats() -> dict:
        if not return_stats:
            return {}

        def n(frames: list[DataFrame]) -> int:
            if not frames:
                return 0
            return reduce(lambda a, b: a.unionByName(b), [
                f.select(*be.block_key(f, *lead))
                for f in align_seg(frames)]).dropDuplicates().count()

        return {"blocks_total": n(totals), "blocks_decoded": n(decoded)}

    # ONE term-stats job: body df of the phrase terms, and whether every
    # term clause has a posting in some source (a phrase-only query
    # reads the body alone)
    body_df: dict[str, int] = {}
    seen: set[str] = set()
    stat_sources = sources if term_rows else [body]
    stats = _source_stats(stat_sources)
    ts = _term_stats(stat_sources, all_terms)
    for r in ts.collect():
        seen.add(r["term"])
        if body_field is None or r["field"] == body_field:
            body_df[r["term"]] = int(r["df"])
    if any(t not in body_df for t in p_terms) or any(
            t not in seen for t in tc_terms):
        return ret(empty, block_stats())  # a clause can never match

    def rarest(terms: list[str]) -> str:
        return min(set(terms), key=lambda t: (body_df[t], t))

    pieces = []
    for _ci, terms, _s in pos:
        side = pblocks.filter(F.col("term").isin(sorted(set(terms))))
        if len(set(terms)) > 1:
            side = be.overlap_semi(side, be.term_ranges(pblocks,
                                                        rarest(terms)))
        pieces.append(side)
    cover = reduce(lambda a, b: a.unionByName(b), pieces) \
        .dropDuplicates(be.block_key(pblocks))
    decoded.append(_tag(body_field, be.block_cols(cover)))
    pp = apply_deletes(decode_blocks(cover), body_art.deletes()).persist()
    persisted = [pp]
    try:
        parts: list[DataFrame] = []
        first = None
        for ci, terms, slop in pos:
            m = (phrase_matches(pp, terms) if slop is None
                 else phrase_slop_matches(pp, terms, slop)).persist()
            persisted.append(m)
            first = m if first is None else first
            phrase_df = m.count()
            if phrase_df == 0:
                return ret(empty, block_stats())  # AND dead
            parts.append(_phrase_scored(
                m.select(F.lit(ci).alias("clause_id"), "doc_id", "dl", "tf",
                         F.lit(phrase_df).alias("df")),
                body_field, stats, ["clause_id"]))
        if term_rows:
            cap = be.SEED_BLOCK_CAP
            ids = [r["doc_id"] for r in first.select("doc_id")
                   .orderBy("doc_id").limit(cap + 1).collect()]
            ranges = (local_frame(spark, _doc_ranges(ids),
                                  "rf long, rl long")
                      if len(ids) <= cap
                      else be.term_ranges(pblocks, rarest(pos[0][1])))
            need = be.overlap_semi(term_blocks, ranges)
            decoded.append(need)
            parts.append(_term_scored(sources, need, qdf, ts, stats,
                                      ["clause_id"]))
        out = materialize_topk(spark, rank_topk(
            _conj(reduce(lambda a, b: a.unionByName(b), parts), n_clauses),
            k, round_to))
        return ret(out, block_stats())
    finally:
        for df in persisted:
            df.unpersist()


def _chain_matches(rows: DataFrame, members: list, n: int,
                   exact: bool) -> DataFrame:
    """(query_id, clause_id, doc_id, dl, tf) for same-length positional
    clauses from their slot-collected rows (``sl`` = the (slot,
    positions) structs in slot order). Exact phrases intersect
    slot-shifted position arrays (array_intersect — never the greedy
    chain's filter / aggregate lambdas); slop clauses run the greedy
    chain with their window bound ``w`` as a broadcast column."""
    keys = ["query_id", "clause_id"]
    rows = rows.select(*keys, "doc_id", "dl", *[
        F.col("sl")[i]["positions"].alias(f"q{i}") for i in range(n)])
    if exact:
        tf = phrase_freq([F.col("q0")] + [shifted(f"q{i}", i)
                                          for i in range(1, n)])
    else:
        rows = rows.join(F.broadcast(local_frame(
            rows.sparkSession, [(qi, ci, w) for qi, ci, _t, w in members],
            "query_id int, clause_id int, w int")), keys)
        tf = slop_chain(n, "w")
    return (rows.withColumn("tf", tf.cast("long"))
            .filter(F.col("tf") > 0)
            .select(*keys, "doc_id", "dl", "tf"))


def ladder_multi_topk(spark: SparkSession, sources: list, body: tuple,
                      queries: list[str], k: int = 10,
                      round_to: int | None = None) -> DataFrame:
    """Batched mixed msearch (module docstring): (query_id, rank,
    doc_id, score), query_id = list position. Per-query rows equal
    :func:`ladder_topk`'s."""
    keys = ["query_id", "clause_id"]
    parsed = [parse_query_slop(q) for q in queries]
    term_rows = []  # (query_id, clause_id, term, boost)
    by_len: dict[int, list] = {}  # n -> [(query_id, clause_id, terms, w)]
    for qi, clauses in enumerate(parsed):
        for ci, (kind, c) in enumerate(clauses):
            if kind == "term":
                term_rows.append((qi, ci, c[0], c[1]))
            else:
                terms, w = ((list(c), None) if kind == "phrase"
                            else (list(c[0]), len(c[0]) - 1 + int(c[1])))
                by_len.setdefault(len(terms), []).append((qi, ci, terms, w))
    if not term_rows and not by_len:
        return local_frame(spark, [], MULTI_TOPK_SCHEMA)

    parts: list[DataFrame] = []
    stats = _source_stats(sources if term_rows else [body])
    if term_rows:
        terms = sorted({t for _q, _c, t, _b in term_rows})
        parts.append(_term_scored(
            sources,
            _union_tagged(sources, lambda art, _b: be.block_cols(
                art.blocks(terms))),
            local_frame(spark, term_rows, "query_id int, clause_id int, "
                        "term string, boost double"),
            _term_stats(sources, terms), stats, keys))
    if by_len:
        body_field, body_art, _boost = body
        pblocks = _positional_blocks(body, sorted(
            {t for g in by_len.values() for _q, _c, ts, _w in g for t in ts}))
        groups = [(n, exact, members) for n, group in sorted(by_len.items())
                  for exact in (True, False)
                  if (members := [g for g in group
                                  if (g[3] is None) == exact])]
        slots = local_frame(
            spark,
            [(gi, qi, ci, i, t) for gi, (_n, _e, members) in enumerate(groups)
             for qi, ci, terms, _w in members for i, t in enumerate(terms)],
            # NOT NULL: no branch can infer its own isnotnull filter
            # into this side and so split the shared exchange
            "grp int not null, query_id int not null, "
            "clause_id int not null, slot int not null, "
            "term string not null")
        # ONE body decode and ONE shuffle serve every positional clause
        # of the batch: each (query_id, clause_id, doc_id) collects its
        # slots' position arrays in slot order, and every group below
        # reads that one exchange (grp is aggregated, not grouped, so
        # the group filters stay above it)
        slotted = (
            apply_deletes(decode_blocks(pblocks), body_art.deletes())
            .join(F.broadcast(slots), "term")
            .groupBy(*keys, "doc_id")
            .agg(F.max("grp").alias("grp"), F.max("dl").alias("dl"),
                 F.sort_array(F.collect_list(
                     F.struct("slot", "positions"))).alias("sl"))
        )
        for gi, (n, exact, members) in enumerate(groups):
            # a doc missing a slot's term holds fewer than n slots
            m = _chain_matches(slotted.filter(
                (F.col("grp") == gi) & (F.size("sl") == n)), members, n,
                exact)
            # exact per-clause df (one row per matched doc), as a
            # window so the match rows are read once
            parts.append(_phrase_scored(
                m.withColumn("df", F.count("*").over(
                    Window.partitionBy(*keys))), body_field, stats, keys))

    ndf = local_frame(
        spark, [(qi, len(cls)) for qi, cls in enumerate(parsed) if cls],
        "query_id int, n_clauses int")
    # duplicate clauses carry distinct clause_ids, so the DISTINCT
    # count equals the clause count exactly when every clause matched
    d = (
        reduce(lambda a, b: a.unionByName(b), parts)
        .groupBy("query_id", "doc_id")
        .agg(F.sum("s").alias("score"),
             F.countDistinct("clause_id").alias("nmatch"))
        .join(F.broadcast(ndf), "query_id")
        .filter(F.col("nmatch") == F.col("n_clauses"))
    )
    return rank_multi_topk(d, k, round_to)

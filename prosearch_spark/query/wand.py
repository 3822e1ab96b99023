"""Block-Max WAND top-k over block-max skip data — the ONE ladder behind
BlockSearchEngine.topk_wand/topk_wand_or and
FieldedBlockSearchEngine.topk_wand/topk_wand_or (Ding & Suel 2011,
PAPERS.md; the relational form of the reference's BooleanQuery zipper
over block-max skip data, serve.rs:413-419; SURVEY.md §4.2/§7 stage 3).

A deployment is a list of ``(field, artifact, field_boost)`` sources.
A single-field engine is the one-source case ``[(None, artifact,
1.0)]``: its blocks carry no ``field`` column and its block key is
``block_key(df)``. A fielded engine tags every block with its
``field`` (key ``block_key(df, "field")``) and folds the field boost
into the block's upper bound. Engines pass in only their scorer,
``score(blocks, round_to)`` — decode the given block rows and rank
them exactly — so the ladder runs over block METADATA and never
decodes a block itself. Exactness therefore never depends on which
blocks were pruned, only on no qualifying doc losing a posting.

The ladder, shared by both query shapes:

  meta    every query-term block of every field, with
          ub = field_boost x BM25 block upper bound
          (blocks.block_upper_bound_expr), persisted for the query.
          ONE metadata job counts n_blocks and n_rarest.
  cutoff  below ``min_prune_blocks`` blocks the seed/bounds machinery
          (~6 extra scheduled jobs) costs more than decoding every
          block: one exact decode of meta (``short_circuit``). Tests
          and benches that MEASURE pruning pass 0.
  seed    the top-B candidate blocks by bound via orderBy(...).limit(B)
          — TakeOrderedAndProject (per-partition heaps + driver merge),
          NEVER a single-task global sort/window; every block
          overlapping their doc ranges decodes and theta = the k-th
          exact seed score. Under k seed hits, B grows 4x; past
          SEED_BLOCK_CAP ranges (the bound on EVERY driver collect,
          the first included) the query hands off to one exact decode
          (``seed_capped``). When B spans every candidate the seed
          result IS the answer and no second pass runs.
  eps     one FULL rounding step under round-before-rank, so
          round(pruned) < round(theta); raw mode (``round_to=None``)
          uses a relative 1e-9 guard against last-ulp divergence
          between the seed plan's theta and the final plan's sums —
          exact up to that guard, not bit-for-bit.
  prune   the shape's bound step (below) keeps the surviving blocks;
          those the seed did not decode (anti-join on the FULL block
          key: on a live stack an upserted doc keeps its id, so two
          segments can hold same-keyed blocks) decode with the seed
          blocks. When the pass cannot save ``min_prune_blocks``
          decodes it is skipped (``bounds_skipped``). Extra seed
          blocks are harmless: their docs score complete, below theta.

CONJUNCTIVE bound — the rarest query term (by total df over fields)
drives the zipper, like a DAAT intersection. A match contains it in
>= 1 field, so it lies inside one of its block ranges, and every
block holding one of its postings overlaps that range: blocks outside
every rarest range are dropped before anything runs, and the seed
candidates are the rarest term's blocks. Driver ranges split into <=
CHUNKS_PER_RANGE fixed strides of >= MIN_STRIDE docids (a sparse
driver block spanning the whole docid space would otherwise bound
with the GLOBAL maxima — 1577/1579 blocks decoded at 800k before the
split, 48% pruned after, BENCH.md §2e); chunks partition each range
exactly, so the argument holds with "chunk" for "range". A chunk
bounds every match inside it by

    bound(c) = sum_t w_t * sum_f max{ub(b) : b a (t, f)-block over c}

(w_t = the summed clause boosts on t; a doc can match t in both fields
and collect both). A chunk some term overlaps in NO field hosts no
match and dies — the zipper's skip. Chunks with bound < theta - eps
drop; blocks decode only where they overlap a surviving chunk. Every
posting of a doc inside a kept chunk decodes (one block per (t, f)
holds it), so its score is exact; a doc in a dropped chunk scores <=
bound < theta - eps while >= k seed docs score >= theta.

DISJUNCTIVE bound — no required term, so no zipper: every block is
its own candidate, ordered by wub = w_term x ub, and bounded by

    bound(b) = wub(b) + sum over groups g != group(b) of
               max{wub(b') : b' a g-block overlapping b}

with group = (field, term). A doc d scoring in group g has its posting
in exactly one g-block, which contains d and so overlaps every block
holding one of d's postings: each of d's blocks bounds d's full score.
If score(d) >= theta ALL of d's blocks survive (d decodes completely);
otherwise d scores <= bound < theta - eps. Partially decoded
survivors only UNDERSTATE sub-theta scores. ``min_match`` (m-of-n) is
a scorer concern: the bounds dominate any clause subset's score. One
metadata self-range-join over the query terms' blocks
(sum_t df_t / BLOCK_SIZE rows, never the corpus) computes every bound.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from prosearch_spark.index.blocks import BLOCK_SIZE, block_upper_bound_expr
from prosearch_spark.query import block_engine as be
from prosearch_spark.query.engine import TOPK_SCHEMA, materialize_topk

# conjunctive driver ranges split into at most this many strides
# before bounding, each at least MIN_STRIDE docids wide — narrow
# (healthy) driver blocks stay whole; the bounds join stays
# metadata-sized
CHUNKS_PER_RANGE = 64
MIN_STRIDE = BLOCK_SIZE * 16


def align_seg(frames: list[DataFrame]) -> list[DataFrame]:
    """Align per-field block frames on the optional ``seg`` tag before
    unionByName: a live (tombstoned) segment-stack field tags its
    blocks with the source segment while a clean field does not — the
    clean side gets seg='' (matches no tombstone; apply_deletes drops
    the column after the anti-join)."""
    if not any("seg" in f.columns for f in frames):
        return frames
    return [f if "seg" in f.columns else f.withColumn("seg", F.lit(""))
            for f in frames]


def _union_tagged(sources: list, frame_of) -> DataFrame:
    """Union of ``frame_of(artifact, field_boost)`` over the sources,
    each frame tagged with its ``field`` (the single-field source stays
    untagged)."""
    frames = []
    for field, art, boost in sources:
        f = frame_of(art, boost)
        frames.append(f if field is None
                      else f.select(F.lit(field).alias("field"), "*"))
    return reduce(lambda a, b: a.unionByName(b), align_seg(frames))


def _weight(weights: dict[str, float]) -> Column:
    """CASE column mapping ``term`` -> its summed clause boost."""
    items = list(weights.items())
    w = F.when(F.col("term") == items[0][0], F.lit(items[0][1]))
    for t, b in items[1:]:
        w = w.when(F.col("term") == t, F.lit(b))
    return w


def _and_survivors(meta: DataFrame, rarest: str, lead: list[str],
                   weights: dict[str, float], cut: float) -> DataFrame:
    """Blocks overlapping a driver chunk whose conjunctive bound
    reaches ``cut`` (the module docstring's CONJUNCTIVE bound)."""
    span = F.col("rl") - F.col("rf") + F.lit(1)
    stride = F.greatest(
        F.ceil(span / F.lit(CHUNKS_PER_RANGE)).cast("long"),
        F.lit(MIN_STRIDE).cast("long"))
    chunks = (
        be.term_ranges(meta, rarest).dropDuplicates()
        .select("rf", "rl", stride.alias("stride"), F.explode(F.sequence(
            F.lit(0).cast("long"),
            F.floor((span - F.lit(1)) / stride).cast("long"),
        )).alias("i"))
        .select(
            (F.col("rf") + F.col("i") * F.col("stride")).alias("rf"),
            F.least(F.col("rf") + (F.col("i") + F.lit(1)) * F.col("stride")
                    - F.lit(1), F.col("rl")).alias("rl"),
        )
        .dropDuplicates()
    )
    surviving = (
        meta.select(*lead, "term", "first_doc", "last_doc", "ub")
        .join(F.broadcast(chunks), be.overlaps())
        .groupBy("rf", "rl", "term", *lead).agg(F.max("ub").alias("mx"))
        .groupBy("rf", "rl", "term").agg(F.sum("mx").alias("fsum"))
        .withColumn("w", _weight(weights))
        .groupBy("rf", "rl")
        .agg(F.sum(F.col("w") * F.col("fsum")).alias("bound"),
             F.countDistinct("term").alias("nterms"))
        # a chunk missing ANY clause term (in every field) cannot host
        # a conjunctive match
        .filter(F.col("nterms") == len(weights))
        .filter(F.col("bound") >= F.lit(cut))
        .select("rf", "rl")
    )
    return be.overlap_semi(meta, surviving)


def _or_survivors(meta: DataFrame, lead: list[str],
                  cut: float) -> DataFrame:
    """Blocks whose own disjunctive bound reaches ``cut`` (the module
    docstring's DISJUNCTIVE bound; group = lead + term)."""
    rlead = [f"r_{c}" for c in lead]
    rkey = [*rlead, "rt", "rf", "rl", "rwub"]
    ra = meta.select(
        *[F.col(c).alias(r) for c, r in zip(lead, rlead)],
        F.col("term").alias("rt"), F.col("first_doc").alias("rf"),
        F.col("last_doc").alias("rl"), F.col("wub").alias("rwub"),
    )
    same_group = reduce(lambda acc, c: acc & (F.col(c) == F.col(f"r_{c}")),
                        lead, F.col("term") == F.col("rt"))
    osum = (
        meta.select(*lead, "term", "first_doc", "last_doc", "wub")
        .join(F.broadcast(ra), be.overlaps() & ~same_group)
        .groupBy(*rkey, "term", *lead).agg(F.max("wub").alias("mx"))
        .groupBy(*rkey).agg(F.sum("mx").alias("osum"))
    )
    surviving = (
        ra.join(osum, rkey, "left")
        .withColumn("bound",
                    F.col("rwub") + F.coalesce(F.col("osum"), F.lit(0.0)))
        .filter(F.col("bound") >= F.lit(cut))
        .select(*[F.col(r).alias(c) for c, r in zip(lead, rlead)],
                F.col("rt").alias("term"), F.col("rf").alias("first_doc"))
    )
    # decode set = the surviving blocks themselves (no driver-range
    # expansion: a qualifying doc's blocks each survive on their own).
    # On a live stack this semi-join may keep a same-keyed sibling from
    # another segment — an extra decode, never unsound
    return meta.join(F.broadcast(surviving), [*lead, "term", "first_doc"],
                     "left_semi")


def block_max_wand(spark: SparkSession, sources: list,
                   clauses: list[tuple[str, float]], score, k: int,
                   round_to: int | None, min_prune_blocks: int | None,
                   conjunctive: bool) -> tuple[DataFrame, dict]:
    """Exact top-k of ``score`` over the sources' blocks with
    Block-Max WAND pruning. ``sources`` = [(field | None, artifact,
    field_boost)]; ``score(blocks, round_to)`` ranks the given block
    rows. Returns (hits, stats): blocks_total / blocks_decoded /
    blocks_seed / blocks_final, plus short_circuit, seed_capped or
    bounds_skipped when that exit fired."""
    terms = sorted({t for t, _ in clauses})
    weights = {t: 0.0 for t in terms}
    for t, b in clauses:
        weights[t] += b
    empty = (spark.createDataFrame([], TOPK_SCHEMA),
            {"blocks_total": 0, "blocks_decoded": 0})
    if not terms:
        return empty
    lead = [] if sources[0][0] is None else ["field"]
    ts = _union_tagged(sources, lambda art, _b: art.term_stats(terms))
    blocks = _union_tagged(
        sources, lambda art, _b: be.block_cols(art.blocks(terms)))
    rarest = None
    if conjunctive:
        # ONE term-stats job serves the zero-posting check, the rarest
        # pick and the rarest-range pre-prune
        dfs: dict[str, int] = {}
        for r in ts.collect():
            dfs[r["term"]] = dfs.get(r["term"], 0) + r["df"]
        if len(dfs) < len(terms):
            # a clause with zero postings in every field: the
            # conjunction is empty
            return empty
        rarest = min(terms, key=lambda t: (dfs[t], t))
        if len(terms) > 1:
            blocks = be.overlap_semi(blocks,
                                     be.term_ranges(blocks, rarest))
    stats = _union_tagged(sources, lambda art, boost: art.stats().select(
        "n_docs", "avgdl", F.lit(float(boost)).alias("boost")))
    meta = (
        blocks.join(F.broadcast(ts), [*lead, "term"])
        .join(F.broadcast(stats), lead or None)
        .withColumn("ub", F.col("boost") * F.expr(block_upper_bound_expr()))
    )
    if not conjunctive:
        meta = meta.withColumn("wub", _weight(weights) * F.col("ub"))
    meta = meta.persist()
    if min_prune_blocks is None:
        min_prune_blocks = (be.WAND_MIN_PRUNE_BLOCKS if conjunctive
                            else be.WAND_OR_MIN_PRUNE_BLOCKS)
    try:
        # n_blocks and n_rarest from ONE metadata job (a second count
        # costs ~0.5 s of local-mode scheduling per query)
        is_r = F.col("term") == rarest if conjunctive else F.lit(False)
        cnt = meta.groupBy(is_r.alias("is_r")) \
            .agg(F.count("*").alias("n")).collect()
        n_blocks = sum(r["n"] for r in cnt)
        n_rarest = sum(r["n"] for r in cnt if r["is_r"])
        if n_blocks == 0:
            return empty
        if n_blocks < min_prune_blocks:
            # materialized so the finally-unpersist can't force a
            # recompute
            return materialize_topk(spark, score(meta, round_to)), {
                "blocks_total": n_blocks, "blocks_decoded": n_blocks,
                "blocks_seed": 0, "blocks_final": n_blocks,
                "short_circuit": True}

        if conjunctive:
            cands, by, n_cands = (meta.filter(F.col("term") == rarest),
                                  "ub", n_rarest)
        else:
            cands, by, n_cands = meta, "wub", n_blocks
        B = min(max(4, -(-k // BLOCK_SIZE) * 2), be.SEED_BLOCK_CAP)
        while True:
            covers_all = B >= n_cands
            # metadata-only heap rows (payload binaries excluded)
            ranges = [
                (r["first_doc"], r["last_doc"])
                for r in cands.select(by, "first_doc", "last_doc", *lead)
                .orderBy(F.desc(by), F.asc("first_doc"), *lead)
                .limit(B).collect()
            ]
            seed_blocks = be.overlap_semi(
                meta, spark.createDataFrame(ranges, "rf long, rl long"))
            # a seed spanning every candidate is final: score it under
            # the caller's rounding (theta is only needed to prune)
            seed_rows = score(seed_blocks,
                              round_to if covers_all else None).collect()
            if covers_all:
                n_seed = seed_blocks.count()
                return spark.createDataFrame(seed_rows, TOPK_SCHEMA), {
                    "blocks_total": n_blocks, "blocks_decoded": n_seed,
                    "blocks_seed": n_seed, "blocks_final": 0}
            if len(seed_rows) >= k:
                break
            B *= 4  # NOT 2x: fewer rounds, each bounded by the cap
            if min(B, n_cands) > be.SEED_BLOCK_CAP:
                return materialize_topk(spark, score(meta, round_to)), {
                    "blocks_total": n_blocks, "blocks_decoded": n_blocks,
                    "seed_capped": True}
        theta = min(r["score"] for r in seed_rows)
        eps = (10 ** (-round_to) if round_to is not None
               else 1e-9 * abs(theta))

        # n_seed is needed NOW only for the bounds-skip decision; with
        # the ladder forced (min_prune_blocks=0) that branch is dead and
        # the count folds into the final tagged count job
        n_seed = None
        if min_prune_blocks > 0:
            n_seed = seed_blocks.count()
            if n_blocks - n_seed < min_prune_blocks:
                return score(meta, round_to), {
                    "blocks_total": n_blocks, "blocks_decoded": n_blocks,
                    "blocks_seed": n_seed,
                    "blocks_final": n_blocks - n_seed,
                    "bounds_skipped": True}

        survivors = (
            _and_survivors(meta, rarest, lead, weights, theta - eps)
            if conjunctive else _or_survivors(meta, lead, theta - eps))
        key = be.block_key(seed_blocks, *lead)
        new_blocks = survivors.join(seed_blocks.select(*key), key,
                                    "left_anti")
        if n_seed is None:
            # ONE tagged count job for both stats figures
            cnts = seed_blocks.select(F.lit(True).alias("s")) \
                .unionByName(new_blocks.select(F.lit(False).alias("s"))) \
                .groupBy("s").agg(F.count("*").alias("n")).collect()
            n_seed = sum(r["n"] for r in cnts if r["s"])
            n_new = sum(r["n"] for r in cnts if not r["s"])
        else:
            n_new = new_blocks.count()
        return score(seed_blocks.unionByName(new_blocks), round_to), {
            "blocks_total": n_blocks, "blocks_decoded": n_seed + n_new,
            "blocks_seed": n_seed, "blocks_final": n_new}
    finally:
        meta.unpersist()

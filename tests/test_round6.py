"""Round 6: vector-stack lifecycle parity (snapshots / gc / delete
compaction / force_merge), IVF-leg hybrid, artifact MLT, SQ-within-IVF,
chunk/pack gating support. Mirrors test_segments.py's crash/gc/as_of
coverage on the vector side (r5 verdict item 1)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F


def _toy_emb(spark, n=30, dim=8):
    rows = [(i, [float(((i * 7 + j * 3) % 11) - 5) for j in range(dim)])
            for i in range(n)]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


QVEC = [1.0, -2.0, 0.5, 3.0, -1.0, 0.0, 2.0, -0.5]


def _stack(spark, tmp_path, name="vstack"):
    """commit ids 0..19 (gen-1 vecs), upsert ids 10..29 (reversed) —
    the canonical tombstoned two-segment stack."""
    from prosearch_spark.index.vectors import VectorSegments

    old = _toy_emb(spark, n=20)
    new = _toy_emb(spark, n=30).filter(F.col("vec_id") >= 10).select(
        "vec_id", F.reverse("embedding").alias("embedding"))
    segs = VectorSegments(spark, str(tmp_path / name))
    segs.commit(old)
    segs.upsert(new)
    expected = old.filter(F.col("vec_id") < 10).unionByName(new)
    return segs, expected


def test_vector_force_merge_applies_tombstones_physically(
        spark, tmp_path):
    """force_merge rewrites the live rows as ONE clean segment; the
    merged pointer serves bit-identical top-k, and the new segment
    physically excludes tombstoned rows (no anti-join needed to get
    the right count from its parquet alone)."""
    from prosearch_spark.ops.similarity import cosine_topk

    segs, expected = _stack(spark, tmp_path)
    want = [tuple(r) for r in
            cosine_topk(expected, QVEC, 8, round_to=6).collect()]
    before = [tuple(r) for r in segs.topk(QVEC, 8, round_to=6).collect()]
    assert before == want
    name = segs.force_merge()
    assert segs.segment_names() == [name]
    raw = spark.read.parquet(segs._seg_path(name))
    assert raw.count() == 30  # dead rows gone from the bytes
    after = [tuple(r) for r in segs.topk(QVEC, 8, round_to=6).collect()]
    assert after == want


def test_vector_gc_sweeps_segments_and_compacts_deletes(spark, tmp_path):
    """gc removes merged-away segment dirs AND compacts the delete
    dir: rows referencing swept segments are dropped, the pointer
    swaps to the new (here: empty -> absent) dir, and the old
    append-forever dir is gone — the r5 unbounded-growth hole."""
    segs, expected = _stack(spark, tmp_path)
    old_deletes = segs._deletes_dir()
    assert segs._deletes().count() == 10  # ids 10..19 tombstoned in seg 1
    segs.force_merge()
    removed = segs.gc()
    assert len(removed) == 2  # both pre-merge segments swept
    assert segs._deletes() is None  # every delete row referenced them
    assert not os.path.exists(old_deletes)
    # serving is unaffected
    from prosearch_spark.ops.similarity import cosine_topk
    want = [tuple(r) for r in
            cosine_topk(expected, QVEC, 8, round_to=6).collect()]
    assert [tuple(r) for r in segs.topk(QVEC, 8, round_to=6).collect()] \
        == want
    # a later upsert re-creates a delete dir under the NEW pointer name
    segs.upsert(_toy_emb(spark, n=31).filter(F.col("vec_id") == 30))
    assert segs.segment_names() != []


def test_vector_as_of_time_travel_and_snapshot_scope(spark, tmp_path):
    """as_of(gen) pins segment MEMBERSHIP; tombstones stay read-time
    and index-wide (the lexical snapshot scope): a snapshot taken
    before an upsert still hides the rows that upsert tombstoned,
    because its old segment carries the delete rows."""
    from prosearch_spark.index.vectors import VectorSegments
    from prosearch_spark.ops.similarity import cosine_topk

    old = _toy_emb(spark, n=20)
    segs = VectorSegments(spark, str(tmp_path / "vstack"))
    segs.commit(old)
    gen1 = segs._pointer()["gen"]
    new = _toy_emb(spark, n=30).filter(F.col("vec_id") >= 10).select(
        "vec_id", F.reverse("embedding").alias("embedding"))
    segs.upsert(new)
    # snapshot membership = seg 1 only; ids 10..19 are tombstoned
    # index-wide, so the snapshot serves ids 0..9 only
    snap = segs.as_of(gen1)
    assert sorted(r["vec_id"] for r in snap.live().collect()) \
        == list(range(10))
    want = [tuple(r) for r in
            cosine_topk(old.filter(F.col("vec_id") < 10), QVEC, 5,
                        round_to=6).collect()]
    assert [tuple(r) for r in snap.topk(QVEC, 5, round_to=6).collect()] \
        == want
    # unknown gen -> explicit error
    with pytest.raises(ValueError, match="no snapshot recorded"):
        segs.as_of(999)


def test_vector_gc_retain_history_keeps_snapshots_readable(
        spark, tmp_path):
    """gc(retain_history=N) keeps the last N snapshots' segments (and
    history files) readable; plain gc() expires them and as_of then
    raises the gc-expired error."""
    segs, _expected = _stack(spark, tmp_path)
    pre_merge_gen = segs._pointer()["gen"]
    segs.force_merge()
    # retain the pre-merge snapshot: nothing may be swept (both old
    # segments are referenced by a retained gen)
    assert segs.gc(retain_history=len(segs.history())) == []
    snap = segs.as_of(pre_merge_gen)
    assert snap.live().count() == 30
    # expire everything but the current pointer (gc's deletes
    # compaction publishes one more gen with identical membership, so
    # history holds the pre-gc current gen plus the compaction gen)
    removed = segs.gc()
    assert len(removed) == 2
    assert pre_merge_gen not in segs.history()
    with pytest.raises(ValueError, match="no snapshot recorded"):
        segs.as_of(pre_merge_gen)
    assert segs.as_of(segs._pointer()["gen"]).live().count() == 30


def test_pack_sequences_sharded_equals_single_stream_and_scales(spark):
    """Auto-shard packing (r5 verdict What's wrong #3): n_shards=1 is
    bit-identical to the unsharded global stream; n_shards=4 covers
    every chunk exactly once with globally dense, shard-disjoint pack
    ids, and the cumsum window is PARTITIONED in the plan (the
    single-partition global window is gone)."""
    from itertools import combinations

    from prosearch_spark.ops.curate import chunk_documents, pack_sequences

    docs = spark.createDataFrame(
        [(i, " ".join(f"t{i}w{j}" for j in range(5 + (i * 13) % 40)))
         for i in range(60)],
        "doc_id long, text string")
    chunks = chunk_documents(docs, chunk_tokens=8, stride=8,
                             content_col="text")

    def norm(rows):
        return sorted((r["doc_id"], r["chunk_idx"], r["n_tokens"],
                       r["pack_id"], r["offset"], r["spans_boundary"])
                      for r in rows)

    single = pack_sequences(chunks, 32).collect()
    one_shard = pack_sequences(chunks, 32, n_shards=1).collect()
    assert norm(one_shard) == norm(single)

    sharded = pack_sequences(chunks, 32, n_shards=4)
    rows = sharded.collect()
    assert sorted((r["doc_id"], r["chunk_idx"]) for r in rows) \
        == sorted((r["doc_id"], r["chunk_idx"])
                  for r in chunks.select("doc_id", "chunk_idx").collect())
    ids_per_shard: dict = {}
    for r in rows:
        ids_per_shard.setdefault(r["stratum"], set()).add(r["pack_id"])
    for a, b in combinations(ids_per_shard, 2):
        assert not (ids_per_shard[a] & ids_per_shard[b])
    # within a shard, START ids are dense from its offset; the ceil
    # reservation may leave at most ONE unstarted slot at the shard's
    # end (a boundary-spanning final chunk occupies it) — that is the
    # documented padding slack, bounded by n_shards
    ranges = sorted((min(s), max(s)) for s in ids_per_shard.values())
    prev_end = -1
    for lo, hi in ranges:
        assert lo - prev_end in (1, 2), ranges  # gap <= 1 reserved slot
        shard_ids = next(s for s in ids_per_shard.values()
                         if min(s) == lo)
        assert shard_ids == set(range(lo, hi + 1))  # dense per shard
        prev_end = hi
    # per-shard packing law: offset == (cumsum before) mod context
    # within the shard's hash order — spot-check via recompute
    plan = sharded._jdf.queryExecution().executedPlan().toString()
    assert "windowspecdefinition(shard" in plan, plan


def test_hybrid_ivf_fused_plan_prunes_partitions(spark, corpus, tmp_path):
    """hybrid_topk_ivf: the FUSED plan still carries the IVF probe's
    PartitionFilters (the non-probed bucket dirs are never read even
    under the fusion join), the lexical leg rides WAND, and the result
    equals the manual rrf_fuse(topk_wand, artifact.topk) composition."""
    from prosearch_spark.index.artifact import save_index
    from prosearch_spark.index.vectors import save_vector_index
    from prosearch_spark.query.block_engine import BlockSearchEngine
    from prosearch_spark.query.hybrid import hybrid_topk_ivf, rrf_fuse

    art = save_index(spark, corpus, str(tmp_path / "lex"),
                     text_col="content")
    emb = _toy_emb(spark, n=40)
    vart = save_vector_index(spark, emb, str(tmp_path / "vec"),
                             n_centroids=4)
    eng = BlockSearchEngine(spark, art)
    fused = hybrid_topk_ivf(eng, vart, "join hash", QVEC, k=10,
                            depth=20, n_probe=2, round_to=6)
    plan = fused._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "bucket" in plan, plan
    lex, _stats = eng.topk_wand("join hash", 20, round_to=6)
    sem = vart.topk(QVEC, 20, n_probe=2, round_to=6) \
        .withColumnRenamed("vec_id", "doc_id")
    want = [tuple(r) for r in rrf_fuse(lex, sem, k=10,
                                       round_to=6).collect()]
    assert [tuple(r) for r in fused.collect()] == want


def test_vector_streaming_sink_then_lifecycle(spark, tmp_path):
    """The streaming sink's stack supports the full lifecycle: ingest
    batches, force_merge + gc, and the live query is unchanged —
    the ingest-bench shape (tools/segment_bench.py's vector row)."""
    from prosearch_spark.streaming.ingest import VectorStreamingIndexer

    ix = VectorStreamingIndexer(spark, str(tmp_path / "vsink"))
    b0 = _toy_emb(spark, n=12)
    b1 = _toy_emb(spark, n=24).filter(F.col("vec_id") >= 6).select(
        "vec_id", F.reverse("embedding").alias("embedding"))
    ix.process_batch(b0, 0)
    ix.process_batch(b1, 1)
    before = [tuple(r) for r in ix.segs.topk(QVEC, 6, round_to=6).collect()]
    merged = ix.segs.force_merge()
    # re-delivery between the merge and gc: batch 1's dir is still on
    # disk and a recorded snapshot published it — done, not re-adopted
    ix.process_batch(b1, 1)
    assert ix.segs.segment_names() == [merged]
    assert ix.segs.live().count() == 24
    ix.segs.gc()
    assert len(ix.segs.segment_names()) == 1
    assert ix.segs._deletes() is None
    assert [tuple(r) for r in ix.segs.topk(QVEC, 6, round_to=6).collect()] \
        == before
    # re-delivery of a batch whose segment was merged away re-upserts
    # (the pointer no longer names it) — physically a new segment, but
    # the LIVE content is unchanged: content-level idempotence, the
    # same property the lexical sink has post-compaction
    ix.process_batch(b1, 1)
    assert [tuple(r) for r in ix.segs.topk(QVEC, 6, round_to=6).collect()] \
        == before


def test_artifact_mlt_matches_flat_and_routes(spark, corpus, tmp_path):
    """MoreLikeThis over the committed artifact (r5 verdict item 4):
    seed terms from the doc-store point fetch + re-analysis, final
    query via disjunctive WAND with the seed dropped AFTER the exact
    k+1 ranking — must reproduce the flat engine's MLT exactly, and
    the router must expose it."""
    from prosearch_spark.index.artifact import save_index
    from prosearch_spark.index.build import build_index
    from prosearch_spark.query.block_engine import BlockSearchEngine
    from prosearch_spark.query.engine import SearchEngine
    from prosearch_spark.query.serve import ArtifactSearcher

    flat = SearchEngine(spark, build_index(corpus, text_col="content"))
    art = save_index(spark, corpus, str(tmp_path / "mlt_art"),
                     text_col="content")

    # no doc_store yet -> the S5 seed fetch must refuse, not scan
    with pytest.raises(ValueError, match="doc_store"):
        BlockSearchEngine(spark, art).more_like_this(3, 5)

    art.write_doc_store(corpus, ["content"])
    be = BlockSearchEngine(spark, art)
    for seed in (3, 17):
        want = [tuple(r) for r in flat.more_like_this(
            seed, 7, max_terms=6, min_df=2, round_to=6).collect()]
        # forced-pruning plan and the short-circuit plan both match
        for mpb in (0, None):
            got, _stats = be.more_like_this(
                seed, 7, max_terms=6, min_df=2, round_to=6,
                min_prune_blocks=mpb, text_col="content")
            assert [tuple(r) for r in got.collect()] == want
    hits, plan = ArtifactSearcher(spark, art, body_col="content") \
        .more_like_this(3, 7, round_to=6, max_terms=6, min_df=2)
    assert plan == "mlt_wand_or"
    assert [tuple(r) for r in hits.collect()] == [
        tuple(r) for r in flat.more_like_this(
            3, 7, max_terms=6, min_df=2, round_to=6).collect()]


def test_sq_within_ivf_prunes_and_reads_codes_only(spark, tmp_path):
    """VectorArtifact.sq_topk (r5 verdict item 6): the candidate scan
    carries the probe's PartitionFilters AND projects only
    (vec_id, code) — never the float32 embeddings; the exact re-rank
    equals brute-force cosine restricted to the integer-dot winners."""
    from prosearch_spark.index.vectors import save_vector_index
    from prosearch_spark.ops.similarity import cosine_topk

    emb = _toy_emb(spark, n=60)
    art = save_vector_index(spark, emb, str(tmp_path / "sqivf"),
                            n_centroids=4)
    assert art.manifest["gmax"] > art.manifest["gmin"]

    out = art.sq_topk(QVEC, k=5, n_probe=2, candidates=12, round_to=6)
    rows = out.collect()
    assert [r["rank"] for r in rows] == list(range(1, 6))

    # plan pin: partition pruning + code-only projection on the
    # candidate pass (the embedding column must not be read there)
    buckets = art.probe_buckets(QVEC, 2)
    probed = art.vectors().filter(F.col("bucket").isin(buckets))
    qcodes = F.array(*[F.lit(0).cast("long")] * 8)
    codes = F.transform(F.col("code"), lambda c: c.cast("long") + F.lit(128))
    cand_plan = (
        probed.select("vec_id", F.aggregate(
            F.zip_with(codes, qcodes, lambda a, b: a * b),
            F.lit(0).cast("long"), lambda acc, v: acc + v).alias("s"))
        ._jdf.queryExecution().executedPlan().toString())
    assert "PartitionFilters" in cand_plan and "bucket" in cand_plan
    scan_schema = cand_plan[cand_plan.index("ReadSchema"):].splitlines()[0]
    assert "code" in scan_schema and "embedding" not in scan_schema, \
        scan_schema

    # semantics: exact cosine over the ADC candidate set (quantized
    # doc codes x the raw unit query — asymmetric, bias-free)
    import math
    qn = math.sqrt(sum(x * x for x in QVEC))
    qunit = [x / qn for x in QVEC]
    dcodes = F.transform(F.col("code"),
                         lambda c: c.cast("double") + F.lit(128.0))
    cand_ids = [r["vec_id"] for r in
                probed.select("vec_id", F.aggregate(
                    F.zip_with(
                        dcodes,
                        F.array(*[F.lit(x) for x in qunit]),
                        lambda a, b: a * b),
                    F.lit(0.0),
                    lambda acc, v: acc + v).alias("sq"))
                .orderBy(F.desc("sq"), F.asc("vec_id")).limit(12)
                .collect()]
    want = [(r["rank"], r["vec_id"], r["cosine"]) for r in cosine_topk(
        probed.filter(F.col("vec_id").isin(cand_ids)), QVEC, 5,
        round_to=6).collect()]
    assert [(r["rank"], r["vec_id"], r["cosine"]) for r in rows] == want


def test_vector_artifact_multi_topk_batches_and_prunes(spark, tmp_path):
    """VectorArtifact.multi_topk: one scan of the UNION of probed
    bucket dirs (PartitionFilters survive the batch joins), each row
    scores only against the queries that probed its bucket, and every
    per-query slice equals the single-query topk."""
    from prosearch_spark.index.vectors import save_vector_index

    emb = _toy_emb(spark, n=80)
    art = save_vector_index(spark, emb.filter(F.col("vec_id") >= 4),
                            str(tmp_path / "mivf"), n_centroids=5)
    qs = emb.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv"))
    batch = art.multi_topk(qs, k=6, n_probe=2, round_to=6)
    plan = batch._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "bucket" in plan, plan

    got = {}
    for r in batch.collect():
        got.setdefault(r["query_id"], []).append(
            (r["rank"], r["vec_id"], r["cosine"]))
    qrows = qs.collect()
    assert set(got) == {r["query_id"] for r in qrows}
    for r in qrows:
        single = [(x["rank"], x["vec_id"], x["cosine"]) for x in art.topk(
            [float(v) for v in r["qv"]], 6, n_probe=2,
            round_to=6).collect()]
        assert got[r["query_id"]] == single, r["query_id"]


def test_sq_candidates_are_norm_invariant(spark, tmp_path):
    """Regression for the symmetric-quantization bias: large-norm
    distractors pointing AWAY from the query must not crowd out
    small-norm vectors pointing AT it. Before the ADC fix the
    candidate dot carried a per-candidate code-sum bias and recall
    collapsed to 0 on clustered corpora (tools/vector_bench.py)."""
    from prosearch_spark.index.vectors import save_vector_index
    from prosearch_spark.ops import similarity as sim

    q = [1.0, 0.0, 0.0, 0.0]
    rows = [(0, q)]
    # ids 1..8: tiny norm, almost exactly the query direction
    for i in range(1, 9):
        rows.append((i, [0.01, 0.0001 * i, 0.0, 0.0]))
    # ids 9..40: huge norm, ~45 degrees off
    for i in range(9, 41):
        rows.append((i, [50.0, 50.0, 0.1 * i, 0.0]))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    exact = [r["vec_id"] for r in sim.cosine_topk(
        emb.filter("vec_id != 0"), q, 5, round_to=6).collect()]
    flat = [r["vec_id"] for r in sim.sq_topk(
        emb, query_id=0, k=5, candidates=8).collect()]
    assert flat == exact  # candidate set must keep the on-axis docs

    art = save_vector_index(spark, emb.filter(F.col("vec_id") != 0),
                            str(tmp_path / "sqnorm"), n_centroids=2)
    ivf = [r["vec_id"] for r in art.sq_topk(
        q, k=5, n_probe=2, candidates=8, round_to=6).collect()]
    assert ivf == exact


def test_multi_mlt_equals_per_seed_single(spark, corpus, tmp_path):
    """Batched MLT (flat AND committed) must reproduce per-seed
    single-query MLT exactly — same selection grid, same disjunctive
    scoring, same exclusion — with query_id = seed doc_id."""
    from prosearch_spark.index.artifact import save_index
    from prosearch_spark.index.build import build_index
    from prosearch_spark.query.block_engine import BlockSearchEngine
    from prosearch_spark.query.engine import SearchEngine

    seeds = [3, 17, 40]
    flat = SearchEngine(spark, build_index(corpus, text_col="content"))
    singles = {
        s: [(r["rank"], r["doc_id"], r["score"]) for r in
            flat.more_like_this(s, 6, max_terms=5, min_df=2,
                                round_to=6).collect()]
        for s in seeds}

    def group(df):
        out = {}
        for r in df.collect():
            out.setdefault(r["query_id"], []).append(
                (r["rank"], r["doc_id"], r["score"]))
        return out

    batch = group(flat.multi_more_like_this(seeds, 6, max_terms=5,
                                            min_df=2, round_to=6))
    assert batch == singles

    art = save_index(spark, corpus, str(tmp_path / "mmlt"),
                     text_col="content")
    art.write_doc_store(corpus, ["content"])
    be = BlockSearchEngine(spark, art)
    bb = group(be.multi_more_like_this(seeds, 6, max_terms=5, min_df=2,
                                       round_to=6, text_col="content"))
    assert bb == singles


def test_searcher_serves_hybrid_and_batched_mlt(spark, corpus, tmp_path):
    """ArtifactSearcher with a vector deployment routes hybrid (single
    + batched) through the partition-pruned IVF leg, and msearch_mlt
    through the batched committed MLT — each equal to the direct
    engine composition."""
    from prosearch_spark.index.artifact import save_index
    from prosearch_spark.index.vectors import save_vector_index
    from prosearch_spark.query.block_engine import BlockSearchEngine
    from prosearch_spark.query.hybrid import (
        hybrid_topk_ivf,
        multi_hybrid_topk_ivf,
    )
    from prosearch_spark.query.serve import ArtifactSearcher

    art = save_index(spark, corpus, str(tmp_path / "lex"),
                     text_col="content")
    art.write_doc_store(corpus, ["content"])
    emb = _toy_emb(spark, n=40)
    vart = save_vector_index(spark, emb, str(tmp_path / "vec"),
                             n_centroids=4)
    s = ArtifactSearcher(spark, art, body_col="content", vectors=vart,
                         n_probe=2)
    be = BlockSearchEngine(spark, art)

    hits, plan = s.hybrid("join hash", QVEC, k=8, depth=20, round_to=6)
    assert plan == "hybrid_wand_ivf"
    want = [tuple(r) for r in hybrid_topk_ivf(
        be, vart, "join hash", QVEC, k=8, depth=20, n_probe=2,
        round_to=6).collect()]
    assert [tuple(r) for r in hits.collect()] == want

    qs = emb.filter(F.col("vec_id") < 2).select(
        F.col("vec_id").cast("int").alias("query_id"),
        F.col("embedding").alias("qv"))
    queries = ["join hash", "commit"]
    got = [tuple(r) for r in s.msearch_hybrid(queries, qs, k=5,
                                              depth=15,
                                              round_to=6).collect()]
    assert got == [tuple(r) for r in multi_hybrid_topk_ivf(
        be, vart, queries, qs, k=5, depth=15, n_probe=2,
        round_to=6).collect()]

    page = [tuple(r) for r in s.msearch_mlt([3, 17], k=5, max_terms=5,
                                            min_df=2,
                                            round_to=6).collect()]
    assert page == [tuple(r) for r in be.multi_more_like_this(
        [3, 17], 5, max_terms=5, min_df=2, round_to=6,
        text_col="content").collect()]

    # no vector deployment -> explicit refusal, not a silent full scan
    bare = ArtifactSearcher(spark, art, body_col="content")
    with pytest.raises(ValueError, match="vector artifact"):
        bare.hybrid("join hash", QVEC)


def test_lloyd_centroids_commit_and_balance(spark, tmp_path):
    """train_centroids_lloyd (non-gated quality path): trained
    centroids commit through save_vector_index(centroids=...) with
    everything downstream unchanged (exact at n_probe = all buckets),
    and an emptied cluster keeps its previous centroid instead of
    crashing."""
    from prosearch_spark.index.vectors import (
        save_vector_index,
        train_centroids_lloyd,
    )
    from prosearch_spark.ops.similarity import cosine_topk

    emb = _toy_emb(spark, n=120)
    cents = train_centroids_lloyd(emb, 4, n_iters=3)
    assert len(cents) == 4 and all(len(c) == 8 for c in cents)
    art = save_vector_index(spark, emb, str(tmp_path / "lloyd"),
                            n_centroids=4, centroids=cents)
    got = [r["vec_id"] for r in art.topk(QVEC, 6, n_probe=4,
                                         round_to=6).collect()]
    want = [r["vec_id"] for r in cosine_topk(emb, QVEC, 6,
                                             round_to=6).collect()]
    assert got == want

    # duplicate-point corpus: most clusters empty every iteration —
    # the keep-previous fallback must hold the centroid count at k
    dup = spark.createDataFrame(
        [(i, [1.0] * 8) for i in range(20)],
        "vec_id long, embedding array<float>")
    cents2 = train_centroids_lloyd(dup, 4, n_iters=2)
    assert len(cents2) == 4

    with pytest.raises(ValueError, match="n_centroids"):
        save_vector_index(spark, emb, str(tmp_path / "bad"),
                          n_centroids=8, centroids=cents)


def test_searcher_hybrid_prefers_fielded_leg(spark, corpus, tmp_path):
    """With a fielded deployment configured, hybrid() runs the lexical
    leg as FIELDED WAND (the same schema preference route() makes) and
    reports it in the plan name; the result equals the direct
    composition."""
    from prosearch_spark.index.artifact import (
        save_fielded_index,
        save_index,
    )
    from prosearch_spark.index.vectors import save_vector_index
    from prosearch_spark.query.fielded import FieldedBlockSearchEngine
    from prosearch_spark.query.hybrid import hybrid_topk_ivf
    from prosearch_spark.query.serve import ArtifactSearcher

    docs = corpus.select(
        "doc_id",
        F.concat_ws(" ", F.slice(F.split("content", r"\s+"), 1, 4))
        .alias("title"),
        F.col("content").alias("body"))
    arts = save_fielded_index(
        spark, docs, str(tmp_path / "fidx"),
        {"title": "title", "body": "body"},
        positional_fields=frozenset({"body"}))
    art = save_index(spark, corpus, str(tmp_path / "plain"),
                     text_col="content")
    vart = save_vector_index(spark, _toy_emb(spark, n=40),
                             str(tmp_path / "vec"), n_centroids=4)

    s = ArtifactSearcher(spark, art, fielded=arts, body_col="content",
                        vectors=vart)
    hits, plan = s.hybrid("join hash", QVEC, k=8, depth=20, round_to=6)
    assert plan == "hybrid_fielded_wand_ivf"
    want = [tuple(r) for r in hybrid_topk_ivf(
        FieldedBlockSearchEngine(spark, arts), vart, "join hash", QVEC,
        k=8, depth=20, n_probe=2, round_to=6).collect()]
    assert [tuple(r) for r in hits.collect()] == want


def test_multi_topk_or_equals_per_query_topk_or(spark, corpus, tmp_path):
    """Batched disjunctive msearch: every per-query slice equals the
    single-query topk_or at the same min_match, flat and committed."""
    from prosearch_spark.index.artifact import save_index
    from prosearch_spark.index.build import build_index
    from prosearch_spark.query.block_engine import BlockSearchEngine
    from prosearch_spark.query.engine import SearchEngine

    queries = ["join hash", "commit merge index", "zzzznothing",
               "hash"]
    flat = SearchEngine(spark, build_index(corpus, text_col="content"))
    art = save_index(spark, corpus, str(tmp_path / "msor"),
                     text_col="content")
    be = BlockSearchEngine(spark, art)

    for mm in (1, 2):
        for eng in (flat, be):
            got = {}
            for r in eng.multi_topk_or(queries, 6, round_to=6,
                                       min_match=mm).collect():
                got.setdefault(r["query_id"], []).append(
                    (r["rank"], r["doc_id"], r["score"]))
            for qi, q in enumerate(queries):
                want = [(r["rank"], r["doc_id"], r["score"]) for r in
                        flat.topk_or(q, 6, round_to=6,
                                     min_match=mm).collect()]
                assert got.get(qi, []) == want, (mm, q)


def test_fielded_multi_topk_or_equals_per_query(spark, corpus, tmp_path):
    """Batched disjunctive FIELDED msearch: every per-query slice
    equals the single-query fielded topk_or at the same min_match
    (DISTINCT-clause counting preserved through the batch)."""
    from prosearch_spark.index.artifact import save_fielded_index
    from prosearch_spark.query.fielded import FieldedBlockSearchEngine

    docs = corpus.select(
        "doc_id",
        F.concat_ws(" ", F.slice(F.split("content", r"\s+"), 1, 4))
        .alias("title"),
        F.col("content").alias("body"))
    arts = save_fielded_index(
        spark, docs, str(tmp_path / "for"),
        {"title": "title", "body": "body"})
    be = FieldedBlockSearchEngine(spark, arts)
    queries = ["join hash", "commit merge index", "zzzznothing", "hash"]

    for mm in (1, 2):
        got = {}
        for r in be.multi_topk_or(queries, 6, round_to=6,
                                  min_match=mm).collect():
            got.setdefault(r["query_id"], []).append(
                (r["rank"], r["doc_id"], r["score"]))
        for qi, q in enumerate(queries):
            single = be.topk_or(q, 6, round_to=6, min_match=mm)
            want = [(r["rank"], r["doc_id"], r["score"]) for r in
                    single.collect()]
            assert got.get(qi, []) == want, (mm, q)


def test_vector_commit_job_count_is_flat(spark, tmp_path):
    """save_vector_index runs a FIXED small number of driver jobs:
    the centroid sample, ONE combined (count + SQ-bounds) input
    aggregate, and the partitioned write — the late-r6 fold removed a
    separate bounds pass AND the post-write full-store re-read, and
    this pin keeps either from silently returning."""
    from prosearch_spark.index.vectors import save_vector_index

    emb = _toy_emb(spark, n=300)
    sc = spark.sparkContext
    sc.setJobGroup("vec-commit", "round6 commit job count")
    try:
        save_vector_index(spark, emb, str(tmp_path / "jc"),
                          n_centroids=4)
    finally:
        sc.setJobGroup("", "")
    jobs = sc.statusTracker().getJobIdsForGroup("vec-commit")
    # measured: 3 jobs (centroid top-k sample, combined agg, write);
    # the pre-fold path measured 5 on the same input
    assert 0 < len(jobs) <= 4, jobs


# ---------------------------------------------------------------------------
# Ordered proximity phrases (slop) — Tantivy PhraseQuery::set_slop parity
# ---------------------------------------------------------------------------

def _slop_postings(spark, texts):
    from prosearch_spark.index.positions import positional_postings

    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string")
    return positional_postings(docs, text_col="text")


def test_phrase_slop_zero_equals_exact_phrase(spark):
    """slop=0 forces the chain consecutive — matches AND tf agree with
    phrase_matches on every doc (the exact path is the special case)."""
    from prosearch_spark.index.positions import (
        phrase_matches,
        phrase_slop_matches,
    )

    texts = ["a b c a b", "a x b", "b a", "a b a b a b", "c c c"]
    pp = _slop_postings(spark, texts)
    for terms in (["a", "b"], ["a", "b", "c"], ["a", "b", "a"]):
        exact = sorted(tuple(r) for r in
                       phrase_matches(pp, terms).collect())
        slop0 = sorted(tuple(r) for r in
                       phrase_slop_matches(pp, terms, 0).collect())
        assert slop0 == exact, terms


def test_phrase_slop_window_semantics_hand_checked(spark):
    """Hand-computed chains: gaps within the window match, order is
    required (no transpositions), tf counts chain STARTS."""
    from prosearch_spark.index.positions import phrase_slop_matches

    texts = [
        "a x b",        # doc 0: gap 1 between a and b
        "b x x a",      # doc 1: reversed — never matches (ordered)
        "a x x x b",    # doc 2: gap 3
        "a b x c a b c",  # doc 3: 3-term, two chain starts at slop 1
    ]
    pp = _slop_postings(spark, texts)

    def got(terms, slop):
        return {r["doc_id"]: r["tf"] for r in
                phrase_slop_matches(pp, terms, slop).collect()}

    assert got(["a", "b"], 0) == {3: 2}          # two adjacent pairs
    assert got(["a", "b"], 1) == {0: 1, 3: 2}    # gap-1 enters
    assert got(["a", "b"], 3) == {0: 1, 2: 1, 3: 2}
    assert 1 not in got(["a", "b"], 9)           # order is required
    # 3-term: doc 3 'a b c' exact start at 4; slop 1 adds start 0
    # (a@0 b@1 c@3: span 3 - 2 = 1)
    assert got(["a", "b", "c"], 0) == {3: 1}
    assert got(["a", "b", "c"], 1) == {3: 2}


def test_phrase_slop_greedy_chain_is_exact(spark):
    """The greedy earliest-next chain must find every satisfiable
    start: a doc where the first candidate continuation is FAR but a
    later start still matches, and one where greedy must hop over
    positions belonging to an earlier slot."""
    from prosearch_spark.index.positions import phrase_slop_matches

    # b appears early only before a's start: chain from a@2 must pick
    # b@3 (the earliest > 2), not b@0
    texts = ["b x a b c"]
    pp = _slop_postings(spark, texts)
    m = {r["doc_id"]: r["tf"] for r in
         phrase_slop_matches(pp, ["a", "b", "c"], 0).collect()}
    assert m == {0: 1}


def test_phrase_slop_validation(spark):
    from prosearch_spark.index.positions import phrase_slop_matches

    pp = _slop_postings(spark, ["a b"])
    with pytest.raises(ValueError):
        phrase_slop_matches(pp, ["a"], 1)
    with pytest.raises(ValueError):
        phrase_slop_matches(pp, ["a", "b"], -1)


def test_phrase_slop_blocks_matches_flat(spark, tmp_path):
    """The committed positional artifact serves the same slop top-k as
    the flat positional build (physical layout must not change
    results)."""
    from prosearch_spark.index.artifact import save_index
    from prosearch_spark.query.block_engine import BlockSearchEngine
    from prosearch_spark.query.mixed import mixed_topk

    texts = [f"join x hash scan {'pad ' * (i % 3)}join hash" for i in
             range(12)] + ["scan join x x hash", "hash join"]
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string")
    flat = [tuple(r) for r in mixed_topk(
        spark, docs, '"join hash"~2', 10, round_to=6).collect()]
    art = save_index(spark, docs, str(tmp_path / "pos_art"),
                     text_col="text", with_positions=True)
    blocks = [tuple(r) for r in BlockSearchEngine(spark, art)
              .mixed_topk('"join hash"~2', 10, round_to=6).collect()]
    assert blocks == flat and len(flat) > 0


def test_parse_query_slop_grammar():
    """Proximity-suffix grammar edges, all lenient (dropped, never an
    error); the base grammar is byte-identical to parse_query_lenient
    on every slop-free query."""
    from prosearch_spark.analyzer import (
        parse_query_lenient,
        parse_query_slop,
    )

    assert parse_query_slop('a "b c"~2 d') == [
        ("term", ("a", 1.0)),
        ("slop", (["b", "c"], 2)),
        ("term", ("d", 1.0)),
    ]
    # ~0 folds to the exact phrase
    assert parse_query_slop('"b c"~0') == [("phrase", ["b", "c"])]
    # one-token quote folds to a term; its ~N is dropped
    assert parse_query_slop('"b"~3 d') == [
        ("term", ("b", 1.0)), ("term", ("d", 1.0))]
    # bad suffix token dropped, phrase stays exact
    assert parse_query_slop('"b c"~x d') == [
        ("phrase", ["b", "c"]), ("term", ("d", 1.0))]
    assert parse_query_slop('"b c"~2x d') == [
        ("phrase", ["b", "c"]), ("term", ("d", 1.0))]
    # detached ~2 is an ordinary bare token (never glued to a quote)
    assert parse_query_slop('"b c" ~2') == [
        ("phrase", ["b", "c"]), ("term", ("~2", 1.0))]
    # slop-free queries parse byte-identically to the lenient grammar
    for q in ['a "b c" d', 'spark "join hash"', '"x" "" y "dangling',
              'the fast "scan group value"']:
        assert parse_query_slop(q) == parse_query_lenient(q), q


def test_mixed_slop_topk_conjunction(spark):
    """'x "a b"~1' requires BOTH the term and the proximity clause;
    the slop-free query keeps exact-phrase semantics and '~0' folds
    to it."""
    from prosearch_spark.query.mixed import mixed_topk

    texts = [
        "x a q b",      # both clauses (gap-1 chain)
        "a q b",        # proximity only -> conjunction drops it
        "x a b",        # both (exact is within slop 1)
        "x b a",        # term only (reversed chain) -> dropped
        "a b x q",      # both
    ]
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string")
    hits = mixed_topk(spark, docs, 'x "a b"~1', 10, round_to=6)
    assert [r["doc_id"] for r in hits.collect()] == sorted([0, 2, 4],
        key=lambda d: (-hits.filter(F.col("doc_id") == d).collect()[0]["score"], d))
    assert {r["doc_id"] for r in hits.collect()} == {0, 2, 4}
    a = [tuple(r) for r in
         mixed_topk(spark, docs, 'x "a b"', 10, round_to=6).collect()]
    b = [tuple(r) for r in
         mixed_topk(spark, docs, 'x "a b"~0', 10, round_to=6).collect()]
    assert {r[1] for r in a} == {2, 4} and a == b


# ---------------------------------------------------------------------------
# PQ-within-IVF (round 6 late)
# ---------------------------------------------------------------------------

def _clustered_emb(spark, n=400, dim=16, topics=8):
    """Deterministic clustered corpus (vector_bench's shape): topic
    direction + 30% hash noise — the only corpus where approximate
    ANN quality is measurable."""
    js = F.sequence(F.lit(0), F.lit(dim - 1))

    def _h(a, b):
        return (F.hash(a, b) % 1000) / 1000.0

    return spark.range(n).select(
        F.col("id").alias("vec_id"),
        F.transform(
            js,
            lambda j: _h((F.col("id") % topics) + 1_000_000, j)
            + F.lit(0.3) * _h(F.col("id"), j),
        ).alias("embedding"),
    )


def test_pq_topk_recall_on_clustered_corpus(spark, tmp_path):
    """PQ-within-IVF recall@10 vs brute cosine — the r6 lesson made
    structural: approximate operators get a QUALITY assertion, not
    just hash parity. Exact re-rank over 40 ADC candidates must
    recover (nearly) the exact top-10 on a clustered corpus."""
    from prosearch_spark.index.vectors import save_vector_index
    from prosearch_spark.ops.similarity import cosine_topk

    emb = _clustered_emb(spark)
    va = save_vector_index(spark, emb, str(tmp_path / "pq_art"),
                           n_centroids=8, pq_m=8, pq_k=16)
    assert va.manifest["pq"]["m"] == 8
    assert va.manifest["pq"]["dsub"] == 2
    qvec = [float(x) for x in
            emb.filter(F.col("vec_id") == 7).head()["embedding"]]
    brute = [r["vec_id"] for r in
             cosine_topk(va.vectors(), qvec, 10, round_to=6).collect()]
    got = va.pq_topk(qvec, 10, n_probe=4, candidates=40, round_to=6)
    rows = got.collect()
    assert [r["rank"] for r in rows] == list(range(1, len(rows) + 1))
    recall = len(set(brute) & {r["vec_id"] for r in rows}) / 10
    assert recall >= 0.8, recall


def test_pq_skipped_when_dim_misaligned(spark, tmp_path):
    """dim % m != 0 -> PQ is skipped (manifest pq None, typed-null
    code column), and pq_topk raises the explicit rebuild error."""
    from prosearch_spark.index.vectors import save_vector_index

    emb = spark.createDataFrame(
        [(i, [float(i + j) for j in range(10)]) for i in range(20)],
        "vec_id long, embedding array<float>")
    va = save_vector_index(spark, emb, str(tmp_path / "nopq"),
                           n_centroids=4, pq_m=8)
    assert va.manifest["pq"] is None
    assert va.vectors().schema["pq_code"].dataType.simpleString() \
        == "array<smallint>"
    with pytest.raises(ValueError, match="without PQ codes"):
        va.pq_topk([1.0] * 10, 5)


def test_pq_codes_deterministic_and_compact(spark, tmp_path):
    """Stored codes are 1-based codeword indexes within [1, pq_k],
    m per vector; a codebook member's own code is itself (distance 0,
    ties to the lowest index)."""
    from prosearch_spark.index.vectors import save_vector_index

    emb = _clustered_emb(spark, n=60, dim=8)
    va = save_vector_index(spark, emb, str(tmp_path / "pq_codes"),
                           n_centroids=4, pq_m=4, pq_k=8)
    rows = {r["vec_id"]: list(r["pq_code"])
            for r in va.vectors().select("vec_id", "pq_code").collect()}
    assert all(len(c) == 4 for c in rows.values())
    assert all(1 <= x <= 8 for c in rows.values() for x in c)
    # vec 0 is codeword 1 in every subspace (unless an identical
    # earlier codeword exists — impossible: it IS the first)
    assert rows[0] == [1, 1, 1, 1]


def test_pq_candidate_plan_prunes_partitions_and_columns(spark, tmp_path):
    """PQ candidate pass plan pin: probe PartitionFilters at the scan
    AND a (vec_id, pq_code)-only ReadSchema — neither the float
    embeddings nor the SQ codes may be read to rank ADC candidates."""
    from functools import reduce

    from prosearch_spark.index.vectors import save_vector_index

    emb = _clustered_emb(spark, n=120, dim=16)
    art = save_vector_index(spark, emb, str(tmp_path / "pqplan"),
                            n_centroids=4, pq_m=8, pq_k=16)
    qvec = [1.0] * 16
    buckets = art.probe_buckets(qvec, 2)
    probed = art.vectors().filter(F.col("bucket").isin(buckets))
    pq = art.manifest["pq"]
    score = reduce(
        lambda a, b: a + b,
        [F.element_at(F.array(*[F.lit(0.5) for _ in pq["codebooks"][j]]),
                      F.col("pq_code").getItem(j).cast("int"))
         for j in range(pq["m"])])
    plan = (probed.select("vec_id", score.alias("pq_score"))
            ._jdf.queryExecution().executedPlan().toString())
    assert "PartitionFilters" in plan and "bucket" in plan, plan
    schema = plan[plan.index("ReadSchema"):].splitlines()[0]
    assert "pq_code" in schema and "embedding" not in schema, schema
    assert "code:" not in schema.replace("pq_code", ""), schema


def test_route_serves_slop_queries(spark, tmp_path):
    """route('x "a b"~1') must serve the proximity semantics (plan
    mixed_slop) — the plain lenient parse reads the glued ~1 as a
    bare term that matches nothing and returns EMPTY. Slop-free
    queries keep their existing plans (behavior-preserving branch)."""
    from prosearch_spark.index.artifact import save_index
    from prosearch_spark.query.serve import ArtifactSearcher

    texts = ["x a q b", "a q b", "x a b", "x b a", "a b x q"]
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string")
    art = save_index(spark, docs, str(tmp_path / "slop_art"),
                     text_col="text", with_positions=True)
    s = ArtifactSearcher(spark, art)
    hits, plan = s.route('x "a b"~1', 10, round_to=6)
    assert plan == "mixed_slop"
    assert {r["doc_id"] for r in hits.collect()} == {0, 2, 4}
    # the committed path matches the flat engine exactly
    from prosearch_spark.query.mixed import mixed_topk
    flat = [tuple(r) for r in
            mixed_topk(spark, docs, 'x "a b"~1', 10,
                       round_to=6).collect()]
    got = [tuple(r) for r in hits.collect()]
    assert got == flat
    # slop-free routing unchanged
    _, p2 = s.route('x "a b"', 10, round_to=6)
    assert p2 == "mixed"
    _, p3 = s.route("x", 10, round_to=6)
    assert p3 == "wand"
    # ~0 folds to the exact phrase, but must STILL route through the
    # slop engine — the lenient parse would turn the glued ~0 into a
    # dead term clause and return empty
    h4, p4 = s.route('x "a b"~0', 10, round_to=6)
    assert p4 == "mixed_slop"
    assert {r["doc_id"] for r in h4.collect()} == {2, 4}  # exact phrase


def test_msearch_batches_slop_members(spark, tmp_path):
    """multi_mixed_topk accepts '"..."~N' members (round 6): each
    batch member's rows are identical to its single-query mixed_topk
    result (the oracle-gated engine), and same-length slop phrases
    with DIFFERENT slops share one plan (the window rides as a
    column)."""
    from prosearch_spark.index.artifact import save_index
    from prosearch_spark.query.block_engine import BlockSearchEngine

    texts = [
        "x a q b join hash",
        "a q b hash join",
        "x a b join q hash",
        "x b a hash",
        "a b x q join n hash",
    ] * 4
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string")
    art = save_index(spark, docs, str(tmp_path / "ms_slop"),
                     text_col="text", with_positions=True)
    eng = BlockSearchEngine(spark, art)
    batch = ['x "a b"~1', '"join hash"~2', 'q "a b"', "x hash"]
    got = eng.multi_mixed_topk(batch, 10, round_to=6).collect()
    by_q: dict = {}
    for r in got:
        by_q.setdefault(r["query_id"], []).append(
            (r["rank"], r["doc_id"], r["score"]))
    for qi, q in enumerate(batch):
        rows = [(r["rank"], r["doc_id"], r["score"])
                for r in eng.mixed_topk(q, 10, round_to=6).collect()]
        assert by_q.get(qi, []) == rows, q


def test_fielded_route_serves_slop(spark, tmp_path):
    """A fielded deployment serves '"..."~N' through the fielded mixed
    engine (plan fielded_mixed_slop): term clauses KEEP title 1.5 /
    body 1.0, the slop clause scores body-only; slop-free queries keep
    their fielded plans. A doc whose terms only satisfy the proximity
    at slop>=1 appears; the reversed doc never does."""
    from prosearch_spark.index.artifact import (
        save_fielded_index,
        save_index,
    )
    from prosearch_spark.query.fielded import FieldedBlockSearchEngine
    from prosearch_spark.query.serve import ArtifactSearcher

    rows = [
        (0, "alpha join", "x a q b alpha"),
        (1, "alpha", "a q b"),
        (2, "other", "x a b"),
        (3, "alpha", "x b a"),
        (4, "join", "a b x q join"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, title string, body string")
    arts = save_fielded_index(
        spark, docs, str(tmp_path / "f_slop"),
        {"title": "title", "body": "body"},
        positional_fields=frozenset({"body"}))
    flat = save_index(spark, docs, str(tmp_path / "f_slop_flat"),
                      text_col="body", with_positions=True)
    s = ArtifactSearcher(spark, flat, fielded=arts)
    hits, plan = s.route('x "a b"~1', 10, round_to=6)
    assert plan == "fielded_mixed_slop"
    got = {r["doc_id"] for r in hits.collect()}
    assert got == {0, 2, 4}  # gap-1 chain (0), exact (2, 4); 3 reversed
    # slop-free fielded routing unchanged
    _, p2 = s.route('x "a b"', 10, round_to=6)
    assert p2 == "fielded_mixed"
    _, p3 = s.route("x", 10, round_to=6)
    assert p3 == "fielded_wand"
    # direct engine: ~0 == the exact fielded phrase, bit-identical
    eng = FieldedBlockSearchEngine(spark, arts)
    a = [tuple(r) for r in
         eng.mixed_topk('x "a b"~0', 10, round_to=6).collect()]
    b = [tuple(r) for r in
         eng.mixed_topk('x "a b"', 10, round_to=6).collect()]
    assert a == b and len(a) > 0


def test_profile_and_api_handle_slop_queries(spark, tmp_path):
    """The diagnostic (profile) and Serp (api) endpoints follow the
    router's slop dispatch: single-field slop reports plan mixed_slop
    with real hits (the lenient mixed engine would return zero), and
    the snippet highlights the PHRASE terms, never a bogus '~N'
    token."""
    from prosearch_spark.index.artifact import save_index
    from prosearch_spark.query.serve import ArtifactSearcher

    texts = ["x a q b", "a q b", "x a b", "x b a", "a b x q"]
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string")
    art = save_index(spark, docs, str(tmp_path / "slop_api"),
                     text_col="text", with_positions=True)
    art.write_doc_store(docs, ["text"])
    s = ArtifactSearcher(spark, art, body_col="text")
    p = s.profile('x "a b"~1', 5)
    assert p["plan"] == "mixed_slop" and p["num_hits"] == 3
    r = s.api('x "a b"~1', 5)
    assert r["plan"] == "mixed_slop" and r["num_hits"] == 3
    snips = " ".join(h["snip"] for h in r["hits"])
    assert "~" not in snips and "<b>" in snips


def test_committed_collapse_and_top_hits_match_flat(spark, tmp_path):
    """BlockSearchEngine.collapse_topk / top_hits_by_group over a
    fast-field artifact reproduce the gated flat engines row-for-row
    (physical layout must not change results; group/collapse keys come
    from the columnar doc_stats)."""
    from prosearch_spark.index.artifact import save_index
    from prosearch_spark.index.build import build_index
    from prosearch_spark.query.block_engine import BlockSearchEngine
    from prosearch_spark.query.engine import SearchEngine

    words = ["spark", "table", "join", "hash", "scan", "merge"]
    docs = spark.createDataFrame(
        [(i, f"lang{i % 3}",
          " ".join(words[j % 6] for j in range(i, i + 4 + i % 5)))
         for i in range(120)],
        "doc_id long, lang string, text string")
    flat = SearchEngine(spark, build_index(docs, text_col="text"))
    art = save_index(spark, docs, str(tmp_path / "coll_art"),
                     text_col="text", fast_fields={"lang": "lang"})
    blk = BlockSearchEngine(spark, art)
    q = "spark table"
    a = [tuple(r) for r in
         flat.collapse_topk(q, docs, "lang", 5, round_to=6).collect()]
    b = [tuple(r) for r in
         blk.collapse_topk(q, "lang", 5, round_to=6).collect()]
    assert a == b and len(a) > 0
    a2 = [tuple(r) for r in flat.top_hits_by_group(
        q, docs, "lang", 2, round_to=6).collect()]
    b2 = [tuple(r) for r in blk.top_hits_by_group(
        q, "lang", 2, round_to=6).collect()]
    assert a2 == b2 and len(a2) > 0


def test_fielded_multi_mixed_topk_matches_single_query(spark, tmp_path):
    """Batched fielded mixed msearch: every member's rows equal its
    single-query fielded mixed_topk result — terms keep title 1.5 /
    body 1.0, phrases and slops score body-only; a dead member never
    empties the batch."""
    from prosearch_spark.index.artifact import save_fielded_index
    from prosearch_spark.query.fielded import FieldedBlockSearchEngine

    rows = [
        (0, "alpha join", "x a q b alpha hash"),
        (1, "alpha", "a q b join hash"),
        (2, "other", "x a b join q hash"),
        (3, "alpha beta", "x b a hash"),
        (4, "join", "a b x q join n hash"),
        (5, "beta", "join hash a b"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, title string, body string")
    arts = save_fielded_index(
        spark, docs, str(tmp_path / "fmm"),
        {"title": "title", "body": "body"},
        positional_fields=frozenset({"body"}))
    eng = FieldedBlockSearchEngine(spark, arts)
    batch = ['alpha "a b"~1', '"join hash" x', 'beta "a b"',
             "alpha hash", 'zzz "a b"']  # last member is dead
    got = eng.multi_mixed_topk(batch, 10, round_to=6).collect()
    by_q: dict = {}
    for r in got:
        by_q.setdefault(r["query_id"], []).append(
            (r["rank"], r["doc_id"], r["score"]))
    for qi, q in enumerate(batch):
        want = [(r["rank"], r["doc_id"], r["score"]) for r in
                eng.mixed_topk(q, 10, round_to=6).collect()]
        assert by_q.get(qi, []) == want, q
    assert 0 in by_q and by_q.get(4, []) == []


def test_fielded_multi_mixed_plan_shape(spark, tmp_path):
    """The batched fielded mixed plan: metadata-sized sides (slot
    tables, window bounds, term/field stats, clause counts) broadcast
    (BroadcastHashJoins present, never a cartesian product) and the
    final per-query rank is a PARTITIONED window (WindowGroupLimit).
    The one posting-sized shuffle of position rows, on (query_id,
    clause_id, doc_id), is the phrase intersection itself, not a
    planning defect."""
    from prosearch_spark.index.artifact import save_fielded_index
    from prosearch_spark.query.fielded import FieldedBlockSearchEngine

    rows = [(i, f"t{i % 2}", f"a b x join hash w{i % 5}")
            for i in range(40)]
    docs = spark.createDataFrame(rows, "doc_id long, title string, body string")
    arts = save_fielded_index(
        spark, docs, str(tmp_path / "fmm_plan"),
        {"title": "title", "body": "body"},
        positional_fields=frozenset({"body"}))
    eng = FieldedBlockSearchEngine(spark, arts)
    df = eng.multi_mixed_topk(
        ['t0 "a b"~1', '"join hash" t1', "a b"], 10, round_to=6)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastHashJoin" in plan, plan
    assert "WindowGroupLimit" in plan, plan

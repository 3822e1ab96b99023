"""Round-5 additions: batched quoted msearch (one plan per phrase
shape) and its serving route, over clean artifacts AND live
(tombstoned) segment stacks."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from prosearch_spark.index.artifact import save_index
from prosearch_spark.query.block_engine import BlockSearchEngine

MIXED_BATCH = [
    "spark",
    'spark "join hash"',          # term + 2-phrase
    '"spark dup table" the',      # 3-phrase + term
    "join hash",
    '"zzz qqq" spark',            # dead phrase member
    '"" spark "dup" "join hash" "dangling tail',  # lenient junk
]


@pytest.fixture(scope="module")
def pos_art(spark, corpus, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("r5pos") / "art")
    return save_index(spark, corpus, path, text_col="content",
                      with_positions=True, n_buckets=4)


def _rows(df):
    return [(r["query_id"], r["rank"], r["doc_id"], r["score"])
            for r in df.collect()]


def test_multi_mixed_topk_matches_per_query(spark, pos_art):
    """The batch must reproduce each member's single-query mixed
    result exactly — including the dead-phrase member contributing
    zero rows without emptying the batch."""
    eng = BlockSearchEngine(spark, pos_art)
    batch = _rows(eng.multi_mixed_topk(MIXED_BATCH, 5, round_to=6))
    assert batch, "batch returned nothing"
    for qi, q in enumerate(MIXED_BATCH):
        single = [(qi, r["rank"], r["doc_id"], r["score"])
                  for r in eng.mixed_topk(q, 5, round_to=6).collect()]
        assert [t for t in batch if t[0] == qi] == single, q
    assert not [t for t in batch if t[0] == 4]  # dead phrase member


def test_multi_mixed_topk_scheduling(spark, pos_art):
    """The batch runs ONE action whose AQE stages amortize across all
    members (under AQE every exchange materialization surfaces as a
    'job', so an absolute cap is meaningless — the claim is
    comparative): the batched plan must schedule well under half the
    jobs the per-query sequential path pays for the same members, and
    its job count must not scale with the member count (the fixed
    plans-per-SHAPE property: re-running with the batch doubled adds
    shape-work, not per-member work)."""
    sc = spark.sparkContext
    eng = BlockSearchEngine(spark, pos_art)
    eng.multi_mixed_topk(MIXED_BATCH, 5, round_to=6).collect()  # warm

    def count(group, thunk):
        sc.setJobGroup(group, group)
        try:
            thunk()
        finally:
            sc.setJobGroup("", "")
        return len(sc.statusTracker().getJobIdsForGroup(group) or [])

    jb6 = count("r5-msq-batch6", lambda: eng.multi_mixed_topk(
        MIXED_BATCH, 5, round_to=6).collect())
    jb24 = count("r5-msq-batch24", lambda: eng.multi_mixed_topk(
        MIXED_BATCH * 4, 5, round_to=6).collect())
    # same shapes, 4x the members: scheduling stays ~flat
    assert jb24 <= jb6 * 1.5 + 2, (jb6, jb24)

    def seq():
        for q in MIXED_BATCH:
            eng.mixed_topk(q, 5, round_to=6).collect()

    js6 = count("r5-msq-seq", seq)
    # sequential scheduling is linear in members BY CONSTRUCTION (an
    # independent collect per member), so 4x the members costs 4*js6;
    # the flat batch must come in under half of that
    assert jb24 < js6 * 4 / 2, (jb24, js6)


def test_serve_msearch_batches_quoted(spark, corpus, pos_art):
    """ArtifactSearcher.msearch on a single-field deployment now
    serves quoted members through the batched plan; results must
    still match the per-query routes."""
    from prosearch_spark.query.serve import ArtifactSearcher

    s = ArtifactSearcher(spark, pos_art, body_col="content")
    batch = _rows(s.msearch(MIXED_BATCH, k=5, round_to=6))
    for qi, q in enumerate(MIXED_BATCH):
        hits, _plan = s.route(q, 5, round_to=6)
        single = [(qi, r["rank"], r["doc_id"], r["score"])
                  for r in hits.collect()]
        assert [t for t in batch if t[0] == qi] == single, q


def test_percentiles_approx_rank_error_bound(spark, corpus,
                                             tmp_path_factory):
    """The 100 TB percentiles twin (r4 verdict item 7): Spark's
    contract for percentile_approx is that the result is an ACTUAL
    column value whose rank among the matched values is within
    n/accuracy of the target rank. Verify that bound against the
    python-sorted match-set values at a deliberately loose accuracy
    (so the sketch really approximates), and near-exact rank at an
    accuracy larger than n (the sketch holds every value). No
    DuckDB-identical oracle can exist for a sketch, so this pytest is
    the gate for the swap documented on the exact method."""
    from bisect import bisect_left, bisect_right

    docs = corpus.withColumn("size", F.length("content").cast("long"))
    art = save_index(spark, docs, str(tmp_path_factory.mktemp("r5apx")),
                     text_col="content", fast_fields={"size": "size"})
    eng = BlockSearchEngine(spark, art)

    matched = {r["doc_id"] for r in eng.match_scan("spark").collect()}
    vals = sorted(r["size"] for r in docs.collect()
                  if r["doc_id"] in matched)
    n = len(vals)
    assert n > 20, "query must match a meaningful slice"

    ps = [0.25, 0.5, 0.75, 0.95]
    exact = {r["p"]: r["value"]
             for r in eng.percentiles_agg("spark", "size", ps).collect()}
    for accuracy, slack in [(40, n // 40 + 1), (100000, 1)]:
        df = eng.percentiles_agg_approx("spark", "size", ps,
                                        accuracy=accuracy)
        assert df.columns == ["p", "value"]  # same shape as exact twin
        got = {r["p"]: r["value"] for r in df.collect()}
        for p in ps:
            v = got[p]
            # an actual data value (the sketch never interpolates)
            assert v in vals, (p, v)
            lo = bisect_left(vals, v)
            hi = bisect_right(vals, v) - 1
            target = p * n
            assert lo <= target + slack and hi >= target - slack - 1, \
                (accuracy, p, v, lo, hi, target)
            # the sketch result brackets the exact interpolated value
            # within one neighbouring order statistic + rank slack
            j = min(n - 1, hi + slack + 1)
            i = max(0, lo - slack - 1)
            assert vals[i] <= exact[p] <= vals[j] or v == exact[p], \
                (accuracy, p, v, exact[p])


def test_multi_mixed_topk_live_stack(spark, corpus, tmp_path):
    """Batched mixed msearch over a LIVE tombstoned stack: the shared
    decode carries seg tags, deletes anti-join per segment, and the
    batch matches the per-query mixed engine over the same view."""
    from prosearch_spark.index.segments import SegmentedIndex

    root = str(tmp_path / "r5livemix")
    si = SegmentedIndex(spark, root, merge_factor=8)
    stale = F.col("doc_id") % 5 == 0
    si.commit(
        corpus.withColumn(
            "content",
            F.when(stale, F.lit("stale placeholder"))
            .otherwise(F.col("content")),
        ),
        text_col="content", with_positions=True,
    )
    si.upsert(corpus.filter(stale), text_col="content",
              with_positions=True)
    view = si.as_artifact()
    assert view.deletes() is not None
    eng = BlockSearchEngine(spark, view)
    sub = MIXED_BATCH[:4]
    batch = _rows(eng.multi_mixed_topk(sub, 5, round_to=6))
    for qi, q in enumerate(sub):
        single = [(qi, r["rank"], r["doc_id"], r["score"])
                  for r in eng.mixed_topk(q, 5, round_to=6).collect()]
        assert [t for t in batch if t[0] == qi] == single, q
    # no stale text survives anywhere in the batch results
    assert not [t for t in _rows(
        eng.multi_mixed_topk(["placeholder"], 5, round_to=6))]


# -- hybrid RRF + batched semantic search (round 5) ---------------------------


def _toy_emb(spark, n=30, dim=8):
    """Deterministic toy embeddings aligned with corpus doc_ids."""
    rows = [(i, [float(((i * 7 + j * 3) % 11) - 5) for j in range(dim)])
            for i in range(n)]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_rrf_fuse_math_and_tiebreak(spark):
    """Fused score must equal the hand-computed two-term RRF sum for
    docs in both / one list, with round-before-rank + doc_id ASC ties
    and NULL leg ranks for single-list docs."""
    from prosearch_spark.query.hybrid import rrf_fuse

    lex = spark.createDataFrame(
        [(1, 10), (2, 20), (3, 30)], "rank int, doc_id long")
    sem = spark.createDataFrame(
        [(1, 20), (2, 40)], "rank int, doc_id long")
    out = {r["doc_id"]: r for r in
           rrf_fuse(lex, sem, k=10, k0=60, round_to=6).collect()}
    assert round(1.0 / 61, 6) == out[10]["rrf_score"]
    assert out[10]["sem_rank"] is None and out[10]["lex_rank"] == 1
    assert round(1.0 / 62 + 1.0 / 61, 6) == out[20]["rrf_score"]
    assert (out[20]["lex_rank"], out[20]["sem_rank"]) == (2, 1)
    assert out[40]["lex_rank"] is None and out[40]["sem_rank"] == 2
    # doc 20 is in both lists -> highest fused score -> rank 1
    assert out[20]["rank"] == 1
    # equal-contribution docs tie-break by doc_id ASC: fabricate via
    # two single-list docs at the same leg rank
    lex2 = spark.createDataFrame([(1, 7)], "rank int, doc_id long")
    sem2 = spark.createDataFrame([(1, 3)], "rank int, doc_id long")
    tied = rrf_fuse(lex2, sem2, k=10, k0=60, round_to=6).collect()
    assert [r["doc_id"] for r in tied] == [3, 7]


def test_hybrid_wand_leg_matches_flat(spark, corpus, pos_art):
    """WAND is exact, so the fused list is identical whichever lexical
    engine feeds it — the property that lets one oracle gate both."""
    from prosearch_spark.index.build import build_index
    from prosearch_spark.query.engine import SearchEngine
    from prosearch_spark.query.hybrid import hybrid_topk, rrf_fuse
    from prosearch_spark.ops.similarity import cosine_topk

    emb = _toy_emb(spark, n=30)
    qvec = [1.0, -2.0, 0.5, 3.0, -1.0, 0.0, 2.0, -0.5]
    eng = SearchEngine(spark, build_index(corpus, text_col="content"))
    flat = hybrid_topk(eng, emb, "join hash", qvec, k=10, depth=20,
                       round_to=6).collect()
    lex, _stats = BlockSearchEngine(spark, pos_art).topk_wand(
        "join hash", 20, round_to=6)
    sem = cosine_topk(emb, qvec, 20, round_to=6) \
        .withColumnRenamed("vec_id", "doc_id")
    wand = rrf_fuse(lex, sem, k=10, round_to=6).collect()
    assert [tuple(r) for r in flat] == [tuple(r) for r in wand]
    assert len(flat) == 10


def test_multi_cosine_topk_matches_single(spark):
    """The one-scan batch must reproduce each query's cosine_topk."""
    from prosearch_spark.ops.similarity import cosine_topk, multi_cosine_topk

    emb = _toy_emb(spark, n=40)
    qs = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv"))
    cand = emb.filter(F.col("vec_id") >= 3)
    batch = multi_cosine_topk(cand, qs, 5, round_to=6)
    got = {(r["query_id"], r["rank"]): (r["vec_id"], r["cosine"])
           for r in batch.collect()}
    assert len(got) == 15
    for qid in range(3):
        qvec = [float(x) for x in
                emb.filter(F.col("vec_id") == qid).head()["embedding"]]
        single = cosine_topk(cand, qvec, 5, round_to=6).collect()
        for r in single:
            assert got[(qid, r["rank"])] == (r["vec_id"], r["cosine"])


def test_multi_hybrid_matches_single(spark, corpus):
    """The 3-job batched hybrid must reproduce, per query, the fused
    list of the single-query path (same legs, same RRF double, same
    round-before-rank)."""
    from prosearch_spark.index.build import build_index
    from prosearch_spark.query.engine import SearchEngine
    from prosearch_spark.query.hybrid import hybrid_topk, multi_hybrid_topk

    emb = _toy_emb(spark, n=40)
    eng = SearchEngine(spark, build_index(corpus, text_col="content"))
    queries = ["spark", "join hash", "zzz qqq"]  # incl. zero-hit lex leg
    qs = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv"))
    cand = emb.filter(F.col("vec_id") >= 3)
    batch = multi_hybrid_topk(eng, cand, queries, qs, k=5, depth=20,
                              round_to=6)
    got = {}
    for r in batch.collect():
        got.setdefault(r["query_id"], []).append(
            (r["rank"], r["doc_id"], r["rrf_score"],
             r["lex_rank"], r["sem_rank"]))
    assert set(got) == {0, 1, 2}
    for qid, q in enumerate(queries):
        qvec = [float(x) for x in
                emb.filter(F.col("vec_id") == qid).head()["embedding"]]
        single = [(r["rank"], r["doc_id"], r["rrf_score"],
                   r["lex_rank"], r["sem_rank"])
                  for r in hybrid_topk(eng, cand, q, qvec, k=5, depth=20,
                                       round_to=6).collect()]
        assert got[qid] == single, qid
    # the zero-hit lexical member still fuses from its semantic leg
    assert all(lr is None for _rk, _d, _s, lr, _sr in got[2])


# -- committed vector artifacts + tombstoned vector segments (round 5) --------


def test_vector_artifact_matches_ivf_and_prunes_partitions(spark, tmp_path):
    """The committed partitionBy(bucket) store must return exactly
    ivf_sampled_topk's results, and the probe filter must reach the
    scan as a PARTITION filter (directories pruned, not rows)."""
    from prosearch_spark.index.vectors import save_vector_index
    from prosearch_spark.ops.similarity import ivf_sampled_topk

    emb = _toy_emb(spark, n=40)
    qvec = [float(x) for x in
            emb.filter(F.col("vec_id") == 0).head()["embedding"]]
    cand = emb.filter(F.col("vec_id") != 0)
    art = save_vector_index(spark, cand, str(tmp_path / "vec"),
                            n_centroids=4, round_to=6)
    got = art.topk(qvec, 5, n_probe=2, round_to=6)
    want = ivf_sampled_topk(cand, qvec, 5, n_centroids=4, n_probe=2,
                            round_to=6).collect()
    assert [tuple(r) for r in got.collect()] == [tuple(r) for r in want]
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "bucket" in plan
    # a second commit to the same dir must refuse (immutability)
    import pytest as _pytest
    with _pytest.raises(ValueError, match="already committed"):
        save_vector_index(spark, cand, str(tmp_path / "vec"))


def test_vector_segments_upsert_and_live_query(spark, tmp_path):
    """Upsert tombstones the OLD segment's rows only; the re-add in
    the new segment stays alive. Live top-k == flat cosine over the
    expected final table."""
    from prosearch_spark.index.vectors import VectorSegments
    from prosearch_spark.ops.similarity import cosine_topk

    old = _toy_emb(spark, n=20)                      # ids 0..19, gen-1 vecs
    new = _toy_emb(spark, n=30, dim=8).filter(
        F.col("vec_id") >= 10).select(
        "vec_id", F.reverse("embedding").alias("embedding"))  # ids 10..29
    segs = VectorSegments(spark, str(tmp_path / "vstack"))
    segs.commit(old)
    segs.upsert(new)
    expected = old.filter(F.col("vec_id") < 10).unionByName(new)
    qvec = [1.0, -2.0, 0.5, 3.0, -1.0, 0.0, 2.0, -0.5]
    got = [tuple(r) for r in segs.topk(qvec, 8, round_to=6).collect()]
    want = [tuple(r) for r in
            cosine_topk(expected, qvec, 8, round_to=6).collect()]
    assert got == want
    assert segs.live().count() == 30
    # batched serving over the live stack
    qs = spark.createDataFrame([(0, qvec)], "query_id int, qv array<float>")
    batch = segs.multi_topk(qs, 8, round_to=6).collect()
    assert [(r["rank"], r["vec_id"], r["cosine"]) for r in batch] == want


def test_vector_streaming_sink_idempotent_and_compacts(spark, tmp_path):
    """At-least-once protocol: re-delivered batch is a no-op; a
    crash-before-publish segment (dir written, pointer not swapped) is
    adopted, not rebuilt. compact_to folds tombstones physically and
    the IVF artifact over n_probe=n_centroids equals the live scan."""
    from prosearch_spark.index.vectors import VectorSegments
    from prosearch_spark.streaming.ingest import VectorStreamingIndexer

    ix = VectorStreamingIndexer(spark, str(tmp_path / "vsink"))
    b0 = _toy_emb(spark, n=12)
    b1 = _toy_emb(spark, n=24).filter(F.col("vec_id") >= 6).select(
        "vec_id", F.reverse("embedding").alias("embedding"))
    ix.process_batch(b0, 0)
    ix.process_batch(b1, 1)
    assert ix.segs.segment_names() == ["seg-b000000000", "seg-b000000001"]
    live_before = sorted(
        (r["vec_id"], tuple(r["embedding"]))
        for r in ix.segs.live().collect())
    ix.process_batch(b1, 1)  # re-delivery: already published -> no-op
    assert ix.segs.segment_names() == ["seg-b000000000", "seg-b000000001"]
    assert sorted((r["vec_id"], tuple(r["embedding"]))
                  for r in ix.segs.live().collect()) == live_before
    # crash-before-publish: segment dir fully written, pointer missing
    b2 = _toy_emb(spark, n=30).filter(F.col("vec_id") >= 24)
    orphan = VectorSegments(spark, str(tmp_path / "vsink"))
    b2.select(F.col("vec_id").cast("long").alias("vec_id"), "embedding") \
        .write.parquet(orphan._seg_path("seg-b000000002"))
    ix.process_batch(b2, 2)  # adopt completes the publish
    assert "seg-b000000002" in ix.segs.segment_names()
    assert ix.segs.live().count() == 30
    # crash mid-write: data files but no _SUCCESS marker — the replay
    # removes the never-published partial dir and re-runs the upsert
    import os

    b3 = _toy_emb(spark, n=30).filter(F.col("vec_id") >= 27).select(
        "vec_id", F.reverse("embedding").alias("embedding"))
    partial = orphan._seg_path("seg-b000000003")
    b3.write.parquet(partial)
    os.remove(os.path.join(partial, "_SUCCESS"))
    ix.process_batch(b3, 3)
    assert ix.segs.segment_names()[-1] == "seg-b000000003"
    assert ix.segs.live().count() == 30
    assert sorted((r["vec_id"], tuple(r["embedding"]))
                  for r in ix.segs.live().filter(F.col("vec_id") >= 27)
                  .collect()) == sorted(
        (r["vec_id"], tuple(r["embedding"])) for r in b3.collect())
    # physical compaction: every live row lands, tombstones are gone
    art = ix.segs.compact_to(str(tmp_path / "vivf"), n_centroids=4)
    assert art.manifest["n_vectors"] == 30
    qvec = [1.0, -2.0, 0.5, 3.0, -1.0, 0.0, 2.0, -0.5]
    full = [tuple(r) for r in
            art.topk(qvec, 6, n_probe=4, round_to=6).collect()]
    assert full == [tuple(r) for r in
                    ix.segs.topk(qvec, 6, round_to=6).collect()]


# -- MoreLikeThis ------------------------------------------------------------

def _mlt_engine(spark, rows):
    from prosearch_spark.index.build import build_index
    from prosearch_spark.query.engine import SearchEngine

    d = spark.createDataFrame(rows, "doc_id long, text string")
    return SearchEngine(spark, build_index(d, text_col="text"))


def test_more_like_this_selects_by_idf_and_excludes_seed(spark):
    """Seed terms rank by tf x idf on the 6dp grid: with max_terms=2
    and min_df=2, the seed's df=1 term is ineligible, the two shared
    terms are selected (rarer one scores higher), the doc matching
    BOTH selected terms outranks the one matching one, and the seed
    itself never appears."""
    eng = _mlt_engine(spark, [
        (0, "apple banana cherry"),       # seed; cherry df=1
        (1, "apple banana plum"),         # shares both selected terms
        (2, "apple kiwi kiwi"),           # shares apple only
        (3, "grape melon lemon"),         # shares nothing
    ])
    rows = eng.more_like_this(0, 10, max_terms=2, min_df=2,
                              round_to=6).collect()
    ids = [r["doc_id"] for r in rows]
    assert 0 not in ids and 3 not in ids
    assert ids == [1, 2]
    assert rows[0]["score"] > rows[1]["score"]


def test_more_like_this_max_terms_caps_selection(spark):
    """max_terms=1 keeps only the highest-(mscore, term ASC) term:
    'banana' (df 2) beats 'apple' (df 3) on idf, so doc 2 (apple-only)
    drops out of the match set entirely."""
    eng = _mlt_engine(spark, [
        (0, "apple banana cherry"),
        (1, "apple banana plum"),
        (2, "apple kiwi kiwi"),
        (3, "grape melon lemon"),
    ])
    ids = [r["doc_id"] for r in
           eng.more_like_this(0, 10, max_terms=1, min_df=2,
                              round_to=6).collect()]
    assert ids == [1]


def test_more_like_this_missing_seed_is_empty(spark):
    eng = _mlt_engine(spark, [(0, "apple banana"), (1, "apple plum")])
    out = eng.more_like_this(999, 10, round_to=6)
    assert out.columns == ["rank", "doc_id", "score"]
    assert out.count() == 0


def test_distinct_hosts_approx_error_bound(spark):
    """The 100 TB count-distinct twin: approx_count_distinct (HLL++)
    over a known-cardinality host column must land within the rsd
    contract's practical envelope (4 sigma at rsd=0.02 on 500 true
    distinct values), and the exact twin stays the ground truth. Like
    the percentiles sketch, no DuckDB-identical oracle can exist —
    this pytest is the executable evidence for the documented swap."""
    from prosearch_spark.functions.crawl_ops import (
        distinct_hosts,
        distinct_hosts_approx,
    )

    true_n = 500
    d = spark.range(10_000).select(
        F.concat(F.lit("host-"), (F.col("id") % true_n).cast("string"))
        .alias("repo"))
    assert distinct_hosts(d).count() == true_n
    out = distinct_hosts_approx(d, rsd=0.02).collect()
    assert [c for c in out[0].asDict()] == ["n_hosts_approx"]
    est = out[0]["n_hosts_approx"]
    assert abs(est - true_n) <= true_n * 0.08, est

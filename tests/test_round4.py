"""Round-4 behaviors: fielded mixed (phrase) queries, the mixed
engine's parsed-clause delegation, fielded disjunction + its WAND
ladder, segment-stack hardening (name collision, merge uniformity,
batched upsert probe), multi-probe LSH tie-breaks, facet counts, and
the space-usage report."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from prosearch_spark.query.bm25 import bm25_py

ROUND = 6


# -- fielded mixed (term + phrase) ------------------------------------------

@pytest.fixture(scope="module")
def fielded_pos_arts(spark, tmp_path_factory):
    """Tiny explicit two-field corpus where title vocabulary DIFFERS
    from body vocabulary (the derived-title fixtures can't express a
    title-only phrase), committed as per-field artifacts with a
    positional body."""
    from prosearch_spark.index.artifact import save_fielded_index

    docs = spark.createDataFrame(
        [
            (0, "alpha beta", "gamma delta epsilon zeta"),
            (1, "zeta eta", "gamma delta theta"),
            (2, "iota", "delta gamma kappa"),
        ],
        "doc_id long, title string, body string",
    )
    arts = save_fielded_index(
        spark, docs, str(tmp_path_factory.mktemp("fpos") / "fidx"),
        {"title": "title", "body": "body"},
        positional_fields=frozenset({"body"}),
    )
    return docs, arts


def test_fielded_phrase_scores_body_only(spark, fielded_pos_arts):
    """A phrase present only in a TITLE cannot match: title is
    record:basic (no positions), so phrases score in body only."""
    from prosearch_spark.query.fielded import FieldedBlockSearchEngine

    _docs, arts = fielded_pos_arts
    eng = FieldedBlockSearchEngine(spark, arts)
    assert eng.mixed_topk('"alpha beta"', 10, round_to=ROUND).count() == 0


def test_fielded_phrase_matches_in_body(spark, fielded_pos_arts):
    """Body phrase BM25: tf = phrase freq, df = phrase doc count in
    body, body dl/avgdl — hand-computed via bm25_py."""
    from prosearch_spark.query.fielded import FieldedBlockSearchEngine

    _docs, arts = fielded_pos_arts
    eng = FieldedBlockSearchEngine(spark, arts)
    rows = eng.mixed_topk('"gamma delta"', 10, round_to=ROUND).collect()
    # docs 0 and 1 contain "gamma delta" contiguously; doc 2 has the
    # reversed order only
    assert sorted(r["doc_id"] for r in rows) == [0, 1]
    avgdl_body = (4 + 3 + 3) / 3
    exp = {
        0: bm25_py(1, 2, 4, 3, avgdl_body),
        1: bm25_py(1, 2, 3, 3, avgdl_body),
    }
    for r in rows:
        assert r["score"] == pytest.approx(round(exp[r["doc_id"]], ROUND),
                                           abs=10 ** -ROUND)


def test_fielded_mixed_term_plus_phrase_keeps_field_boosts(
        spark, fielded_pos_arts):
    """'zeta "gamma delta"': the term clause scores title 1.5
    (record:basic tf=1, per-field df/stats) and body 1.0 wherever it
    appears; conjunction over distinct clauses."""
    from prosearch_spark.query.fielded import FieldedBlockSearchEngine

    _docs, arts = fielded_pos_arts
    eng = FieldedBlockSearchEngine(spark, arts)
    rows = eng.mixed_topk('zeta "gamma delta"', 10,
                          round_to=ROUND).collect()
    assert sorted(r["doc_id"] for r in rows) == [0, 1]
    avgdl_body = (4 + 3 + 3) / 3
    avgdl_title = (2 + 2 + 1) / 3
    phrase = {
        0: bm25_py(1, 2, 4, 3, avgdl_body),
        1: bm25_py(1, 2, 3, 3, avgdl_body),
    }
    exp = {
        # doc0: zeta in body only (tf 1, df_body(zeta)=1, dl 4)
        0: 1.0 * bm25_py(1, 1, 4, 3, avgdl_body) + phrase[0],
        # doc1: zeta in title only (record:basic tf=1, df_title=1, dl 2)
        1: 1.5 * bm25_py(1, 1, 2, 3, avgdl_title) + phrase[1],
    }
    for r in rows:
        assert r["score"] == pytest.approx(round(exp[r["doc_id"]], ROUND),
                                           abs=10 ** -ROUND)


def test_router_routes_fielded_quoted_to_fielded_mixed(
        spark, fielded_pos_arts, tmp_path):
    """A quoted query on a fielded deployment must keep field boosts:
    the router picks the fielded mixed plan (r3 sent it single-field)."""
    from prosearch_spark.index.artifact import save_index
    from prosearch_spark.query.serve import ArtifactSearcher

    docs, arts = fielded_pos_arts
    art = save_index(spark, docs, str(tmp_path / "flat"),
                     text_col="body", with_positions=True)
    s = ArtifactSearcher(spark, art, fielded=arts)
    hits, plan = s.route('zeta "gamma delta"', 10, round_to=ROUND)
    assert plan == "fielded_mixed"
    assert sorted(r["doc_id"] for r in hits.collect()) == [0, 1]


# -- mixed term-only delegation keeps parsed boosts -------------------------

def test_mixed_term_only_route_preserves_lenient_boosts(
        spark, corpus, tmp_path):
    """'"python" spark': the quoted token folds to boost 1.0; the
    block mixed engine must rank exactly like query/mixed (which
    scores the parsed clauses), NOT like a re-analysis that re-applies
    the 2.5 BOOST_TERMS multiplier (r3 ADVICE high finding)."""
    from prosearch_spark.analyzer import analyze_query
    from prosearch_spark.index.artifact import save_index
    from prosearch_spark.query.block_engine import BlockSearchEngine
    from prosearch_spark.query.mixed import mixed_topk

    art = save_index(spark, corpus, str(tmp_path / "pos"),
                     text_col="content", with_positions=True)
    q = '"python" spark'
    got = BlockSearchEngine(spark, art).mixed_topk(q, 10,
                                                   round_to=ROUND).collect()
    exp = mixed_topk(spark, corpus, q, 10, round_to=ROUND,
                     text_col="content").collect()
    assert [(r["rank"], r["doc_id"], r["score"]) for r in got] == \
        [(r["rank"], r["doc_id"], r["score"]) for r in exp]
    # the fix must BITE on this corpus: python matches docs, so the
    # re-analyzed boost (2.5) yields different scores
    boosted = BlockSearchEngine(spark, art).topk(
        "python spark", 10, round_to=ROUND,
        clauses=analyze_query("python spark")).collect()
    assert any(t in {"python"} for t, _ in analyze_query("python spark"))
    got_scores = {r["doc_id"]: r["score"] for r in got}
    boosted_scores = {r["doc_id"]: r["score"] for r in boosted}
    common = set(got_scores) & set(boosted_scores)
    assert common, "fixture corpus must match 'python spark'"
    assert any(got_scores[d] != boosted_scores[d] for d in common)


# -- fielded disjunction + fielded disjunctive WAND -------------------------

def test_fielded_topk_or_and_wand_or_agree(spark, corpus, tmp_path):
    from prosearch_spark.index.artifact import save_fielded_index
    from prosearch_spark.query.fielded import FieldedBlockSearchEngine

    titled = corpus.withColumn(
        "title", F.concat_ws(" ", F.slice(F.split("content", " "), 1, 4)))
    arts = save_fielded_index(spark, titled, str(tmp_path / "fidx"),
                              {"title": "title", "body": "content"})
    eng = FieldedBlockSearchEngine(spark, arts)
    q = "spark shuffle"
    flat = [(r["rank"], r["doc_id"], r["score"])
            for r in eng.topk_or(q, 10, round_to=ROUND).collect()]
    pruned, stats = eng.topk_wand_or(q, 10, round_to=ROUND,
                                     min_prune_blocks=0)
    assert [(r["rank"], r["doc_id"], r["score"])
            for r in pruned.collect()] == flat
    assert stats["blocks_decoded"] <= stats["blocks_total"]
    # disjunction is a superset of the conjunction's matches
    and_docs = {r["doc_id"] for r in eng.topk(q, 1000).collect()}
    or_docs = {r["doc_id"]
               for r in eng.topk_or(q, 1000, round_to=ROUND).collect()}
    assert and_docs <= or_docs


# -- segment-stack hardening -------------------------------------------------

def test_commit_name_skips_orphan_dir(spark, corpus, tmp_path):
    """A crash between save_index and _seal leaves an orphan seg dir at
    gen+1; the next default-named commit must skip it, not wedge."""
    from prosearch_spark.index.artifact import save_index
    from prosearch_spark.index.segments import SegmentedIndex

    si = SegmentedIndex(spark, str(tmp_path / "root"))
    si.commit(corpus.filter(F.col("doc_id") % 2 == 0), text_col="content")
    # simulate the crash: a fully-written, never-published segment dir
    # exactly where the next default name would land
    save_index(spark, corpus.filter(F.col("doc_id") % 2 == 1),
               str(tmp_path / "root" / "segments" / "seg-000002"),
               text_col="content")
    art = si.commit(corpus.filter(F.col("doc_id") % 2 == 1),
                    text_col="content")
    assert art.path.endswith("seg-000003")
    assert [e["name"] for e in si._pointer()["segments"]] == \
        ["seg-000001", "seg-000003"]
    # the orphan remains adoptable/GC-able
    assert si.gc() == ["seg-000002"]
    # a merge takes the next FREE name too: seg-000003 (gen 2 + 1) is
    # the live segment the skipped commit published
    from prosearch_spark.index.build import build_index
    from prosearch_spark.query.engine import SearchEngine

    assert si.force_merge()
    assert [e["name"] for e in si._pointer()["segments"]] == ["seg-000004"]
    flat = SearchEngine(spark, build_index(corpus, text_col="content"))
    assert [tuple(r) for r in si.topk("spark shuffle", 10,
                                      round_to=6).collect()] == \
        [tuple(r) for r in flat.topk("spark shuffle", 10,
                                     round_to=6).collect()]


def test_merge_refuses_heterogeneous_candidates(spark, corpus, tmp_path):
    from prosearch_spark.index.segments import SegmentedIndex

    si = SegmentedIndex(spark, str(tmp_path / "root"))
    si.commit(corpus.filter(F.col("doc_id") % 2 == 0), text_col="content",
              n_buckets=8)
    si.commit(corpus.filter(F.col("doc_id") % 2 == 1), text_col="content",
              n_buckets=16)
    names = [e["name"] for e in si._pointer()["segments"]]
    with pytest.raises(ValueError, match="not uniform"):
        si.merge_once(candidates=names)


def test_upsert_probe_is_one_job(spark, corpus, tmp_path, monkeypatch):
    """The tombstone probe must be ONE tagged union job + one delete
    write per HIT segment — independent of how many segments are
    alive (r3 verdict item 6)."""
    from prosearch_spark.index.segments import SegmentedIndex

    si = SegmentedIndex(spark, str(tmp_path / "root"))
    for i in range(5):
        si.commit(corpus.filter(F.col("doc_id") % 5 == i),
                  text_col="content")
    batch = corpus.filter(F.col("doc_id") % 5 == 2).limit(3)
    # isolate the probe/delete section: skip the trailing commit
    monkeypatch.setattr(
        SegmentedIndex, "commit",
        lambda self, docs, name=None, meta=None, store_cols=None,
        **kw: None)
    sc = spark.sparkContext
    sc.setJobGroup("upsert-probe", "round4 probe job count")
    try:
        si.upsert(batch, text_col="content")
    finally:
        sc.setJobGroup("", "")
    jobs = sc.statusTracker().getJobIdsForGroup("upsert-probe")
    # measured: 6 jobs at 5 segments (one multi-path footer read, the
    # ids broadcast, the distinct collect + its AQE stage, one delete
    # write) — FLAT in segment count. The r3 per-segment path measured
    # 14 jobs on the same stack (and scales ~2x per extra segment).
    assert 0 < len(jobs) <= 7, jobs


def test_space_usage_and_byte_merge_policy(spark, corpus, tmp_path):
    import os

    from prosearch_spark.index.segments import SegmentedIndex

    si = SegmentedIndex(spark, str(tmp_path / "root"), merge_factor=2)
    si.commit(corpus.filter(F.col("doc_id") % 2 == 0), text_col="content")
    si.commit(corpus.filter(F.col("doc_id") % 2 == 1), text_col="content")
    usage = si.space_usage()
    assert [u["name"] for u in usage] == ["seg-000001", "seg-000002"]
    for u in usage:
        assert u["blocks"] > 0 and u["total"] >= u["blocks"]
        # matches a direct filesystem walk
        seg = os.path.join(str(tmp_path / "root"), "segments", u["name"])
        walked = sum(
            os.path.getsize(os.path.join(r, f))
            for sub in ("blocks", "term_stats", "doc_stats")
            for r, _d, fs in os.walk(os.path.join(seg, sub)) for f in fs)
        assert u["blocks"] + u["term_stats"] + u["doc_stats"] == walked
    # byte-bucketed LogMergePolicy sees two same-magnitude segments
    assert si.merge_candidates(size_by="bytes") == \
        ["seg-000001", "seg-000002"]
    assert si.merge_once(size_by="bytes")
    assert len(si._pointer()["segments"]) == 1


# -- multi-probe LSH edge inputs --------------------------------------------

def test_multiprobe_tied_margins_flip_distinct_bits(spark):
    """Tied |margin| values must still produce (probes-1) DISTINCT
    flipped signatures (rank over (|margin|, index) structs — the r3
    array_position path returned the first occurrence for every rank)."""
    from prosearch_spark.ops.similarity import _banded_sigs

    df = spark.createDataFrame([(1, [1.0, 0.0])], "id long, v array<double>")
    # two IDENTICAL planes -> both margins tie at 1.0
    planes = [[1.0, 0.0], [1.0, 0.0]]
    sigs = df.select(F.explode(_banded_sigs(
        F.col("v"), planes, planes_per_table=2, n_tables=1, probes=3
    )).alias("e")).select("e.sig").collect()
    assert sorted(r["sig"] for r in sigs) == ["01", "10", "11"]


def test_multiprobe_clamps_past_plane_count(spark):
    """probes > planes_per_table + 1 must clamp, never index past the
    margin array into null signatures."""
    from prosearch_spark.ops.similarity import _banded_sigs

    df = spark.createDataFrame([(1, [1.0, -0.5])], "id long, v array<double>")
    planes = [[1.0, 0.0], [0.0, 1.0]]
    rows = df.select(F.explode(_banded_sigs(
        F.col("v"), planes, planes_per_table=2, n_tables=1, probes=10
    )).alias("e")).select("e.sig").collect()
    # clamped to base + 2 flips, all non-null
    assert len(rows) == 3
    assert all(r["sig"] is not None and len(r["sig"]) == 2 for r in rows)


# -- fields x segments --------------------------------------------------------

def test_fielded_over_segment_stacks_matches_flat(spark, corpus, tmp_path):
    """Per-field segment STACKS (each field its own SegmentedIndex,
    three commits each; title record:basic, body positional) queried
    through FieldedBlockSearchEngine via the delete-free union views —
    scores must bit-match the single-generation fielded artifacts
    (exact integer pointer totals give the identical avgdl division)."""
    from prosearch_spark.index.artifact import save_fielded_index
    from prosearch_spark.index.segments import SegmentedIndex
    from prosearch_spark.query.fielded import FieldedBlockSearchEngine

    titled = corpus.withColumn(
        "title", F.concat_ws(" ", F.slice(F.split("content", " "), 1, 4)))
    stacks = {}
    for field, col, kw in [
        ("title", "title", {"record_basic": True}),
        ("body", "content", {"with_positions": True}),
    ]:
        si = SegmentedIndex(spark, str(tmp_path / f"stack_{field}"))
        for i in range(3):
            si.commit(titled.filter(F.col("doc_id") % 3 == i),
                      text_col=col, **kw)
        stacks[field] = si.as_artifact()
    flat = save_fielded_index(
        spark, titled, str(tmp_path / "flat"),
        {"title": "title", "body": "content"},
        positional_fields=frozenset({"body"}))
    stack_eng = FieldedBlockSearchEngine(spark, stacks)
    flat_eng = FieldedBlockSearchEngine(spark, flat)
    for q in ["spark", "spark shuffle"]:
        a = [(r["doc_id"], r["score"])
             for r in stack_eng.topk(q, 10, round_to=ROUND).collect()]
        b = [(r["doc_id"], r["score"])
             for r in flat_eng.topk(q, 10, round_to=ROUND).collect()]
        assert a == b, q
    # fielded WAND and the fielded MIXED (phrase) engine run unchanged
    # over the stacks
    w, _st = stack_eng.topk_wand("spark", 10, round_to=ROUND)
    assert [(r["doc_id"], r["score"]) for r in w.collect()] == \
        [(r["doc_id"], r["score"])
         for r in flat_eng.topk("spark", 10, round_to=ROUND).collect()]
    qm = 'spark "the first"'
    a = [(r["doc_id"], r["score"])
         for r in stack_eng.mixed_topk(qm, 10, round_to=ROUND).collect()]
    b = [(r["doc_id"], r["score"])
         for r in flat_eng.mixed_topk(qm, 10, round_to=ROUND).collect()]
    assert a == b
    # batched msearch runs unchanged over the stacks too
    a = [(r["query_id"], r["rank"], r["doc_id"], r["score"])
         for r in stack_eng.multi_topk(["spark", "spark shuffle"], 5,
                                       round_to=ROUND).collect()]
    b = [(r["query_id"], r["rank"], r["doc_id"], r["score"])
         for r in flat_eng.multi_topk(["spark", "spark shuffle"], 5,
                                      round_to=ROUND).collect()]
    assert a == b


def test_fielded_mixed_prunes_and_stays_exact(spark, tmp_path):
    """Staged pruning over a fielded positional Zipf artifact: phrase
    term body blocks outside the rarest phrase term's ranges AND
    term-clause blocks (both fields) outside the first phrase's match
    doc ranges skip decode — result identical to the independent
    DuckDB twin (fielded_mixed_topk_sql over the raw corpus), scores
    at the round_to=6 cross-plan contract."""
    import duckdb

    from prosearch_spark.corpus import zipf_corpus
    from prosearch_spark.index.artifact import save_fielded_index
    from prosearch_spark.query.fielded import FieldedBlockSearchEngine
    from prosearch_spark.query.oracle_sql import fielded_mixed_topk_sql

    docs = zipf_corpus(spark, n_docs=6000, n_topics=8, region=512).cache()
    pq = str(tmp_path / "fmix_docs")
    docs.select("doc_id", F.col("content").alias("text")) \
        .coalesce(1).write.parquet(pq)
    titled = docs.withColumn(
        "title", F.concat_ws(" ", F.slice(F.split("content", " "), 1, 4)))
    arts = save_fielded_index(
        spark, titled, str(tmp_path / "fmix_idx"),
        {"title": "title", "body": "content"},
        positional_fields=frozenset({"body"}),
    )
    eng = FieldedBlockSearchEngine(spark, arts)
    q = 'z3_1 "z3_2 z3_3"'
    got, stats = eng.mixed_topk(q, 10, round_to=ROUND, return_stats=True)
    assert stats["blocks_decoded"] < stats["blocks_total"], stats
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{pq}/*.parquet'")
    exp = con.execute(fielded_mixed_topk_sql(q, 10, ROUND)).df()
    assert [(r["doc_id"], r["score"]) for r in got.collect()] == [
        (int(d), pytest.approx(float(s), abs=10 ** -ROUND))
        for d, s in zip(exp["doc_id"], exp["score"])
    ]
    docs.unpersist()


# -- batched msearch ----------------------------------------------------------

def test_multi_topk_matches_sequential(spark, corpus, tmp_path):
    """One batched job must reproduce each query's topk EXACTLY (same
    conjunction, round-before-rank, tie-break); a zero-hit query and a
    duplicated-term query ride along without perturbing the others."""
    from prosearch_spark.index.artifact import save_index
    from prosearch_spark.query.block_engine import BlockSearchEngine

    art = save_index(spark, corpus, str(tmp_path / "ms"),
                     text_col="content")
    blk = BlockSearchEngine(spark, art)
    queries = ["spark", "spark shuffle", "zzz qqq", "spark spark"]
    got = blk.multi_topk(queries, 5, round_to=ROUND).collect()
    by_q: dict[int, list] = {}
    for r in got:
        by_q.setdefault(r["query_id"], []).append(
            (r["rank"], r["doc_id"], r["score"]))
    for qi, q in enumerate(queries):
        exp = [(r["rank"], r["doc_id"], r["score"])
               for r in blk.topk(q, 5, round_to=ROUND).collect()]
        assert by_q.get(qi, []) == exp, q


def test_fielded_multi_topk_matches_sequential(spark, fielded_pos_arts):
    """The fielded batch must reproduce each query's fielded topk
    (title 1.5 / body 1.0, DISTINCT-clause conjunction) exactly."""
    from prosearch_spark.query.fielded import FieldedBlockSearchEngine

    _docs, arts = fielded_pos_arts
    eng = FieldedBlockSearchEngine(spark, arts)
    queries = ["gamma", "zeta eta", "nosuchterm", "delta gamma"]
    got = eng.multi_topk(queries, 5, round_to=ROUND).collect()
    by_q: dict[int, list] = {}
    for r in got:
        by_q.setdefault(r["query_id"], []).append(
            (r["rank"], r["doc_id"], r["score"]))
    for qi, q in enumerate(queries):
        exp = [(r["rank"], r["doc_id"], r["score"])
               for r in eng.topk(q, 5, round_to=ROUND).collect()]
        assert by_q.get(qi, []) == exp, q


def test_serve_msearch_mixed_batch(spark, corpus, tmp_path):
    """ArtifactSearcher.msearch splits a batch by plan shape: unquoted
    members ride the ONE multi_topk job, the quoted member routes
    through the mixed engine — query_ids keep the ORIGINAL list
    positions and every sub-result matches its per-query twin."""
    from prosearch_spark.index.artifact import save_index
    from prosearch_spark.query.serve import ArtifactSearcher

    art = save_index(spark, corpus, str(tmp_path / "msv"),
                     text_col="content", with_positions=True)
    s = ArtifactSearcher(spark, art, body_col="content")
    queries = ["spark", 'spark "the first"', "spark shuffle"]
    got = s.msearch(queries, 5, round_to=ROUND).collect()
    by_q: dict[int, list] = {}
    for r in got:
        by_q.setdefault(r["query_id"], []).append(
            (r["rank"], r["doc_id"], r["score"]))
    blk = s.block
    for qi, q in enumerate(queries):
        if '"' in q:
            exp = blk.mixed_topk(q, 5, round_to=ROUND)
        else:
            exp = blk.topk(q, 5, round_to=ROUND)
        assert by_q.get(qi, []) == [
            (r["rank"], r["doc_id"], r["score"]) for r in exp.collect()
        ], q


def test_serve_profile_reports_plan_and_stats(spark, corpus, tmp_path):
    """profile() dispatches like route() but surfaces each branch's
    pruning counters (the reference wraps every search in a timer
    tree, serve.rs:412-419)."""
    from prosearch_spark.index.artifact import save_index
    from prosearch_spark.query.serve import ArtifactSearcher

    art = save_index(spark, corpus, str(tmp_path / "prof"),
                     text_col="content", with_positions=True)
    s = ArtifactSearcher(spark, art, body_col="content")
    p = s.profile('spark "the first"', 5)
    assert p["plan"] == "mixed"
    assert {"blocks_total", "blocks_decoded"} <= set(p["stats"])
    assert p["sec"] > 0
    p2 = s.profile("spark", 5)
    assert p2["plan"] == "wand"
    assert p2["num_hits"] > 0
    assert {"blocks_total", "blocks_decoded"} <= set(p2["stats"])


def test_multi_topk_empty_and_junk(spark, corpus):
    """An empty batch and a batch of only zero-clause queries return
    empty frames with the msearch schema."""
    from prosearch_spark.index.build import build_index
    from prosearch_spark.query.engine import MULTI_TOPK_SCHEMA, SearchEngine

    eng = SearchEngine(spark, build_index(corpus, text_col="content"))
    empty = eng.multi_topk([], 5)
    assert empty.count() == 0
    assert empty.schema == spark.createDataFrame(
        [], MULTI_TOPK_SCHEMA).schema
    assert eng.multi_topk(["", "   "], 5).count() == 0


# -- round-4 edge cases -------------------------------------------------------

def test_fielded_mixed_two_phrases(spark, fielded_pos_arts):
    """Two phrase clauses AND a term clause: every clause must hit
    (distinct clause ids), phrases both score body-only."""
    from prosearch_spark.query.fielded import FieldedBlockSearchEngine

    _docs, arts = fielded_pos_arts
    eng = FieldedBlockSearchEngine(spark, arts)
    # doc0 body: "gamma delta epsilon zeta" holds both phrases
    rows = eng.mixed_topk('"gamma delta" "epsilon zeta"', 10,
                          round_to=ROUND).collect()
    assert [r["doc_id"] for r in rows] == [0]
    avgdl_body = (4 + 3 + 3) / 3
    exp = (bm25_py(1, 2, 4, 3, avgdl_body)      # "gamma delta" df=2
           + bm25_py(1, 1, 4, 3, avgdl_body))   # "epsilon zeta" df=1
    assert rows[0]["score"] == pytest.approx(round(exp, ROUND),
                                             abs=10 ** -ROUND)


def test_wand_clauses_with_predicate(spark, corpus, tmp_path):
    """clauses override + fast-field predicate combined: the filtered
    WAND must equal the filtered flat engine under the same parsed
    clause list."""
    from pyspark.sql import functions as F

    from prosearch_spark.analyzer import parse_query_lenient
    from prosearch_spark.index.artifact import save_index
    from prosearch_spark.query.block_engine import BlockSearchEngine

    docs = corpus.withColumn("size", F.length("content").cast("long"))
    art = save_index(spark, docs, str(tmp_path / "wcp"),
                     text_col="content", fast_fields={"size": "size"})
    eng = BlockSearchEngine(spark, art)
    clauses = [c for kind, c in parse_query_lenient('"spark" shuffle')
               if kind == "term"]
    pred = "size >= 120"
    a, _st = eng.topk_wand("ignored", 10, round_to=ROUND,
                           min_prune_blocks=0, predicate=pred,
                           clauses=clauses)
    b = eng.topk_filtered("ignored", pred, 10, round_to=ROUND,
                          clauses=clauses)
    assert [(r["rank"], r["doc_id"], r["score"]) for r in a.collect()] \
        == [(r["rank"], r["doc_id"], r["score"]) for r in b.collect()]


def test_range_agg_unbounded_and_overlap(spark, corpus, tmp_path):
    from pyspark.sql import functions as F

    from prosearch_spark.index.artifact import save_index
    from prosearch_spark.query.block_engine import BlockSearchEngine

    docs = corpus.withColumn("size", F.length("content").cast("long"))
    art = save_index(spark, docs, str(tmp_path / "ra"),
                     text_col="content", fast_fields={"size": "size"})
    eng = BlockSearchEngine(spark, art)
    n_match = eng.count("spark").collect()[0]["hits"]
    got = {r["range_key"]: r["doc_count"]
           for r in eng.range_agg(
               "spark", "size",
               [(None, None), (None, 150.0), (100.0, None)]).collect()}
    # unbounded bucket counts every match; overlapping buckets both
    # count docs in [100, 150)
    assert got["*-*"] == n_match
    assert got["*-150"] + got["100-*"] >= n_match


def test_semantic_dedup_probes_and_clusters(spark):
    """semantic_dedup with multi-probe signatures: clusters are
    label-consistent (cluster_id = min member id; exactly one keep
    per cluster)."""
    import math

    from prosearch_spark.ops.similarity import semantic_dedup

    # three copies of one direction + two of an orthogonal one
    vecs = [(i, [1.0, 0.01 * i] + [0.0] * 6) for i in range(3)]
    vecs += [(10 + i, [0.0] * 6 + [1.0, 0.01 * i]) for i in range(2)]
    emb = spark.createDataFrame(vecs, "vec_id long, embedding array<double>")
    out = semantic_dedup(emb, k=3, threshold=0.9, n_planes=4, seed=7,
                         dim=8, n_tables=4, probes=2).collect()
    by_cluster: dict = {}
    for r in out:
        by_cluster.setdefault(r["cluster_id"], []).append(r)
    for cid, members in by_cluster.items():
        assert cid == min(m["vec_id"] for m in members)
        assert sum(m["keep"] for m in members) == 1
    # the two orthogonal groups never merge
    ids = {frozenset(m["vec_id"] for m in ms)
           for ms in by_cluster.values()}
    assert ids == {frozenset({0, 1, 2}), frozenset({10, 11})}


# -- dedup survivor selection -------------------------------------------------

def test_keep_best_picks_one_canonical_per_cluster(spark):
    from prosearch_spark.ops import dedup as dd

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "doc_id long, doc_id2 long")
    docs = spark.createDataFrame(
        [(1, 5), (2, 9), (3, 9), (10, 4), (11, 2), (99, 7)],
        "doc_id long, score long")
    clusters = dd.dup_clusters(pairs)
    out = {r["doc_id"]: (r["cluster_id"], r["keep"])
           for r in dd.keep_best(clusters, docs, "score").collect()}
    # cluster {1,2,3}: best score 9 tied between 2 and 3 -> lowest id 2
    assert out[2] == (1, True)
    assert out[1] == (1, False) and out[3] == (1, False)
    # cluster {10,11}: 10 wins on score
    assert out[10] == (10, True) and out[11] == (10, False)
    # doc 99 is in no cluster -> not in the output (nothing to drop)
    assert 99 not in out


# -- facet counts -------------------------------------------------------------

def test_facet_counts_prefix_semantics(spark, tmp_path):
    from prosearch_spark.index.artifact import save_index
    from prosearch_spark.query.block_engine import BlockSearchEngine

    docs = spark.createDataFrame(
        [
            (0, "spark join", ["lang/en/us", "src/a"]),
            (1, "spark merge", ["lang/en/gb", "src/a"]),
            (2, "other text", ["lang/de", "src/b"]),
            (3, "spark scan", ["lang/de", "src/b"]),
        ],
        "doc_id long, text string, facets array<string>",
    )
    art = save_index(spark, docs, str(tmp_path / "fc"), text_col="text",
                     fast_fields={"facets": "facets"})
    got = {(r["path"], r["doc_count"])
           for r in BlockSearchEngine(spark, art)
           .facet_counts("spark", "facets").collect()}
    # matches: docs 0,1,3
    assert got == {
        ("lang", 3), ("lang/en", 2), ("lang/en/us", 1), ("lang/en/gb", 1),
        ("lang/de", 1), ("src", 3), ("src/a", 2), ("src/b", 1),
    }

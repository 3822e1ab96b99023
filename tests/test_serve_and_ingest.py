"""Routed /api facade (Serp parity) + corrupt-row ingest (S2 PERMISSIVE)."""

from __future__ import annotations

from prosearch_spark.index.build import build_index


# -- S2: corrupt rows are skipped, not fatal (index.rs:69-88 logs and
#    skips bad JSON lines; Spark PERMISSIVE mode is the analog) -------

def test_corrupt_ndjson_rows_skipped(spark, tmp_path):
    p = str(tmp_path / "docs.json")
    rows = [
        '{"doc_id": 1, "text": "good one", "lang": "en"}',
        '{"doc_id": BROKEN',
        '{"doc_id": 2, "text": "also fine", "lang": "en"}',
        'not json at all',
    ]
    with open(p, "w") as f:
        f.write("\n".join(rows))
    df = (
        spark.read.schema("doc_id long, text string, lang string, _corrupt string")
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt")
        .json(p)
        .cache()  # Spark requires materialization to query _corrupt alone
    )
    good = df.filter("_corrupt IS NULL").drop("_corrupt")
    bad = df.filter("_corrupt IS NOT NULL")
    assert sorted(r["doc_id"] for r in good.collect()) == [1, 2]
    assert bad.count() == 2
    # and the good rows index cleanly
    idx = build_index(good, text_col="text")
    assert idx.postings.count() > 0


# -- routed serving over committed artifacts ---------------------------------

def test_artifact_searcher_routes_by_query_shape(spark, corpus, tmp_path):
    """One endpoint, three plans (serve.rs:407-419): term-only -> WAND,
    quoted -> mixed staged pruning, fielded config -> fielded WAND —
    and every branch returns the same exact hits as its dedicated
    engine."""
    from prosearch_spark.index.artifact import save_index
    from prosearch_spark.query.block_engine import BlockSearchEngine
    from prosearch_spark.query.serve import ArtifactSearcher

    art = save_index(spark, corpus, str(tmp_path / "art"),
                     text_col="content", with_positions=True)
    s = ArtifactSearcher(spark, art, body_col="content")
    eng = BlockSearchEngine(spark, art)

    hits, plan = s.route("spark shuffle", 5, round_to=6)
    assert plan == "wand"
    want, _ = eng.topk_wand("spark shuffle", 5, round_to=6)
    assert [tuple(r) for r in hits.collect()] == \
        [tuple(r) for r in want.collect()]

    hits, plan = s.route('python "spark shuffle"', 5, round_to=6)
    assert plan == "mixed"
    want = eng.mixed_topk('python "spark shuffle"', 5, round_to=6)
    assert [tuple(r) for r in hits.collect()] == \
        [tuple(r) for r in want.collect()]


def test_artifact_searcher_warmup_hits_every_branch(spark, corpus,
                                                    tmp_path):
    """Q11 on the production facade: warmup routes each query (term ->
    WAND, quoted -> mixed) and reports per-query seconds."""
    from prosearch_spark.index.artifact import save_index
    from prosearch_spark.query.serve import ArtifactSearcher

    art = save_index(spark, corpus, str(tmp_path / "artw"),
                     text_col="content", with_positions=True)
    s = ArtifactSearcher(spark, art, body_col="content")
    out = s.warmup(["spark", 'python "spark shuffle"'])
    assert set(out) == {"spark", 'python "spark shuffle"'}
    assert all(v > 0 for v in out.values())


def test_artifact_searcher_api_serp_shape(spark, corpus, tmp_path):
    from prosearch_spark.index.artifact import save_index
    from prosearch_spark.query.serve import ArtifactSearcher

    art = save_index(spark, corpus, str(tmp_path / "art2"),
                     text_col="content", with_positions=True)
    art.write_doc_store(corpus, ["content", "repo", "lang"])
    s = ArtifactSearcher(spark, art, body_col="content")
    serp = s.api("spark shuffle", nhits=5)
    assert serp["plan"] == "wand"
    assert 0 < serp["num_hits"] <= 5
    hit = serp["hits"][0]
    assert set(hit) == {"doc", "snip"}
    assert "content" not in hit["doc"]  # P1: body dropped
    assert {"rank", "doc_id", "score", "repo", "lang"} == set(hit["doc"])
    assert "<b>" in hit["snip"]

    serp = s.api('"spark shuffle"', nhits=3)
    assert serp["plan"] == "mixed"
    assert serp["num_hits"] >= 1

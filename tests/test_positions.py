"""Positional postings + phrase matching (record:position parity)."""

from __future__ import annotations

import pytest

from prosearch_spark.index.build import build_index
from prosearch_spark.index.positions import (
    phrase_matches,
    phrase_topk,
    positional_postings,
)


@pytest.fixture(scope="module")
def tiny(spark):
    rows = [
        (0, "alpha beta gamma alpha beta"),
        (1, "beta alpha beta gamma"),
        (2, "gamma gamma gamma"),
        (3, "alpha alpha beta"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_positions_recorded(spark, tiny):
    pp = positional_postings(tiny, text_col="text")
    rows = {(r["term"], r["doc_id"]): r for r in pp.collect()}
    assert rows[("alpha", 0)]["positions"] == [0, 3]
    assert rows[("beta", 0)]["positions"] == [1, 4]
    assert rows[("gamma", 2)]["positions"] == [0, 1, 2]
    assert rows[("alpha", 0)]["tf"] == 2
    assert rows[("alpha", 0)]["dl"] == 5


@pytest.mark.parametrize("phrase,expected", [
    ("alpha beta", {0: 2, 1: 1, 3: 1}),
    ("beta gamma", {0: 1, 1: 1}),
    ("gamma gamma", {2: 2}),          # duplicate-term phrase
    ("alpha alpha beta", {3: 1}),     # 3-term with repeat
    ("beta alpha beta", {1: 1}),
    ("beta beta", {}),       # never consecutive anywhere
    ("gamma alpha", {0: 1}),  # spans 'gamma alpha' in doc 0
])
def test_phrase_freq(spark, tiny, phrase, expected):
    pp = positional_postings(tiny, text_col="text")
    got = {r["doc_id"]: r["tf"]
           for r in phrase_matches(pp, phrase.split()).collect()}
    assert got == expected


def test_phrase_topk_ordering(spark, tiny):
    pp = positional_postings(tiny, text_col="text")
    stats = build_index(tiny, text_col="text").stats
    res = phrase_topk(spark, pp, stats, "alpha beta", 10).collect()
    # doc 0 has phrase_freq 2 -> highest score
    assert res[0]["doc_id"] == 0
    assert {r["doc_id"] for r in res} == {0, 1, 3}
    scores = [r["score"] for r in res]
    assert scores == sorted(scores, reverse=True)


def test_positional_artifact_roundtrip(spark, tiny, tmp_path):
    """Positions survive block encode -> commit -> load -> decode, and
    artifact phrase queries match the logical path exactly."""
    from prosearch_spark.index.artifact import save_index
    from prosearch_spark.query.block_engine import BlockSearchEngine

    art = save_index(spark, tiny, str(tmp_path / "pidx"), text_col="text",
                     with_positions=True)
    decoded = {
        (r["term"], r["doc_id"]): list(r["positions"])
        for r in art.postings(None).collect()
    }
    logical = {
        (r["term"], r["doc_id"]): list(r["positions"])
        for r in positional_postings(tiny, text_col="text").collect()
    }
    assert decoded == logical

    blk = BlockSearchEngine(spark, art)
    pp = positional_postings(tiny, text_col="text")
    stats = build_index(tiny, text_col="text").stats
    for phrase in ["alpha beta", "gamma gamma", "beta alpha beta"]:
        a = [(r["doc_id"], r["score"])
             for r in blk.phrase_topk(phrase, 10).collect()]
        b = [(r["doc_id"], r["score"])
             for r in phrase_topk(spark, pp, stats, phrase, 10).collect()]
        assert a == b, phrase


def test_positional_artifact_upsert_and_merge(spark, tiny, tmp_path):
    """Merging a positional artifact carries the doc store forward
    minus tombstones and keeps the positions phrase queries need."""
    from prosearch_spark.index.artifact import save_index
    from prosearch_spark.query.block_engine import BlockSearchEngine

    new_docs = spark.createDataFrame(
        [(1, "zeta eta zeta eta")], "doc_id long, text string")
    docs = tiny.filter("doc_id != 1").unionByName(new_docs)
    art2 = save_index(spark, docs, str(tmp_path / "g1"), text_col="text",
                      with_positions=True)
    art2.write_doc_store(docs, ["text"])
    art2.delete_docs(spark.createDataFrame([(0,)], "doc_id long"))
    art3 = art2.merge(str(tmp_path / "g2"))
    store = art3.doc_store()
    assert store is not None
    ids = {r["doc_id"] for r in store.collect()}
    assert 0 not in ids and 1 in ids
    m = BlockSearchEngine(spark, art3).phrase_topk("zeta eta", 10).collect()
    assert [r["doc_id"] for r in m] == [1]


def test_phrase_brute_force_parity(spark, corpus):
    """Phrase frequency == naive string-window count on the synthetic
    corpus (independent Python check)."""
    from prosearch_spark.analyzer import white_lower_py

    pp = positional_postings(corpus, text_col="content")
    got = {r["doc_id"]: r["tf"]
           for r in phrase_matches(pp, ["return", "the"]).collect()}
    exp = {}
    for row in corpus.select("doc_id", "content").collect():
        toks = white_lower_py(row["content"])
        n = sum(
            1 for i in range(len(toks) - 1)
            if toks[i] == "return" and toks[i + 1] == "the"
        )
        if n:
            exp[row["doc_id"]] = n
    assert got == exp


def test_mixed_blocks_prunes_and_stays_exact(spark, tmp_path):
    """Mixed term+phrase over a positional Zipf artifact: term-clause
    blocks outside the rarest clause term's ranges and phrase-term
    blocks outside the phrase's rarest term's ranges are skipped before
    decode — result identical to the logical mixed engine, phrase df
    included (round_to=6 per the cross-plan comparison contract)."""
    from prosearch_spark.corpus import zipf_corpus
    from prosearch_spark.index.artifact import save_index
    from prosearch_spark.query.block_engine import BlockSearchEngine
    from prosearch_spark.query.mixed import mixed_topk

    docs = zipf_corpus(spark, n_docs=6000, n_topics=8, region=512).cache()
    art = save_index(spark, docs, str(tmp_path / "mixzipf"),
                     text_col="content", with_positions=True)
    blk = BlockSearchEngine(spark, art)
    q = 'z3_1 "z3_2 z3_3"'
    got, stats = blk.mixed_topk(q, 10, round_to=6, return_stats=True)
    exp = mixed_topk(spark, docs, q, 10, round_to=6, text_col="content")
    assert [(r["doc_id"], r["score"]) for r in got.collect()] == \
        [(r["doc_id"], r["score"]) for r in exp.collect()]
    assert stats["blocks_decoded"] < stats["blocks_total"], stats
    docs.unpersist()


def test_mixed_blocks_term_only_delegates_to_wand(spark, tmp_path):
    """A lenient query that parses to term clauses only IS a
    conjunction: the block mixed engine routes it through the
    score-based WAND ladder (stats carry the ladder's keys) and the
    result matches the unpruned AND path exactly."""
    from prosearch_spark.corpus import zipf_corpus
    from prosearch_spark.index.artifact import save_index
    from prosearch_spark.query.block_engine import BlockSearchEngine

    docs = zipf_corpus(spark, n_docs=6000, n_topics=8, region=512)
    art = save_index(spark, docs, str(tmp_path / "mixzipf2"),
                     text_col="content", with_positions=True)
    blk = BlockSearchEngine(spark, art)
    got, stats = blk.mixed_topk("z3_1 z3_2", 10, round_to=6,
                                return_stats=True)
    # WAND-ladder stats contract (short-circuit or full ladder)
    assert "blocks_total" in stats and stats["blocks_total"] > 0
    assert ("short_circuit" in stats or "blocks_seed" in stats
            or "seed_capped" in stats), stats
    exp = blk.topk("z3_1 z3_2", 10, round_to=6)
    assert [(r["doc_id"], r["score"]) for r in got.collect()] == \
        [(r["doc_id"], r["score"]) for r in exp.collect()]


def test_phrase_prefix_matches_union(spark, tiny):
    """MultiPhraseQuery last-slot union: 'alpha <any>' counts every
    completion; 'beta g*' expands to gamma only; empty expansion ->
    empty; no fixed terms -> error pointing at the prefix engine."""
    from prosearch_spark.index.positions import phrase_prefix_matches

    pp = positional_postings(tiny, text_col="text")
    got = {r["doc_id"]: r["tf"]
           for r in phrase_prefix_matches(
               pp, ["alpha"], ["alpha", "beta", "gamma"]).collect()}
    assert got == {0: 2, 1: 1, 3: 2}

    got = {r["doc_id"]: r["tf"]
           for r in phrase_prefix_matches(pp, ["beta"], ["gamma"]).collect()}
    assert got == {0: 1, 1: 1}

    assert phrase_prefix_matches(pp, ["alpha"], []).count() == 0
    with pytest.raises(ValueError, match="prefix_clauses"):
        phrase_prefix_matches(pp, [], ["beta"])


def test_phrase_prefix_topk_exact_phrase_degenerate(spark, tiny):
    """A prefix expanding to exactly one term scores identically to
    the exact phrase (same synthetic-term df/tf)."""
    from prosearch_spark.index.positions import (
        phrase_prefix_topk,
        phrase_topk,
    )

    pp = positional_postings(tiny, text_col="text")
    stats = build_index(tiny, text_col="text").stats
    a = [(r["doc_id"], r["score"])
         for r in phrase_prefix_topk(spark, pp, stats, "alpha", "b",
                                     10, round_to=6).collect()]
    b = [(r["doc_id"], r["score"])
         for r in phrase_topk(spark, pp, stats, "alpha beta",
                              10, round_to=6).collect()]
    assert a == b and len(a) == 3

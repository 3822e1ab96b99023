"""The one Block-Max WAND ladder (query/wand.py) and the one mixed
ladder (query/mixed.py): single-field is the one-field case of the
fielded engine, and zero-clause queries return no hits on every
engine and through the router."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from prosearch_spark.index.artifact import save_fielded_index, save_index
from prosearch_spark.query import block_engine
from prosearch_spark.query.block_engine import BlockSearchEngine
from prosearch_spark.query.fielded import FieldedBlockSearchEngine
from prosearch_spark.query.serve import ArtifactSearcher


def _skew_artifact(spark, path):
    """Four heavy (needle, haystack) docs among 2000 light ones."""
    rows = []
    for i in range(2000):
        tf = 40 if i % 500 == 0 else 1
        body = ["needle"] * tf + ["haystack"] * tf + ["filler", f"x{i}"]
        rows.append((i, " ".join(body)))
    docs = spark.createDataFrame(rows, "doc_id long, content string") \
        .withColumn("lang", F.lit("md"))
    return save_index(spark, docs, path, text_col="content")


def _live_stack(spark, corpus, root, with_positions=False):
    """A tombstoned segment stack: every 5th doc upserted."""
    from prosearch_spark.index.segments import SegmentedIndex

    si = SegmentedIndex(spark, root, merge_factor=8)
    stale = F.col("doc_id") % 5 == 0
    si.commit(corpus.withColumn(
        "content", F.when(stale, F.lit("stale placeholder"))
        .otherwise(F.col("content"))), text_col="content",
        with_positions=with_positions)
    si.upsert(corpus.filter(stale), text_col="content",
              with_positions=with_positions)
    view = si.as_artifact()
    assert view.deletes() is not None
    return view


@pytest.mark.parametrize("fixture,q", [("skew", "needle haystack"),
                                       ("live", "spark shuffle")])
def test_one_field_fielded_is_the_flat_ladder(spark, corpus, tmp_path,
                                              fixture, q):
    """A one-field fielded deployment with boost 1.0 runs the same
    ladder as the single-field engine: identical hits AND identical
    pruning stats, conjunctive and disjunctive, forced and default."""
    art = (_skew_artifact(spark, str(tmp_path / "skew"))
           if fixture == "skew"
           else _live_stack(spark, corpus, str(tmp_path / "live")))
    flat = BlockSearchEngine(spark, art)
    fld = FieldedBlockSearchEngine(spark, {"body": art}, {"body": 1.0})
    for method in ("topk_wand", "topk_wand_or"):
        for mp in (0, None):
            want, wstats = getattr(flat, method)(q, 4, round_to=6,
                                                 min_prune_blocks=mp)
            got, gstats = getattr(fld, method)(q, 4, round_to=6,
                                               min_prune_blocks=mp)
            assert [tuple(r) for r in got.collect()] == \
                [tuple(r) for r in want.collect()], (method, mp)
            assert gstats == wstats, (method, mp)
            if (fixture, method, mp) == ("skew", "topk_wand", 0):
                # the forced conjunctive ladder really prunes here
                assert wstats["blocks_decoded"] < wstats["blocks_total"]


# exact phrase, slop, term + phrase, and a term-only quoted parse
MIXED_QUERIES = ['"spark shuffle"', '"spark shuffle"~2',
                 'python "spark shuffle"', '"python" spark']


def _rows(df):
    return [tuple(r) for r in df.collect()]


@pytest.mark.parametrize("fixture", ["clean", "live"])
def test_one_field_fielded_is_the_flat_mixed_ladder(spark, corpus,
                                                    tmp_path, fixture):
    """A one-field positional fielded deployment runs the same mixed
    ladder as the single-field positional artifact: identical hits AND
    identical return_stats for every clause shape, and identical
    batched msearch rows."""
    if fixture == "clean":
        art = save_fielded_index(
            spark, corpus, str(tmp_path / "clean"), {"body": "content"},
            positional_fields=frozenset({"body"}))["body"]
    else:
        art = _live_stack(spark, corpus, str(tmp_path / "live"),
                          with_positions=True)
    flat = BlockSearchEngine(spark, art)
    fld = FieldedBlockSearchEngine(spark, {"body": art}, {"body": 1.0})
    for q in MIXED_QUERIES:
        want, wstats = flat.mixed_topk(q, 5, round_to=6, return_stats=True)
        got, gstats = fld.mixed_topk(q, 5, round_to=6, return_stats=True)
        assert _rows(got) == _rows(want) != [], q
        assert gstats == wstats, q
    assert _rows(fld.multi_mixed_topk(MIXED_QUERIES, 5, round_to=6)) == \
        _rows(flat.multi_mixed_topk(MIXED_QUERIES, 5, round_to=6))


def test_mixed_over_cap_fallback_is_exact(spark, corpus, tmp_path,
                                          monkeypatch):
    """A first-phrase match set over SEED_BLOCK_CAP doc ids prunes the
    term-clause blocks by the phrase's rarest-term body ranges instead
    of its match ranges: same hits on both engines. The ladder reads
    the cap at call time."""
    fdocs = corpus.withColumn(
        "title", F.concat_ws(" ", F.slice(F.split("content", " "), 1, 4)))
    farts = save_fielded_index(spark, fdocs, str(tmp_path / "fld"),
                               {"title": "title", "body": "content"},
                               positional_fields=frozenset({"body"}))
    engines = [BlockSearchEngine(spark, farts["body"]),
               FieldedBlockSearchEngine(spark, farts)]
    q = 'python "spark shuffle"'
    # the phrase matches more docs than the patched cap
    assert engines[0].mixed_topk('"spark shuffle"', 10).count() > 1
    want = [_rows(e.mixed_topk(q, 10, round_to=6)) for e in engines]
    assert all(want)
    monkeypatch.setattr(block_engine, "SEED_BLOCK_CAP", 1)
    assert [_rows(e.mixed_topk(q, 10, round_to=6))
            for e in engines] == want


def test_zero_clause_queries_return_no_hits(spark, corpus, tmp_path):
    """An empty or blank query has no clauses: every WAND engine and
    the router on a flat and on a fielded deployment answer with zero
    hits (the fielded ladder used to raise on the rarest-term pick)."""
    art = save_index(spark, corpus, str(tmp_path / "flat"),
                     text_col="content", with_positions=True)
    art.write_doc_store(corpus, ["content", "repo", "lang"])
    fdocs = corpus.withColumn(
        "title", F.concat_ws(" ", F.slice(F.split("content", " "), 1, 4)))
    farts = save_fielded_index(spark, fdocs, str(tmp_path / "fld"),
                               {"title": "title", "body": "content"},
                               positional_fields=frozenset({"body"}))
    engines = [BlockSearchEngine(spark, art),
               FieldedBlockSearchEngine(spark, farts)]
    searchers = [ArtifactSearcher(spark, art, body_col="content"),
                 ArtifactSearcher(spark, art, fielded=farts,
                                  body_col="content")]
    for q in ("", "   "):
        for eng in engines:
            for method in ("topk_wand", "topk_wand_or"):
                hits, stats = getattr(eng, method)(q, 5, round_to=6)
                assert hits.count() == 0, (type(eng).__name__, method, q)
                assert stats["blocks_decoded"] == 0
        for s in searchers:
            hits, _plan = s.route(q, 5, round_to=6)
            assert hits.count() == 0
            serp = s.api(q, nhits=5)
            assert serp["num_hits"] == 0 and serp["hits"] == []
            assert s.profile(q, 5)["num_hits"] == 0

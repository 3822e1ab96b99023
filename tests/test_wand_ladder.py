"""The one Block-Max WAND ladder (query/wand.py): single-field is the
one-field case of the fielded engine, and zero-clause queries return
no hits on every engine and through the router."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from prosearch_spark.index.artifact import save_fielded_index, save_index
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


def _live_stack(spark, corpus, root):
    """A tombstoned segment stack: every 5th doc upserted."""
    from prosearch_spark.index.segments import SegmentedIndex

    si = SegmentedIndex(spark, root, merge_factor=8)
    stale = F.col("doc_id") % 5 == 0
    si.commit(corpus.withColumn(
        "content", F.when(stale, F.lit("stale placeholder"))
        .otherwise(F.col("content"))), text_col="content")
    si.upsert(corpus.filter(stale), text_col="content")
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

"""The per-generation read snapshot: an IndexArtifact infers each
committed subtree's parquet schema once (a schema-less read runs a
footer job) and builds its stats frame once; the held schema never
hides new data, and no module reads parquet around it."""

from __future__ import annotations

import ast
import glob
import os

import pytest
from pyspark.sql import functions as F

from prosearch_spark.index.artifact import IndexArtifact, save_index, \
    term_buckets_py
from prosearch_spark.index.segments import SegmentedIndex

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SUBTREES = ("blocks", "term_stats", "doc_stats", "doc_store")


@pytest.fixture(scope="module")
def art(spark, corpus, tmp_path_factory):
    a = save_index(spark, corpus, str(tmp_path_factory.mktemp("snap")),
                   text_col="content",
                   fast_fields={"clen": "doc_id"})
    a.write_doc_store(corpus, ["content", "repo"])
    return a


def _tagged(spark, group, thunk):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        return thunk()
    finally:
        sc.setJobGroup("", "")


def test_held_schema_reads_equal_fresh_inference(spark, art, group_jobs):
    """Every subtree read after the first passes the held schema: no
    job, and the same schema and rows as a fresh inferred read."""
    a = IndexArtifact.load(spark, art.path)
    for sub in SUBTREES:
        a._read(sub)
        held = _tagged(spark, f"snap-{sub}", lambda: a._read(sub))
        fresh = spark.read.parquet(os.path.join(art.path, sub))
        assert group_jobs(f"snap-{sub}") == [], sub
        assert held.schema == fresh.schema, sub
        assert sorted(held.collect()) == sorted(fresh.collect()), sub
    assert sorted(a._schemas) == sorted(SUBTREES)


def test_stack_reads_reuse_the_segments_schema(spark, corpus, tmp_path,
                                               group_jobs):
    """The live view's multi-path bucket and doc_stats scans hold
    their schema by read shape (leaf tb= paths carry no tb column) and
    equal a fresh multi-path read."""
    si = SegmentedIndex(spark, str(tmp_path / "snapstack"))
    for i in range(2):
        si.commit(corpus.filter(F.col("doc_id") % 2 == i),
                  text_col="content")
    view = si.as_artifact()
    segs = [s.path for s in view._segments]
    b = term_buckets_py(["spark"], view._segments[0].n_buckets,
                        spark)["spark"]
    fresh = {
        "blocks": spark.read.parquet(*[
            p for s in segs
            if os.path.isdir(p := os.path.join(s, "blocks", f"tb={b}"))]),
        "doc_stats": spark.read.parquet(
            *[os.path.join(s, "doc_stats") for s in segs]),
    }
    reads = {"blocks": lambda: view.blocks(["spark"]),
             "doc_stats": view.doc_stats}
    for name, read in reads.items():
        read()
        held = _tagged(spark, f"snapstack-{name}", read)
        assert group_jobs(f"snapstack-{name}") == [], name
        assert held.schema == fresh[name].schema, name
        assert sorted(held.collect()) == sorted(
            fresh[name].filter(F.col("term") == "spark").collect()
            if name == "blocks" else fresh[name].collect()), name
    assert "tb" not in view._segments[0]._schemas["blocks/tb"].names
    assert "doc_stats" in view._segments[0]._schemas


def test_rewritten_doc_store_serves_new_columns(spark, corpus, tmp_path):
    from prosearch_spark.query.serve import ArtifactSearcher

    a = save_index(spark, corpus, str(tmp_path / "store2"),
                   text_col="content")
    a.write_doc_store(corpus, ["content"])
    s = ArtifactSearcher(spark, a, body_col="content")
    assert set(s.api("spark", 3)["hits"][0]["doc"]) == {
        "rank", "doc_id", "score"}
    a.write_doc_store(corpus, ["content", "repo", "lang"])
    assert a.doc_store().columns == ["doc_id", "content", "repo", "lang"]
    assert set(s.api("spark", 3)["hits"][0]["doc"]) == {
        "rank", "doc_id", "score", "repo", "lang"}


def test_deletes_appended_after_a_read_are_honoured(spark, corpus,
                                                    tmp_path):
    a = save_index(spark, corpus, str(tmp_path / "dels"),
                   text_col="content")
    ids = sorted({r["doc_id"] for r in
                  a.postings(["spark"]).select("doc_id").collect()})
    assert len(ids) >= 2 and a.deletes() is None
    for n, doc in enumerate(ids[:2], start=1):
        a.delete_docs(spark.range(doc, doc + 1).select(
            F.col("id").alias("doc_id")))
        assert a.deletes().count() == n
        alive = {r["doc_id"] for r in
                 a.postings(["spark"]).select("doc_id").collect()}
        assert alive == set(ids[n:])


def test_stats_built_once_per_generation(spark, art):
    want = spark.createDataFrame(
        [(art.manifest["n_docs"], art.manifest["avgdl"])],
        "n_docs long, avgdl double")
    assert art.stats() is art.stats()
    assert art.stats().schema == want.schema
    assert art.stats().collect() == want.collect()
    other = IndexArtifact.load(spark, art.path)
    assert other.stats() is not art.stats()
    assert other.stats().collect() == want.collect()


def test_parquet_reads_only_in_snapshot_reader():
    """A schema-less ``read.parquet`` runs a footer job on every call:
    the index artifact, segment stack and query modules read parquet
    only inside ``artifact.read_parquet``."""
    paths = [os.path.join(ROOT, "prosearch_spark", "index", f)
             for f in ("artifact.py", "segments.py")] + sorted(glob.glob(
                 os.path.join(ROOT, "prosearch_spark", "query", "*.py")))
    assert len(paths) > 8
    bad = []
    for path in paths:
        rel = os.path.relpath(path, ROOT)
        with open(path, encoding="utf-8") as f:
            tree = ast.parse(f.read(), filename=path)
        funcs = [n for n in ast.walk(tree)
                 if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef))]
        for node in ast.walk(tree):
            if not (isinstance(node, ast.Call)
                    and isinstance(node.func, ast.Attribute)
                    and node.func.attr == "parquet"
                    and any(isinstance(n, ast.Attribute) and n.attr == "read"
                            for n in ast.walk(node.func.value))):
                continue
            owner = next((fn.name for fn in funcs
                          if fn.lineno <= node.lineno <= fn.end_lineno),
                         None)
            if (rel, owner) != ("prosearch_spark/index/artifact.py",
                                "read_parquet"):
                bad.append(f"{rel}:{node.lineno} ({owner})")
    assert not bad, "\n".join(bad)

"""Block encoding, artifact commit/load, delete/merge semantics
(FIXTURES.md §5; reference B3-B7)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from prosearch_spark.index.artifact import IndexArtifact, save_index
from prosearch_spark.index.blocks import (
    decode_blocks,
    decode_varints,
    encode_blocks,
    encode_varints,
)
from prosearch_spark.index.build import build_index
from prosearch_spark.query.block_engine import BlockSearchEngine
from prosearch_spark.query.engine import SearchEngine


def test_varint_roundtrip():
    vals = [0, 1, 127, 128, 300, 2**20, 2**35, 2**60]
    assert decode_varints(encode_varints(vals)) == vals
    assert encode_varints([0]) == b"\x00"
    assert encode_varints([300]) == b"\xac\x02"


def test_block_roundtrip(spark, corpus):
    idx = build_index(corpus, text_col="content")
    flat = idx.postings.select("term", "doc_id", "tf", "dl")
    blocks = encode_blocks(flat, num_partitions=4)
    back = decode_blocks(blocks)
    a = sorted(map(tuple, flat.collect()))
    b = sorted(map(tuple, back.collect()))
    assert a == b


def test_block_metadata(spark, corpus):
    idx = build_index(corpus, text_col="content")
    blocks = encode_blocks(idx.postings, num_partitions=4).collect()
    for r in blocks:
        docs = decode_varints(r["docs"])
        tfs = decode_varints(r["tfs"])
        assert len(docs) == r["n"] == len(tfs)
        assert docs[0] == 0  # first delta
        assert r["n"] <= 128
        assert max(tfs) == r["max_tf"]
        abs_docs = []
        d = r["first_doc"]
        for delta in docs:
            d += delta
            abs_docs.append(d)
        assert abs_docs[-1] == r["last_doc"]
        assert abs_docs == sorted(abs_docs)


@pytest.fixture(scope="module")
def artifact(spark, corpus, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("idx"))
    return save_index(spark, corpus, path, text_col="content")


def test_artifact_roundtrip_query_parity(spark, corpus, artifact):
    flat = SearchEngine(spark, build_index(corpus, text_col="content"))
    blk = BlockSearchEngine(spark, IndexArtifact.load(spark, artifact.path))
    for q in ["spark", "spark shuffle", "python merge", "nonexistent",
              "return the", "spark spark"]:
        a = [(r["doc_id"], r["score"]) for r in flat.topk(q, 10).collect()]
        b = [(r["doc_id"], r["score"]) for r in blk.topk(q, 10).collect()]
        assert a == b, q


def test_artifact_count_parity(spark, corpus, artifact):
    flat = SearchEngine(spark, build_index(corpus, text_col="content"))
    blk = BlockSearchEngine(spark, artifact)
    for q in ["spark", "spark shuffle"]:
        assert (
            flat.count(q).collect()[0]["hits"]
            == blk.count(q).collect()[0]["hits"]
        )


def test_deletes_hide_docs_until_merge(spark, corpus, tmp_path):
    path = str(tmp_path / "gen0")
    art = save_index(spark, corpus, path, text_col="content")
    eng = BlockSearchEngine(spark, art)
    before = eng.topk("spark", 5).collect()
    assert before
    victim = before[0]["doc_id"]

    art.delete_docs(spark.createDataFrame([(victim,)], "doc_id long"))
    after = eng.topk("spark", 5).collect()
    assert victim not in [r["doc_id"] for r in after]
    # rank order of survivors unchanged (df/avgdl drift until merge,
    # like the reference alive-bitset)
    assert [r["doc_id"] for r in after][:4] == \
        [r["doc_id"] for r in before if r["doc_id"] != victim][:4]

    merged = art.merge(str(tmp_path / "gen1"))
    assert merged.manifest["n_docs"] == art.manifest["n_docs"] - 1
    eng2 = BlockSearchEngine(spark, merged)
    assert victim not in [r["doc_id"] for r in eng2.topk("spark", 10).collect()]


def test_doc_store_and_space_usage(spark, corpus, artifact):
    artifact.write_doc_store(corpus, ["repo", "path", "lang"])
    eng = BlockSearchEngine(spark, artifact)
    hits = eng.topk("spark", 5)
    fetched = artifact.fetch_docs(hits)
    rows = fetched.orderBy("rank").collect()
    assert len(rows) == 5
    assert {"doc_id", "repo", "path", "lang", "rank", "score"} <= set(fetched.columns)
    # stored fields agree with the source
    src = {r["doc_id"]: r["repo"] for r in corpus.collect()}
    for r in rows:
        assert r["repo"] == src[r["doc_id"]]

    su = artifact.space_usage()
    assert su["blocks"] > 0 and su["doc_store"] > 0
    assert su["total"] >= su["blocks"] + su["doc_store"]
    assert su["n_docs"] == artifact.manifest["n_docs"]


def test_and_range_pruning_correct(spark, corpus, artifact):
    """Doc-range pruning must not lose any conjunctive match."""
    flat = SearchEngine(spark, build_index(corpus, text_col="content"))
    blk = BlockSearchEngine(spark, artifact)
    for q in ["return the", "spark merge commit"]:
        a = sorted(r["doc_id"] for r in flat.match_scan(q).collect())
        b = sorted(r["doc_id"] for r in blk.match_scan(q).collect())
        assert a == b, q


def test_merge_keeps_zero_token_docs_store(spark, tmp_path):
    """A doc with empty text has no postings but exists in doc_stats /
    n_docs — merge must not drop its stored fields (r2 review)."""
    from pyspark.sql import functions as F

    docs = spark.createDataFrame(
        [(0, "spark join", "a"), (1, "", "b"), (2, "hash spark", "c")],
        "doc_id long, content string, title string",
    ).withColumn("lang", F.lit("md"))
    art = save_index(spark, docs, str(tmp_path / "g0"), text_col="content")
    art.write_doc_store(docs, ["title"])
    assert art.manifest["n_docs"] == 3
    merged = art.merge(str(tmp_path / "g1"))
    assert merged.manifest["n_docs"] == 3
    store_ids = {r["doc_id"] for r in merged.doc_store().collect()}
    assert store_ids == {0, 1, 2}  # the empty doc's store row survives

"""Resume-from-checkpoint: kill after partial build -> resume ->
identical final index (FIXTURES.md §4; reference B11)."""

from __future__ import annotations

import pytest

from prosearch_spark.index.artifact import save_index
from prosearch_spark.index.lineage import ResumableIndexBuild
from prosearch_spark.query.block_engine import BlockSearchEngine


def test_crash_resume_identical_index(spark, corpus, tmp_path):
    # one-shot reference build
    ref = save_index(spark, corpus, str(tmp_path / "ref"), text_col="content")

    # crashing build: dies at split 2, before its lineage commit
    b = ResumableIndexBuild(spark, corpus, str(tmp_path / "ckpt"),
                            text_col="content", n_splits=4)
    with pytest.raises(RuntimeError, match="simulated crash"):
        b.run(fail_at_split=2)
    assert b.completed_splits() == {0, 1}
    with pytest.raises(RuntimeError, match="incomplete"):
        b.finalize()

    # resume: only the missing splits run
    rows = b.run()
    assert sorted(r["split_id"] for r in rows) == [2, 3]
    art, metrics = b.finalize()

    # final artifact == one-shot build (same postings, same stats)
    a = sorted(map(tuple, art.postings(None).collect()))
    r = sorted(map(tuple, ref.postings(None).collect()))
    assert a == r
    assert art.manifest["n_docs"] == ref.manifest["n_docs"]
    assert art.manifest["avgdl"] == pytest.approx(ref.manifest["avgdl"])

    # metrics accounting
    assert metrics.n_docs == ref.manifest["n_docs"]
    assert metrics.n_postings == len(a)
    assert metrics.files_per_sec > 0

    # per-row content invariant
    assert b.verify_content_sha()


def test_resume_is_noop_when_complete(spark, corpus, tmp_path):
    b = ResumableIndexBuild(spark, corpus, str(tmp_path / "ckpt2"),
                            text_col="content", n_splits=2)
    b.run()
    assert b.run() == []  # nothing left to do


def test_resumed_index_queryable(spark, corpus, tmp_path):
    b = ResumableIndexBuild(spark, corpus, str(tmp_path / "ckpt3"),
                            text_col="content", n_splits=3)
    b.run()
    art, _ = b.finalize()
    eng = BlockSearchEngine(spark, art)
    assert eng.topk("spark", 5).count() > 0


def test_finalize_is_rerunnable_after_manifest_publish(spark, corpus, tmp_path):
    """Crash window between manifest publish and metrics.json: a retry
    must complete idempotently, not refuse on the live manifest."""
    b = ResumableIndexBuild(spark, corpus, str(tmp_path / "ckpt4"),
                            text_col="content", n_splits=2)
    b.run()
    art1, m1 = b.finalize()
    # simulate the crash-after-publish state: metrics.json missing
    import os

    os.remove(str(tmp_path / "ckpt4" / "metrics.json"))
    art2, m2 = b.finalize()  # must NOT raise
    assert art2.manifest == art1.manifest
    assert m2.n_docs == m1.n_docs and m2.n_postings == m1.n_postings
    assert os.path.exists(str(tmp_path / "ckpt4" / "metrics.json"))


def test_crash_resume_positional_with_fast_fields(spark, corpus, tmp_path):
    """The production artifact shapes are crash-resumable too (r2
    verdict item 6): a positional build with a typed fast field dies
    mid-run, resumes, finalizes — and matches a one-shot
    save_index(with_positions=True, fast_fields=...) commit exactly
    (postings incl. positions, manifest flags, phrase query results),
    with the same per-split sha256-XOR invariant."""
    from pyspark.sql import functions as F

    docs = corpus.withColumn("n_chars", F.length("content"))
    ref = save_index(spark, docs, str(tmp_path / "refp"),
                     text_col="content", with_positions=True,
                     fast_fields={"n_chars": "n_chars"})

    b = ResumableIndexBuild(spark, docs, str(tmp_path / "ckptp"),
                            text_col="content", n_splits=4,
                            with_positions=True,
                            fast_fields={"n_chars": "n_chars"})
    with pytest.raises(RuntimeError, match="simulated crash"):
        b.run(fail_at_split=1)
    assert b.completed_splits() == {0}
    b.run()
    art, metrics = b.finalize()

    assert art.manifest["positions"] is True
    assert art.manifest["fast_fields"] == {"n_chars": "n_chars"}
    a = sorted((r["term"], r["doc_id"], r["tf"], tuple(r["positions"]))
               for r in art.postings(None).collect())
    r = sorted((r["term"], r["doc_id"], r["tf"], tuple(r["positions"]))
               for r in ref.postings(None).collect())
    assert a == r
    assert b.verify_content_sha()

    # phrase query over the resumed artifact == over the one-shot one
    from prosearch_spark.query.mixed import mixed_topk

    pa = BlockSearchEngine(spark, art).mixed_topk('"spark shuffle"', 5,
                                                  round_to=6).collect()
    pr = mixed_topk(spark, docs, '"spark shuffle"', 5, round_to=6,
                    text_col="content").collect()
    assert [(x["doc_id"], x["score"]) for x in pa] == \
        [(x["doc_id"], x["score"]) for x in pr] and pa
    # fast field carried into doc_stats
    assert "n_chars" in art.doc_stats().columns


def test_lineage_record_basic_matches_save_index(spark, corpus, tmp_path):
    """record:basic through the resumable path: tf==1 everywhere, dl
    keeps true token counts, same scores as the one-shot commit."""
    ref = save_index(spark, corpus, str(tmp_path / "refb"),
                     text_col="content", record_basic=True)
    b = ResumableIndexBuild(spark, corpus, str(tmp_path / "ckptb"),
                            text_col="content", n_splits=3,
                            record_basic=True)
    b.run()
    art, _ = b.finalize()
    assert art.manifest["record_basic"] is True
    assert art.postings(None).filter("tf <> 1").count() == 0
    a = BlockSearchEngine(spark, art).topk("spark", 5, round_to=6).collect()
    r = BlockSearchEngine(spark, ref).topk("spark", 5, round_to=6).collect()
    assert [(x["doc_id"], x["score"]) for x in a] == \
        [(x["doc_id"], x["score"]) for x in r]


def test_lineage_rejects_basic_positional_combo(spark, corpus, tmp_path):
    with pytest.raises(ValueError, match="mutually exclusive"):
        ResumableIndexBuild(spark, corpus, str(tmp_path / "bad"),
                            text_col="content", with_positions=True,
                            record_basic=True)

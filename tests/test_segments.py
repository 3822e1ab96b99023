"""Multi-segment stack: commit/search/merge-policy semantics
(reference: Tantivy commits seal segments, index.rs:191; merges
compact them, merge.rs:18-31; LogMergePolicy in the pinned library)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from prosearch_spark.index.artifact import save_index
from prosearch_spark.index.segments import SegmentedIndex
from prosearch_spark.query.engine import SearchEngine
from prosearch_spark.index.build import build_index


@pytest.fixture(scope="module")
def stacked(spark, corpus, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("segroot"))
    si = SegmentedIndex(spark, root, merge_factor=3)
    for i in range(3):
        si.commit(corpus.filter(F.col("doc_id") % 3 == i),
                  text_col="content")
    return si


def test_segmented_scores_match_single_build(spark, corpus, stacked):
    """Union view == one flat index over the same corpus, scores
    included (exact integer pointer totals make avgdl the identical
    float division)."""
    flat = SearchEngine(spark, build_index(corpus, text_col="content"))
    for q in ["spark", "spark shuffle", "the python"]:
        a = [(r["doc_id"], r["score"])
             for r in stacked.topk(q, 10, round_to=6).collect()]
        b = [(r["doc_id"], r["score"])
             for r in flat.topk(q, 10, round_to=6).collect()]
        assert a == b, q


def test_merge_policy_compacts_equal_buckets(spark, corpus, stacked):
    """Three same-bucket segments + merge_factor=3 -> one merge round
    collapses them; results unchanged; old segment dirs stay on disk
    for readers of the previous pointer."""
    before = [(r["doc_id"], r["score"])
              for r in stacked.topk("spark shuffle", 10,
                                    round_to=6).collect()]
    old_names = [e["name"] for e in stacked._pointer()["segments"]]
    assert stacked.merge_candidates() == sorted(old_names)[:3]
    assert stacked.merge_once() is True
    now = stacked._pointer()["segments"]
    assert len(now) == 1 and now[0]["name"] not in old_names
    for d in old_names:  # consistent old view preserved
        assert os.path.isdir(os.path.join(stacked.root, "segments", d))
    after = [(r["doc_id"], r["score"])
             for r in stacked.topk("spark shuffle", 10,
                                   round_to=6).collect()]
    assert after == before
    assert stacked.merge_once() is False  # fixpoint


def test_crash_before_pointer_swap_preserves_view(spark, corpus, tmp_path):
    """A fully-written segment dir without a pointer swap is invisible
    (the atomic-publish rule at stack granularity)."""
    root = str(tmp_path / "segroot2")
    si = SegmentedIndex(spark, root)
    si.commit(corpus.filter(F.col("doc_id") % 2 == 0), text_col="content")
    n_before = si.topk("spark", 1000).count()
    # simulate: segment written, crash before _publish
    save_index(spark, corpus.filter(F.col("doc_id") % 2 == 1),
               os.path.join(root, "segments", "seg-orphan"),
               text_col="content")
    assert si.topk("spark", 1000).count() == n_before


def test_merge_applies_tombstones_physically(spark, corpus, tmp_path):
    root = str(tmp_path / "segroot3")
    si = SegmentedIndex(spark, root, merge_factor=2)
    si.commit(corpus.filter(F.col("doc_id") % 2 == 0), text_col="content")
    si.commit(corpus.filter(F.col("doc_id") % 2 == 1), text_col="content")
    victim = si.topk("spark", 1).collect()[0]["doc_id"]
    si.segments()[victim % 2].delete_docs(
        spark.createDataFrame([(victim,)], "doc_id long")
    )
    assert si.merge_once() is True
    merged = si.segments()[0]
    assert merged.deletes() is None
    assert merged.doc_stats().filter(
        F.col("doc_id") == victim
    ).count() == 0
    assert victim not in [r["doc_id"] for r in si.topk("spark", 10).collect()]


def test_log_buckets_keep_big_segments_out(spark, corpus, tmp_path):
    """A big segment in a higher log bucket is not merged with small
    ones (the log policy's point: avoid rewriting big data for small
    compactions)."""
    root = str(tmp_path / "segroot4")
    si = SegmentedIndex(spark, root, merge_factor=2)
    si.commit(corpus, text_col="content")  # big
    si.commit(corpus.filter(F.col("doc_id") < 4), text_col="content")
    si.commit(corpus.filter(F.col("doc_id") >= 4).filter(
        F.col("doc_id") < 8), text_col="content")
    cand = si.merge_candidates()
    big = si._pointer()["segments"][0]["name"]
    assert big not in cand and len(cand) == 2


# -- streaming: one segment per micro-batch -----------------------------------

STREAM_SCHEMA = "doc_id long, text string, lang string"


def _scan(spark, si, term):
    from prosearch_spark.query.engine import SearchEngine

    eng = SearchEngine(spark, si.as_index([term]))
    return sorted(r["doc_id"] for r in eng.match_scan(term).collect())


def test_segmented_stream_upserts_without_rewrite(spark, tmp_path):
    """Each trigger seals ONE O(batch) segment; upserted ids are
    tombstoned in older segments (delete-then-index,
    TantivyCommitter.java:42-91); re-delivery of a batch_id is a
    no-op (idempotent under at-least-once)."""
    from prosearch_spark.streaming.ingest import SegmentedStreamingIndexer

    ix = SegmentedStreamingIndexer(spark, str(tmp_path / "segs"),
                                   n_buckets=4, compact_inline=False)
    wave1 = spark.createDataFrame(
        [(0, "alpha beta", "en"), (1, "beta gamma", "en")], STREAM_SCHEMA)
    ix.process_batch(wave1, 0)
    assert _scan(spark, ix.index, "beta") == [0, 1]

    wave2 = spark.createDataFrame(
        [(1, "delta epsilon", "en"), (2, "alpha delta", "en")],
        STREAM_SCHEMA)
    ix.process_batch(wave2, 1)
    assert _scan(spark, ix.index, "delta") == [1, 2]
    assert _scan(spark, ix.index, "beta") == [0]  # old doc 1 gone
    assert len(ix.index._pointer()["segments"]) == 2  # no rewrite

    ix.process_batch(wave2, 1)  # re-delivery
    assert len(ix.index._pointer()["segments"]) == 2
    assert _scan(spark, ix.index, "delta") == [1, 2]


def test_segmented_stream_adopts_after_crash(spark, tmp_path):
    """Segment fully written, crash before pointer swap -> re-delivery
    completes the publish via adopt() instead of re-indexing."""
    from prosearch_spark.streaming.ingest import SegmentedStreamingIndexer

    ix = SegmentedStreamingIndexer(spark, str(tmp_path / "segs2"),
                                   n_buckets=4)
    wave = spark.createDataFrame([(5, "omega psi", "en")], STREAM_SCHEMA)
    # simulate the crash: dir written with the batch's name, no publish
    save_index(spark, wave,
               os.path.join(ix.index.root, "segments", "seg-b000000007"),
               n_buckets=4)
    assert ix.index._pointer()["segments"] == []
    ix.process_batch(wave, 7)
    segs = ix.index._pointer()["segments"]
    assert [e["name"] for e in segs] == ["seg-b000000007"]
    assert segs[0]["batch_id"] == 7
    assert _scan(spark, ix.index, "omega") == [5]


def test_segmented_stream_end_to_end_with_compaction(spark, tmp_path):
    """readStream -> one segment per file trigger -> inline log-merge
    keeps the alive-segment count bounded; union view stays correct."""
    import json

    from prosearch_spark.streaming.ingest import SegmentedStreamingIndexer

    src = str(tmp_path / "in")
    os.makedirs(src)
    for i in range(4):
        with open(os.path.join(src, f"w{i}.json"), "w") as f:
            f.write(json.dumps({"doc_id": 20 + i,
                                "text": f"stream doc{i} common",
                                "lang": "en"}) + "\n")
    ix = SegmentedStreamingIndexer(spark, str(tmp_path / "segs3"),
                                   merge_factor=2, n_buckets=4)
    stream = (spark.readStream.schema(STREAM_SCHEMA)
              .option("maxFilesPerTrigger", 1).json(src))
    q = ix.attach(stream, checkpoint=str(tmp_path / "ckpt"))
    q.awaitTermination(180)

    assert _scan(spark, ix.index, "common") == [20, 21, 22, 23]
    # 4 commits with merge_factor=2 and inline compaction: strictly
    # fewer alive segments than commits
    assert len(ix.index._pointer()["segments"]) < 4

    # second wave through the same checkpoint: only the new file is read
    with open(os.path.join(src, "w9.json"), "w") as f:
        f.write(json.dumps({"doc_id": 30, "text": "late arriving document",
                            "lang": "en"}) + "\n")
    batches = []
    seal = ix.process_batch

    def spy(batch, batch_id):
        batches.append((batch_id, batch.count()))
        seal(batch, batch_id)

    ix.process_batch = spy
    q2 = ix.attach(spark.readStream.schema(STREAM_SCHEMA).json(src),
                   checkpoint=str(tmp_path / "ckpt"))
    q2.awaitTermination(180)
    assert batches == [(4, 1)]
    assert _scan(spark, ix.index, "late") == [30]
    assert _scan(spark, ix.index, "common") == [20, 21, 22, 23]


def test_upsert_then_force_merge_matches_fresh_build(spark, corpus, tmp_path):
    """Delete-then-index upsert + force_merge refreshes n_docs/avgdl
    from the survivors: scores equal a fresh single build over the
    final logical corpus (no stat drift after compaction). Fast fields
    and stored fields carry the upserted docs' NEW values and the
    survivors' old ones, one row per doc."""
    root = str(tmp_path / "segroot5")
    si = SegmentedIndex(spark, root, merge_factor=8)
    stale = F.col("doc_id") % 5 == 0
    docs = corpus.withColumn("clen", F.length("content").cast("long"))
    kw = dict(text_col="content", fast_fields={"flen": "clen"},
              store_cols=["content"])
    si.commit(
        docs.withColumn(
            "content",
            F.when(stale, F.lit("stale placeholder"))
            .otherwise(F.col("content")),
        ).withColumn("clen", F.length("content").cast("long")),
        **kw,
    )
    si.upsert(docs.filter(stale), **kw)
    assert si.force_merge()
    assert len(si._pointer()["segments"]) == 1
    merged = si.segments()[0]
    want = {r["doc_id"]: (r["clen"], r["content"]) for r in docs.collect()}
    assert {r["doc_id"]: r["flen"] for r in merged.doc_stats().collect()} \
        == {d: v[0] for d, v in want.items()}
    store = [(r["doc_id"], r["content"])
             for r in merged.doc_store().collect()]
    assert sorted(store) == sorted((d, v[1]) for d, v in want.items())
    flat = SearchEngine(spark, build_index(corpus, text_col="content"))
    for q in ["spark shuffle", "the python"]:
        a = [(r["doc_id"], r["score"])
             for r in si.topk(q, 10, round_to=6).collect()]
        b = [(r["doc_id"], r["score"])
             for r in flat.topk(q, 10, round_to=6).collect()]
        assert a == b, q


def test_segmented_wand_matches_flat_wand(spark, corpus, stacked):
    """Block-Max WAND over the stack view == WAND over one flat
    artifact of the same corpus (exactness survives overlapping
    cross-segment block ranges)."""
    from prosearch_spark.query.block_engine import BlockSearchEngine

    eng = BlockSearchEngine(spark, stacked.as_artifact())
    got, stats = eng.topk_wand("spark shuffle", 10, round_to=6,
                               min_prune_blocks=0)
    flat = SearchEngine(spark, build_index(corpus, text_col="content"))
    want = flat.topk("spark shuffle", 10, round_to=6)
    assert [(r["doc_id"], r["score"]) for r in got.collect()] == \
        [(r["doc_id"], r["score"]) for r in want.collect()]
    assert stats["blocks_total"] > 0


def test_stack_view_serves_tombstones_live(spark, corpus, tmp_path):
    """Round 5: a TOMBSTONED stack serves LIVE through the artifact
    view (per-segment alive bitsets, serve.rs:535 — queries never wait
    for a merge). Deletes apply segment-locally: the upserted doc's
    dead OLD postings die while its re-add in the later segment
    survives; alive-recomputed stats make live WAND hash-match
    compact-then-WAND, and the flat topk()/as_index() path agrees."""
    from prosearch_spark.query.block_engine import BlockSearchEngine

    root = str(tmp_path / "segroot6")
    si = SegmentedIndex(spark, root, merge_factor=8)
    stale = F.col("doc_id") % 5 == 0
    si.commit(
        corpus.withColumn(
            "content",
            F.when(stale, F.lit("stale placeholder"))
            .otherwise(F.col("content")),
        ),
        text_col="content",
    )
    si.upsert(corpus.filter(stale), text_col="content")
    view = si.as_artifact()
    assert view.deletes() is not None  # live, not compacted

    def pairs(df):
        return [(r["doc_id"], r["score"]) for r in df.collect()]

    live_eng = BlockSearchEngine(spark, view)
    live = {}
    for q in ["spark shuffle", "the python"]:
        got, stats = live_eng.topk_wand(q, 10, round_to=6,
                                        min_prune_blocks=0)
        live[q] = pairs(got)
        assert stats["blocks_total"] > 0
        # flat engine over the same live stack agrees (as_index routes
        # through the view's alive stats under tombstones)
        assert pairs(si.topk(q, 10, round_to=6)) == live[q]
    # "stale" must only hit docs that still carry it — i.e. none
    assert live_eng.topk("placeholder", 10, round_to=6).count() == 0

    assert si.force_merge()  # physical compaction
    compact_eng = BlockSearchEngine(spark, si.as_artifact())
    for q in ["spark shuffle", "the python"]:
        got, _ = compact_eng.topk_wand(q, 10, round_to=6,
                                       min_prune_blocks=0)
        assert pairs(got) == live[q], q


def test_live_stack_serves_api_and_msearch(spark, corpus, tmp_path):
    """Router + doc-store fetch + batched msearch over a live
    (tombstoned) stack: the upserted doc's stored fields come from its
    re-add only (one row per hit), and the msearch batch matches the
    per-query routes."""
    from prosearch_spark.query.serve import ArtifactSearcher

    root = str(tmp_path / "segroot6b")
    si = SegmentedIndex(spark, root, merge_factor=8)
    stale = F.col("doc_id") % 4 == 0
    si.commit(
        corpus.withColumn(
            "content",
            F.when(stale, F.lit("stale placeholder"))
            .otherwise(F.col("content")),
        ).withColumn("repo", F.when(stale, F.lit("old-repo"))
                     .otherwise(F.col("repo"))),
        text_col="content", store_cols=["content", "repo", "lang"],
    )
    si.upsert(corpus.filter(stale), text_col="content",
              store_cols=["content", "repo", "lang"])
    s = ArtifactSearcher(spark, si.as_artifact(), body_col="content")
    serp = s.api("spark shuffle", nhits=5)
    assert serp["plan"] == "wand" and serp["num_hits"] > 0
    # every upserted hit shows its NEW stored fields exactly once
    docs = [h["doc"] for h in serp["hits"]]
    assert len({d["doc_id"] for d in docs}) == len(docs)
    assert all(d["repo"] != "old-repo" for d in docs)

    batch = s.msearch(["spark shuffle", "python"], k=5,
                      round_to=6).collect()
    single = s.route("spark shuffle", 5, round_to=6)[0].collect()
    assert [(r["doc_id"], r["score"]) for r in batch
            if r["query_id"] == 0] == \
        [(r["doc_id"], r["score"]) for r in single]


def test_stack_serves_api_with_doc_store_and_gc(spark, corpus, tmp_path):
    """Full serving loop over a LIVE stack: commits write per-segment
    doc stores, ArtifactSearcher routes WAND over the union view and
    fetches stored fields; merge carries stores forward; gc() removes
    only unreferenced dirs and the view still serves."""
    from prosearch_spark.query.serve import ArtifactSearcher

    root = str(tmp_path / "segroot7")
    si = SegmentedIndex(spark, root, merge_factor=2)
    for i in range(2):
        si.commit(corpus.filter(F.col("doc_id") % 2 == i),
                  text_col="content",
                  store_cols=["content", "repo", "lang"])

    s = ArtifactSearcher(spark, si.as_artifact(), body_col="content")
    serp = s.api("spark shuffle", nhits=5)
    assert serp["plan"] == "wand" and serp["num_hits"] > 0
    assert {"rank", "doc_id", "score", "repo", "lang"} \
        == set(serp["hits"][0]["doc"])

    assert si.merge_once() is True  # same-bucket pair compacts
    merged = si.segments()[0]
    assert merged.doc_store() is not None  # store carried forward

    removed = si.gc()
    assert len(removed) == 2  # the two merged-away inputs
    assert si.has_segment(si._pointer()["segments"][0]["name"])
    s2 = ArtifactSearcher(spark, si.as_artifact(), body_col="content")
    serp2 = s2.api("spark shuffle", nhits=5)
    assert [h["doc"]["doc_id"] for h in serp2["hits"]] == \
        [h["doc"]["doc_id"] for h in serp["hits"]]


def test_positional_stack_serves_phrase_and_mixed(spark, corpus, tmp_path):
    """Segments committed with positions serve phrase and mixed
    queries through the union view — parity with one flat positional
    artifact (the router's quoted branch works on a live stack)."""
    from prosearch_spark.index.artifact import save_index
    from prosearch_spark.query.block_engine import BlockSearchEngine

    root = str(tmp_path / "segroot8")
    si = SegmentedIndex(spark, root, merge_factor=8)
    for i in range(2):
        si.commit(corpus.filter(F.col("doc_id") % 2 == i),
                  text_col="content", with_positions=True)
    flat = save_index(spark, corpus, str(tmp_path / "flatpos"),
                      text_col="content", with_positions=True)

    got = BlockSearchEngine(spark, si.as_artifact())
    want = BlockSearchEngine(spark, flat)
    q = 'python "spark shuffle"'
    a = [(r["doc_id"], r["score"])
         for r in got.mixed_topk(q, 10, round_to=6).collect()]
    b = [(r["doc_id"], r["score"])
         for r in want.mixed_topk(q, 10, round_to=6).collect()]
    assert a == b and len(a) > 0

    a = [(r["doc_id"], r["score"])
         for r in got.phrase_topk("spark shuffle", 10, round_to=6).collect()]
    b = [(r["doc_id"], r["score"])
         for r in want.phrase_topk("spark shuffle", 10, round_to=6).collect()]
    assert a == b


def test_manifest_total_dl_exact_and_seal_fallback(spark, corpus, tmp_path):
    """Round-5 late: every build path records the exact integer
    sum(dl) in the manifest; sealing reads it back (no doc_stats
    re-aggregation), and a pre-change manifest without the key still
    seals correctly through the fallback scan."""
    import json

    art = save_index(spark, corpus, str(tmp_path / "a1"),
                     text_col="content")
    want = art.doc_stats().agg(F.sum("dl").alias("t")).collect()[0]["t"]
    assert art.manifest["total_dl"] == int(want)

    # seal via the manifest value: pointer entry carries the same int
    si = SegmentedIndex(spark, str(tmp_path / "seg"), merge_factor=8)
    si.commit(corpus, text_col="content")
    entry = si._pointer()["segments"][-1]
    assert entry["total_dl"] == int(want)

    # fallback: strip the key from a copy's manifest, adopt() it —
    # the seal must recompute the identical integer from doc_stats
    import shutil

    root2 = str(tmp_path / "seg2")
    si2 = SegmentedIndex(spark, root2, merge_factor=8)
    dst = os.path.join(root2, "segments", "legacy")
    shutil.copytree(str(tmp_path / "a1"), dst)
    mpath = os.path.join(dst, "manifest.json")
    with open(mpath) as f:
        m = json.load(f)
    m.pop("total_dl")
    with open(mpath, "w") as f:
        json.dump(m, f)
    si2.adopt("legacy")
    assert si2._pointer()["segments"][-1]["total_dl"] == int(want)


def test_snapshot_time_travel_reads(spark, corpus, tmp_path):
    """as_of(gen) reads the stack AS OF a prior pointer — scores and
    doc sets match what as_artifact served at that generation; gc with
    retain_history keeps exactly the retained snapshots readable."""
    from prosearch_spark.query.block_engine import BlockSearchEngine

    si = SegmentedIndex(spark, str(tmp_path / "snap"), merge_factor=99)
    si.commit(corpus.filter(F.col("doc_id") % 2 == 0),
              text_col="content")
    gen1 = si._pointer()["gen"]
    want_gen1 = [
        (r["doc_id"], r["score"])
        for r in BlockSearchEngine(spark, si.as_artifact())
        .topk("spark", 10, round_to=6).collect()]

    si.commit(corpus.filter(F.col("doc_id") % 2 == 1),
              text_col="content")
    gen2 = si._pointer()["gen"]
    assert si.history() == [0, gen1, gen2]

    # time travel: gen1's view serves only the even docs, scores
    # identical to what it served live
    got = [(r["doc_id"], r["score"])
           for r in BlockSearchEngine(spark, si.as_of(gen1))
           .topk("spark", 10, round_to=6).collect()]
    assert got == want_gen1
    assert all(d % 2 == 0 for d, _ in got)
    # and the current view differs (both parities present)
    cur = [r["doc_id"] for r in
           BlockSearchEngine(spark, si.as_artifact())
           .topk("spark", 10, round_to=6).collect()]
    assert any(d % 2 == 1 for d in cur)

    # merge away the inputs, then gc retaining ONE snapshot: the
    # retained gen (the merge result) reads; gen1's segments are gone
    si.force_merge()
    gen3 = si._pointer()["gen"]
    si.gc(retain_history=1)
    assert si.as_of(gen3) is not None
    with pytest.raises(ValueError, match="no snapshot|no longer"):
        si.as_of(gen1)


def test_writer_lock_excludes_and_recovers(spark, corpus, tmp_path):
    """One writer per stack (Tantivy INDEX_WRITER_LOCK): a held lock
    refuses a second writer, compound ops re-enter their own lock, a
    stale lock from a dead holder is broken automatically."""
    import os as _os

    root = str(tmp_path / "lock")
    si = SegmentedIndex(spark, root, merge_factor=2)
    other = SegmentedIndex(spark, root, merge_factor=2)

    with si.writer_lock():
        with pytest.raises(ValueError, match="writer lock held"):
            with other.writer_lock():
                pass
        # reentrant for the holder: commit inside the held lock works
        si.commit(corpus.filter(F.col("doc_id") < 40),
                  text_col="content")
    # released: the other instance can write now
    other.commit(corpus.filter(F.col("doc_id") >= 40),
                 text_col="content")
    # compound op (force_merge -> merge_once -> _publish) self-nests
    assert si.force_merge() is True

    # crashed holder: flock dies with its file descriptor (the kernel
    # releases it), so a leftover lock FILE never blocks recovery —
    # the streaming sink's crash/re-delivery invariant
    import fcntl

    lock = _os.path.join(root, "WRITER.lock")
    fd = _os.open(lock, _os.O_CREAT | _os.O_WRONLY)
    fcntl.flock(fd, fcntl.LOCK_EX | fcntl.LOCK_NB)
    _os.close(fd)  # "crash": no explicit unlock
    assert _os.path.exists(lock)
    with other.writer_lock():
        pass  # acquired despite the leftover file


def test_stack_delete_docs_and_delete_by_term(spark, corpus, tmp_path):
    """Direct stack deletes (no reindex): tombstoned ids vanish from
    live serving; delete_by_term kills every alive doc containing the
    term; compact-then-query hash-matches the live view."""
    from prosearch_spark.query.block_engine import BlockSearchEngine

    si = SegmentedIndex(spark, str(tmp_path / "del"), merge_factor=99)
    for i in range(2):
        si.commit(corpus.filter(F.col("doc_id") % 2 == i),
                  text_col="content")

    # delete an explicit id set
    target = [r["doc_id"] for r in BlockSearchEngine(
        spark, si.as_artifact()).topk("spark", 3, round_to=6).collect()]
    si.delete_docs(spark.createDataFrame([(d,) for d in target],
                                         "doc_id long"))
    live = [r["doc_id"] for r in BlockSearchEngine(
        spark, si.as_artifact()).topk("spark", 10, round_to=6).collect()]
    assert not set(live) & set(target)

    # live scores hash-match compaction of the same logical state
    want = [(r["doc_id"], r["score"]) for r in BlockSearchEngine(
        spark, si.as_artifact()).topk("spark", 10, round_to=6).collect()]
    si.force_merge()
    got = [(r["doc_id"], r["score"]) for r in BlockSearchEngine(
        spark, si.as_artifact()).topk("spark", 10, round_to=6).collect()]
    assert got == want

    # delete_by_term: no alive doc contains the term afterwards
    v = si.as_artifact()
    assert v.postings(["spark"]).filter(
        F.col("term") == "spark").count() > 0
    si.delete_by_term("spark")
    v = si.as_artifact()
    assert v.postings(["spark"]).filter(
        F.col("term") == "spark").count() == 0
    # other terms' docs survive
    assert BlockSearchEngine(spark, v).topk(
        "python", 5, round_to=6).count() > 0


def test_snapshot_sees_later_tombstones(spark, corpus, tmp_path):
    """Documented snapshot semantics: as_of pins segment MEMBERSHIP;
    per-segment delete files are shared, read-time state (the Lucene
    live-docs model) — a doc tombstoned AFTER a snapshot is dead in
    that snapshot too, while a segment ADDED after it stays invisible."""
    from prosearch_spark.query.block_engine import BlockSearchEngine

    si = SegmentedIndex(spark, str(tmp_path / "snapdel"), merge_factor=99)
    si.commit(corpus.filter(F.col("doc_id") < 100), text_col="content")
    g1 = si._pointer()["gen"]
    si.commit(corpus.filter(F.col("doc_id") >= 100), text_col="content")

    victim = BlockSearchEngine(spark, si.as_of(g1)).topk(
        "spark", 1, round_to=6).collect()[0]["doc_id"]
    si.delete_docs(spark.createDataFrame([(victim,)], "doc_id long"))

    snap_ids = [r["doc_id"] for r in BlockSearchEngine(
        spark, si.as_of(g1)).topk("spark", 20, round_to=6).collect()]
    assert victim not in snap_ids          # later tombstone visible
    assert all(d < 100 for d in snap_ids)  # later segment invisible

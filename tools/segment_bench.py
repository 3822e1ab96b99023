"""Ingest-cost evidence for the segment-per-batch streaming sink.

SegmentedStreamingIndexer seals each micro-batch as its own segment —
O(batch) — and amortizes compaction through the log merge policy,
which is the reference's ingest loop (every ``/index`` commit seals a
Tantivy segment, serve.rs:503-525 + index.rs:191; merges compact in
the background, merge.rs:18-31).

Commits one BASE corpus, then W equal upsert WAVES through the sink,
and reports per-wave seconds: they stay ~flat at the wave size. The
per-trigger work is the batch plus n_segments metadata probes. Also
reports the read amplification of an uncompacted stack and the vector
sink's per-wave and lifecycle costs.

Usage: python tools/segment_bench.py [n_base] [n_wave] [n_waves]
Prints one JSON line.
"""

from __future__ import annotations

import json
import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    n_base = int(sys.argv[1]) if len(sys.argv) > 1 else 100_000
    n_wave = int(sys.argv[2]) if len(sys.argv) > 2 else 2_000
    n_waves = int(sys.argv[3]) if len(sys.argv) > 3 else 4

    from pyspark.sql import functions as F

    from prosearch_spark.corpus import synth_corpus
    from prosearch_spark.session import get_spark
    from prosearch_spark.streaming.ingest import SegmentedStreamingIndexer

    spark = get_spark()
    docs = synth_corpus(spark, n_base).select(
        "doc_id", F.col("content").alias("text"), "lang"
    ).persist()
    docs.count()
    # wave w replaces docs [w*n_wave, (w+1)*n_wave) with fresh text
    waves = [
        docs.filter(
            (F.col("doc_id") >= w * n_wave)
            & (F.col("doc_id") < (w + 1) * n_wave)
        ).withColumn("text", F.concat(F.lit(f"wave{w} "), F.col("text")))
        .persist()
        for w in range(n_waves)
    ]
    for w in waves:
        w.count()

    out: dict = {"metric": "segment_ingest", "n_base": n_base,
                 "n_wave": n_wave, "n_waves": n_waves}

    ix = SegmentedStreamingIndexer(
        spark, tempfile.mkdtemp(prefix="segbench_segmented_"),
        n_buckets=16, merge_factor=8)
    t0 = time.perf_counter()
    ix.process_batch(docs, 0)
    base_s = time.perf_counter() - t0
    per_wave = []
    for w, wave in enumerate(waves, start=1):
        t0 = time.perf_counter()
        ix.process_batch(wave, w)
        per_wave.append(round(time.perf_counter() - t0, 3))
    out["segmented"] = {"base_commit_sec": round(base_s, 3),
                        "wave_sec": per_wave,
                        "wave_mean_sec": round(sum(per_wave) / len(per_wave),
                                               3)}

    # -- read amplification: the SAME corpus committed as S segments
    # vs compacted to one; query latency delta is what the merge
    # policy buys readers (n_segments x bucket-dir fan-out per term).
    from prosearch_spark.index.segments import SegmentedIndex
    from prosearch_spark.query.block_engine import BlockSearchEngine

    n_segs = 8
    si = SegmentedIndex(spark, tempfile.mkdtemp(prefix="segbench_read_"),
                        merge_factor=n_segs + 1)
    for i in range(n_segs):
        si.commit(docs.filter(F.col("doc_id") % n_segs == i),
                  text_col="text", n_buckets=16)

    def q_once() -> float:
        t0 = time.perf_counter()
        df, _ = BlockSearchEngine(spark, si.as_artifact()).topk_wand(
            "spark shuffle", 10, round_to=6)
        df.collect()
        return time.perf_counter() - t0

    q_once()  # warm
    stack_s = min(q_once(), q_once())
    si.force_merge()
    q_once()  # warm
    merged_s = min(q_once(), q_once())
    out["query_stack"] = {"n_segments": n_segs,
                          "topk_wand_sec": round(stack_s, 3)}
    out["query_merged"] = {"topk_wand_sec": round(merged_s, 3)}

    # -- vector sink (round 6): the same O(batch) per-trigger claim for
    # the embedding side, plus the lifecycle costs the round added —
    # force_merge (fold tombstones physically), gc (sweep + COMPACT the
    # delete set: rows before vs after is the unbounded-growth fix).
    from prosearch_spark.streaming.ingest import VectorStreamingIndexer

    dim = 64

    def emb_of(ids_df, shift: int):
        return ids_df.select(
            F.col("doc_id").alias("vec_id"),
            F.transform(
                F.sequence(F.lit(0), F.lit(dim - 1)),
                lambda j: (((F.col("doc_id") * 7 + j * 3 + shift) % 11)
                           - 5).cast("float")).alias("embedding"))

    vix = VectorStreamingIndexer(
        spark, tempfile.mkdtemp(prefix="segbench_vec_"))
    t0 = time.perf_counter()
    vix.process_batch(emb_of(docs.select("doc_id"), 0), 0)
    vbase_s = time.perf_counter() - t0
    v_wave = []
    for w, wave in enumerate(waves, start=1):
        t0 = time.perf_counter()
        vix.process_batch(emb_of(wave.select("doc_id"), w), w)
        v_wave.append(round(time.perf_counter() - t0, 3))
    d = vix.segs._deletes()
    ndel_before = 0 if d is None else int(d.count())
    t0 = time.perf_counter()
    vix.segs.force_merge()
    merge_s = time.perf_counter() - t0
    t0 = time.perf_counter()
    removed = vix.segs.gc()
    gc_s = time.perf_counter() - t0
    d = vix.segs._deletes()
    out["vector"] = {
        "dim": dim,
        "base_commit_sec": round(vbase_s, 3),
        "wave_sec": v_wave,
        "wave_mean_sec": round(sum(v_wave) / len(v_wave), 3),
        "force_merge_sec": round(merge_s, 3),
        "gc_sec": round(gc_s, 3),
        "gc_removed_segments": len(removed),
        "deletes_rows_before_gc": ndel_before,
        "deletes_rows_after_gc": 0 if d is None else int(d.count()),
    }
    print(json.dumps(out))


if __name__ == "__main__":
    main()

"""Batched vs sequential query serving — the msearch amortization.

A Spark job carries a fixed scheduling cost, so serving N queries as N
sequential ``topk`` jobs pays it N times over the same postings scan.
``multi_topk`` batches the whole query list into ONE job (one
bucket/term-pruned decode, one shuffle, a partitioned-window rank).
This tool measures both paths over a committed Zipf artifact and
asserts they return byte-identical hits before reporting.

Usage: python tools/msearch_bench.py [cpus] [n_docs] [n_queries] [mode]
Pass ``mixed`` as the 4th arg to measure the round-5 MIXED batch
instead: 3/4 bare-term members + 1/4 quoted-phrase members (shapes
{2, 3}) served by multi_mixed_topk (one position-join plan per phrase
SHAPE) vs one mixed_topk route per member. Pass ``slop`` (round 6)
to make the quoted members PROXIMITY clauses ("..."~2 / "..."~3):
sequential = one mixed_topk route per member,
batch = the same multi_mixed_topk call (slop clauses batch per
length with the window as a broadcast column). Pass ``fielded``
(round 6 late) to commit a title+body FIELDED deployment (title =
first 4 tokens, positional body) and compare one fielded
mixed_topk route per member vs ONE
FieldedBlockSearchEngine.multi_mixed_topk batch.
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
    cpus = int(sys.argv[1]) if len(sys.argv) > 1 else 32
    n_docs = int(sys.argv[2]) if len(sys.argv) > 2 else 200_000
    n_queries = int(sys.argv[3]) if len(sys.argv) > 3 else 32
    mode = sys.argv[4] if len(sys.argv) > 4 else ""
    mixed = mode in ("mixed", "slop", "fielded")
    slop = mode in ("slop", "fielded")
    fielded = mode == "fielded"

    from prosearch_spark.corpus import zipf_corpus
    from prosearch_spark.index.artifact import save_index
    from prosearch_spark.query.block_engine import BlockSearchEngine
    from prosearch_spark.session import get_spark, query_mode

    spark = get_spark("msearch-bench", master=f"local[{cpus}]",
                      shuffle_partitions=max(cpus, 8))
    spark.sparkContext.setLogLevel("ERROR")

    docs = zipf_corpus(spark, n_docs=n_docs).cache()
    docs.count()
    path = tempfile.mkdtemp(prefix="prosearch_msearch_bench_")
    if fielded:
        from pyspark.sql import functions as F

        from prosearch_spark.index.artifact import save_fielded_index
        from prosearch_spark.query.fielded import FieldedBlockSearchEngine

        fdocs = docs.withColumn(
            "title", F.array_join(F.slice(
                F.split(F.col("content"), " "), 1, 4), " "))
        arts = save_fielded_index(
            spark, fdocs, path, {"title": "title", "body": "content"},
            positional_fields=frozenset({"body"}))
        blk = FieldedBlockSearchEngine(spark, arts)
    else:
        art = save_index(spark, docs, path, text_col="content",
                         with_positions=mixed)
        blk = BlockSearchEngine(spark, art)

    # deterministic query mix: topic singles + 2-term ANDs across the
    # Zipf topic vocabulary (every query hits a different hot region);
    # mixed mode swaps every 4th member for a quoted phrase (2- and
    # 3-term shapes alternating)
    queries = []
    for i in range(n_queries):
        t = i % 16
        if mixed and i % 4 == 3:
            if i % 8 == 3:
                queries.append(f'z{t}_1 "z{t}_2 z{t}_3"'
                               + ("~2" if slop else ""))
            else:
                queries.append(f'"z{t}_1 z{t}_2 z{t}_3"'
                               + ("~3" if slop else "") + f' z{t}_4')
        elif i % 2 == 0:
            queries.append(f"z{t}_1")
        else:
            queries.append(f"z{t}_1 z{t}_2")

    def _single(q):
        if mixed:
            # both mixed engines parse the proximity grammar
            return blk.mixed_topk(q, 10, round_to=6)
        return blk.topk(q, 10, round_to=6)

    out: dict = {"n_docs": n_docs, "cpus": cpus, "n_queries": n_queries,
                 "mixed": mixed, "mode": mode or "terms"}
    with query_mode(spark):
        _single(queries[0]).collect()  # warm caches

        t0 = time.perf_counter()
        seq = {}
        for qi, q in enumerate(queries):
            seq[qi] = [(r["rank"], r["doc_id"], r["score"])
                       for r in _single(q).collect()]
        out["sequential_sec"] = round(time.perf_counter() - t0, 2)

        t0 = time.perf_counter()
        if mixed:
            # fielded and single-field engines share the method name
            rows = blk.multi_mixed_topk(queries, 10, round_to=6).collect()
        else:
            rows = blk.multi_topk(queries, 10, round_to=6).collect()
        out["batched_sec"] = round(time.perf_counter() - t0, 2)

    got: dict[int, list] = {}
    for r in rows:
        got.setdefault(r["query_id"], []).append(
            (r["rank"], r["doc_id"], r["score"]))
    mismatch = [qi for qi in range(len(queries))
                if got.get(qi, []) != seq.get(qi, [])]
    out["mismatched_queries"] = mismatch  # must be []
    out["sequential_qps"] = round(n_queries / out["sequential_sec"], 2)
    out["batched_qps"] = round(n_queries / out["batched_sec"], 2)
    out["speedup"] = round(out["sequential_sec"] / out["batched_sec"], 2)
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()

"""The benchmark's workloads.

Load shape: one closed-loop client in one process (the next call is
made when the previous one returns), on Spark ``local[ncores]``.
Serving calls run inside ``session.query_mode`` (AQE off); commits run
outside it. Each workload sets up, then repeats its unit operation
until ``seconds`` have passed (at least once), then checks a sample
of its answers against an oracle, outside the timed window.

With tracing on, every call into a layer is wrapped in a span, and
extra probe calls (outside the timed window) measure single layers.
"""

from __future__ import annotations

import os
import random
import sys
import time
import traceback
from dataclasses import dataclass, field

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from perfbench import gen
from perfbench.trace import Tracer

K = 10
ORACLE_SAMPLE = 6  # routed answers checked against the oracle per run
PROBE_QUERIES = 2  # queries decoded by the traced run's blocks probe


@dataclass
class Ctx:
    spark: SparkSession
    seed: int
    seconds: float
    tracer: Tracer
    work_dir: str


@dataclass
class Outcome:
    setup_s: float               # excludes session start (added by run.py)
    op_ms: list[float]           # latency of each successful unit op
    items: int                   # queries answered / files sealed
    items_wall_s: float          # wall time the items took
    bytes_ratio: float           # committed bytes / input content bytes
    attempted: int
    failed: int
    report: dict = field(default_factory=dict)   # named e2e metrics
    op_spans: list[int] = field(default_factory=list)
    layers: dict = field(default_factory=dict)   # benchmark-side layer metrics
    # layer metric name -> ids of the spans around that layer's calls;
    # the metric is the Spark jobs run inside those spans per span
    layer_spans: dict = field(default_factory=dict)


def dir_bytes(path: str) -> int:
    total = 0
    for d, _dirs, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(d, f))
    return total


def count_files(path: str) -> int:
    return sum(len(files) for _d, _dirs, files in os.walk(path))


def _failed(what: str) -> None:
    print(f"operation failed ({what}):", file=sys.stderr)
    traceback.print_exc(file=sys.stderr)


def _query_terms(q: str) -> list[str]:
    from prosearch_spark.analyzer import parse_query_slop

    terms: list[str] = []
    for kind, c in parse_query_slop(q):
        terms.extend([c[0]] if kind == "term"
                     else c[0] if kind == "slop" else c)
    return sorted(set(terms))


def _decode_probe(ctx: Ctx, artifact, queries: list[str], layers: dict
                  ) -> None:
    """``index.blocks`` decode over each query's terms."""
    from prosearch_spark.index.blocks import decode_blocks

    ms, postings = [], 0
    for q in queries:
        with ctx.tracer.span("blocks.decode") as sp:
            t0 = time.perf_counter()
            n = decode_blocks(artifact.blocks(_query_terms(q))).count()
            ms.append((time.perf_counter() - t0) * 1000.0)
            sp["counts"]["postings"] = n
        postings += n
    layers["blocks.decode_ms_per_query"] = sum(ms) / len(ms)
    layers["blocks.postings_decoded_per_query"] = postings / len(ms)
    layers["blocks.decode_postings_per_s"] = postings / (sum(ms) / 1000.0)


def _bytes_per_posting(artifact, blocks_dir: str) -> float:
    n = artifact.term_stats().agg(F.sum("df")).collect()[0][0]
    return dir_bytes(blocks_dir) / max(1, int(n or 0))


# -- serve deployment (shared by serve_route and serve_msearch) ----------


def _serve_setup(ctx: Ctx, layers: dict):
    """Commit the two-field deployment over the seeded Zipf corpus:
    title record:basic (first 4 tokens), body positional, plus a doc
    store on the body artifact. Returns (docs, fielded artifacts)."""
    from prosearch_spark.index.artifact import save_fielded_index

    docs = gen.serve_corpus(ctx.spark, ctx.seed)
    path = os.path.join(ctx.work_dir, "serve")
    with ctx.tracer.span("artifact.commit"):
        t0 = time.perf_counter()
        farts = save_fielded_index(ctx.spark, docs, path,
                                   {"title": "title", "body": "text"},
                                   positional_fields=frozenset({"body"}))
        layers["artifact.commit_s"] = time.perf_counter() - t0
    with ctx.tracer.span("artifact.doc_store"):
        t0 = time.perf_counter()
        farts["body"].write_doc_store(docs, ["text", "title"])
        layers["artifact.doc_store_s"] = time.perf_counter() - t0
    layers["artifact.files_written"] = count_files(path)
    return docs, farts, path


def _serve_bytes_ratio(path: str, pdocs) -> float:
    return dir_bytes(path) / int(pdocs["text"].str.len().sum())


def serve_route(ctx: Ctx) -> Outcome:
    """Single queries through ArtifactSearcher.api (route, doc-store
    fetch, snippet) over the fielded deployment."""
    from prosearch_spark.query.serve import ArtifactSearcher
    from prosearch_spark.session import query_mode
    from perfbench import oracles, stats

    spark, tr = ctx.spark, ctx.tracer
    layers: dict = {}
    layer_spans: dict = {}
    t_setup = time.perf_counter()
    docs, farts, path = _serve_setup(ctx, layers)
    searcher = ArtifactSearcher(spark, farts["body"], fielded=farts,
                                body_col="text")
    warm = gen.route_stream(ctx.seed + 1_000_003, len(gen.ROUTE_CLASSES))
    with query_mode(spark):
        with tr.span("serve.warmup"):
            # the fielded mixed engine (a "..."~2 query), then the
            # fielded WAND plan through a full /api response
            searcher.warmup([warm[3]])
            searcher.api(warm[0], K)
    setup_s = time.perf_counter() - t_setup

    stream = gen.route_stream(ctx.seed, 100_000)
    lat, answers, plans, op_spans = [], [], {}, []
    attempted = failed = 0
    with query_mode(spark):
        t_start = time.perf_counter()
        while time.perf_counter() - t_start < ctx.seconds:
            q = stream[attempted]
            attempted += 1
            with tr.span("serve.api", op=tr.new_op()) as sp:
                t0 = time.perf_counter()
                try:
                    resp = searcher.api(q, K)
                except Exception:
                    _failed(f"api {q!r}")
                    failed += 1
                    continue
                lat.append((time.perf_counter() - t0) * 1000.0)
            op_spans.append(sp["id"])
            plans[resp["plan"]] = plans.get(resp["plan"], 0) + 1
            answers.append((q, [(h["doc"]["doc_id"], h["doc"]["score"])
                                for h in resp["hits"]]))
        wall = time.perf_counter() - t_start

    if ctx.tracer.enabled:
        # the stream's first WAND query and first quoted phrase
        profile_spans: list[int] = []
        _route_probes(ctx, searcher, farts, answers[:2], layers,
                      profile_spans)
        layer_spans["fielded.jobs_per_query"] = profile_spans
        for plan, n in plans.items():
            layers[f"serve.plan_count.{plan}"] = n

    pdocs = docs.select("doc_id", "text").toPandas()
    rng = random.Random(f"check-{ctx.seed}")
    sample = rng.sample(answers, min(ORACLE_SAMPLE, len(answers)))
    failed += oracles.check_routed(pdocs, sample, K)

    ratio = _serve_bytes_ratio(path, pdocs)
    tl = stats.tail(lat)
    report = {
        "api_p50_ms": (stats.median(lat) if lat else None, "ms"),
        "api_tail_ms": (tl[1] if tl else None, "ms"),
        "api_tail_percentile": (tl[0] if tl else None, "percent"),
        "api_samples": (len(lat), "count"),
        "index_bytes_per_input_byte": (ratio, "ratio"),
    }
    return Outcome(setup_s=setup_s, op_ms=lat, items=len(lat),
                   items_wall_s=wall, bytes_ratio=ratio,
                   attempted=attempted, failed=failed, report=report,
                   op_spans=op_spans, layers=layers,
                   layer_spans=layer_spans)


def _route_probes(ctx: Ctx, searcher, farts, answered: list, layers: dict,
                  profile_spans: list) -> None:
    """Traced run only: decompose answered queries into their layers
    (the routed engine via profile(), fetch_docs on the same hits,
    blocks decode of the query terms)."""
    from prosearch_spark.session import query_mode

    spark, tr = ctx.spark, ctx.tracer
    eng_ms, fetch_ms, tot, dec = [], [], 0, 0
    with query_mode(spark):
        for q, hits in answered:
            with tr.span("probe", op=tr.new_op()):
                with tr.span("serve.profile") as sp:
                    t0 = time.perf_counter()
                    prof = searcher.profile(q, K)
                    eng_ms.append((time.perf_counter() - t0) * 1000.0)
                    sp["counts"].update(plan=prof["plan"], **prof["stats"])
                profile_spans.append(sp["id"])
                tot += prof["stats"].get("blocks_total", 0)
                dec += prof["stats"].get("blocks_decoded", 0)
                hits_df = spark.createDataFrame(
                    [(i + 1, d, s) for i, (d, s) in enumerate(hits)],
                    "rank int, doc_id long, score double")
                with tr.span("artifact.fetch_docs"):
                    t0 = time.perf_counter()
                    searcher.artifact.fetch_docs(hits_df).collect()
                    fetch_ms.append((time.perf_counter() - t0) * 1000.0)
        _decode_probe(ctx, farts["body"], [q for q, _h in answered], layers)
    n = len(answered)
    layers["serve.engine_ms_per_query"] = sum(eng_ms) / n
    layers["artifact.fetch_ms_per_query"] = sum(fetch_ms) / n
    layers["fielded.blocks_total_per_query"] = tot / n
    layers["fielded.blocks_decoded_per_query"] = dec / n
    layers["fielded.decoded_frac"] = dec / tot if tot else 1.0
    layers["blocks.bytes_per_posting"] = _bytes_per_posting(
        farts["body"], os.path.join(farts["body"].path, "blocks"))


def serve_msearch(ctx: Ctx) -> Outcome:
    """Batches of 32 queries (24 term, 8 quoted) through
    ArtifactSearcher.msearch over the deployment's body artifact alone
    (a single-field deployment)."""
    from prosearch_spark.query.serve import ArtifactSearcher
    from prosearch_spark.session import query_mode
    from perfbench import oracles, stats

    spark, tr = ctx.spark, ctx.tracer
    layers: dict = {}
    t_setup = time.perf_counter()
    docs, farts, path = _serve_setup(ctx, layers)
    searcher = ArtifactSearcher(spark, farts["body"], body_col="text")
    with query_mode(spark):
        with tr.span("serve.warmup"):
            searcher.msearch(gen.msearch_batches(ctx.seed + 1_000_003, 1)[0],
                             K, round_to=6).collect()
    setup_s = time.perf_counter() - t_setup

    batches = gen.msearch_batches(ctx.seed, 1000)
    lat, results, op_spans = [], {}, []
    attempted = failed = 0
    with query_mode(spark):
        t_start = time.perf_counter()
        while time.perf_counter() - t_start < ctx.seconds:
            b = batches[attempted]
            attempted += 1
            with tr.span("serve.msearch", op=tr.new_op()) as sp:
                t0 = time.perf_counter()
                try:
                    rows = searcher.msearch(b, K, round_to=6).collect()
                except Exception:
                    _failed("msearch batch")
                    failed += 1
                    continue
                lat.append((time.perf_counter() - t0) * 1000.0)
            op_spans.append(sp["id"])
            got: dict[int, list] = {}
            for r in rows:
                got.setdefault(r["query_id"], []).append(
                    (r["doc_id"], r["score"]))
            results[attempted - 1] = got
        wall = time.perf_counter() - t_start

    if ctx.tracer.enabled:
        _decode_probe(ctx, farts["body"], batches[0][:PROBE_QUERIES], layers)
        layers["blocks.bytes_per_posting"] = _bytes_per_posting(
            farts["body"], os.path.join(farts["body"].path, "blocks"))

    pdocs = docs.select("doc_id", "text").toPandas()
    if results:
        bi = random.Random(f"check-{ctx.seed}").choice(sorted(results))
        failed += oracles.check_msearch(pdocs, batches[bi], results[bi], K)

    n_queries = len(lat) * (gen.BATCH_TERM + gen.BATCH_QUOTED)
    ratio = _serve_bytes_ratio(path, pdocs)
    report = {
        "msearch_qps": (n_queries / wall, "queries/s"),
        "msearch_batch_p50_ms": (stats.median(lat) if lat else None, "ms"),
        "msearch_batches": (len(lat), "count"),
        "index_bytes_per_input_byte": (ratio, "ratio"),
    }
    return Outcome(setup_s=setup_s, op_ms=lat, items=n_queries,
                   items_wall_s=wall, bytes_ratio=ratio,
                   attempted=attempted, failed=failed, report=report,
                   op_spans=op_spans, layers=layers,
                   layer_spans={"block_engine.jobs_per_op": op_spans})


# -- code-corpus segment ingest -------------------------------------------


def _stack_read(ctx: Ctx, si, q: str, reads: list, stats_out: list):
    """One single-field Block-Max WAND read over the live stack."""
    from prosearch_spark.query.block_engine import BlockSearchEngine
    from prosearch_spark.session import query_mode

    tr = ctx.tracer
    with tr.span("stack.read") as root:
        t0 = time.perf_counter()
        with tr.span("segments.view") as vs:
            tv = time.perf_counter()
            view = si.as_artifact()
            vs["counts"]["ms"] = (time.perf_counter() - tv) * 1000.0
        with query_mode(ctx.spark):
            with tr.span("block_engine.topk_wand") as sp:
                hits, st = BlockSearchEngine(ctx.spark, view).topk_wand(
                    q, K, round_to=6)
                rows = hits.collect()
                sp["counts"].update(st)
        reads.append((time.perf_counter() - t0) * 1000.0)
    stats_out.append((root["id"], sp["id"], vs["counts"].get("ms"), st))
    return view, [(r["doc_id"], r["score"]) for r in rows]


def ingest_code(ctx: Ctx) -> Outcome:
    """Append the seeded code corpus in batches through
    SegmentedIndex.commit, one upsert wave, then force_merge; one
    stack read after every publish. Repeated on fresh roots until the
    window is used (at least one cycle)."""
    from prosearch_spark.index.segments import SegmentedIndex
    from perfbench import oracles, stats

    spark, tr = ctx.spark, ctx.tracer
    layers: dict = {}
    nb, bf = gen.INGEST_BATCHES, gen.INGEST_BATCH_FILES
    t_setup = time.perf_counter()
    base = gen.code_corpus(spark, ctx.seed)
    ids = gen.upsert_ids(ctx.seed)
    wave = gen.code_corpus(spark, ctx.seed, salt=7919) \
        .filter(F.col("doc_id").isin(ids))
    queries = gen.code_queries(ctx.seed, 1000)
    # warm-up pass: one small commit on a throwaway root, so the
    # window's first commit does not pay codegen and Python-worker start
    with tr.span("ingest.warmup"):
        warm = SegmentedIndex(spark, os.path.join(ctx.work_dir, "warm"))
        warm.commit(gen.code_corpus(spark, ctx.seed, salt=104_729)
                    .filter(F.col("doc_id") < 50),
                    text_col="content", analyzer="code")
    setup_s = time.perf_counter() - t_setup

    commit_ms, upsert_ms, merge_s, reads, read_stats = [], [], [], [], []
    answers, op_spans = [], []  # answers: (docs visible, query, hits)
    files = 0
    attempted = failed = 0
    write_wall = 0.0
    n_segments = tombstones = 0
    qi = 0
    si = None

    def read(visible: int | None) -> object:
        nonlocal qi, attempted
        attempted += 1
        view, ans = _stack_read(ctx, si, queries[qi], reads, read_stats)
        answers.append((visible, queries[qi], ans))
        qi += 1
        return view

    t_start = time.perf_counter()
    cycle = 0
    while cycle == 0 or time.perf_counter() - t_start < ctx.seconds:
        si = SegmentedIndex(spark, os.path.join(ctx.work_dir,
                                                f"stack-{cycle}"))
        cycle += 1
        try:
            for b in range(nb):
                batch = base.filter((F.col("doc_id") >= b * bf)
                                    & (F.col("doc_id") < (b + 1) * bf))
                attempted += 1
                with tr.span("segments.commit", op=tr.new_op()) as sp:
                    t0 = time.perf_counter()
                    si.commit(batch, text_col="content", analyzer="code")
                    commit_ms.append((time.perf_counter() - t0) * 1000.0)
                op_spans.append(sp["id"])
                files += bf
                write_wall += commit_ms[-1] / 1000.0
                read((b + 1) * bf)
            attempted += 1
            with tr.span("segments.upsert", op=tr.new_op()) as sp:
                t0 = time.perf_counter()
                si.upsert(wave, text_col="content", analyzer="code")
                upsert_ms.append((time.perf_counter() - t0) * 1000.0)
            op_spans.append(sp["id"])
            files += len(ids)
            write_wall += upsert_ms[-1] / 1000.0
            view = read(None)
            n_segments = len(si.segments())
            if tr.enabled:
                dels = view.deletes()
                tombstones = dels.count() if dels is not None else 0
            attempted += 1
            with tr.span("segments.merge"):
                t0 = time.perf_counter()
                si.force_merge()
                merge_s.append(time.perf_counter() - t0)
            read(None)
        except Exception:
            _failed(f"ingest cycle {cycle}")
            failed += 1
            si = None
            break

    # oracle: every read against the logical corpus it saw (the first
    # n files after a batch commit; all files with the upsert wave's
    # versions after the upsert and after the merge)
    base_pd = base.select("doc_id", "content", "lang").toPandas()
    wave_pd = wave.select("doc_id", "content", "lang").toPandas()
    base_docs = {int(r.doc_id): {"doc_id": int(r.doc_id),
                                 "content": r.content, "lang": r.lang}
                 for r in base_pd.itertuples()}
    final = dict(base_docs)
    for r in wave_pd.itertuples():
        final[int(r.doc_id)] = {"doc_id": int(r.doc_id),
                                "content": r.content, "lang": r.lang}
    final_docs = [final[d] for d in sorted(final)]
    input_bytes = sum(len(d["content"]) for d in final_docs)
    for visible in sorted({v for v, _q, _a in answers}, key=str):
        docs = (final_docs if visible is None else
                [base_docs[d] for d in sorted(base_docs) if d < visible])
        failed += oracles.check_code(
            docs, [(q, a) for v, q, a in answers if v == visible], K)

    ratio = float("nan")
    if si is not None:
        live = [a.path for a in si.segments()]
        merged_bytes = sum(dir_bytes(p) for p in live)
        ratio = merged_bytes / input_bytes
        if tr.enabled:
            _ingest_probes(ctx, si, base, live, merged_bytes, input_bytes,
                           queries[qi:qi + PROBE_QUERIES], layers)

    if tr.enabled:
        layers["segments.commit_ms"] = stats.median(commit_ms)
        layers["segments.upsert_ms"] = stats.median(upsert_ms)
        layers["segments.tombstones"] = tombstones
        layers["segments.n_segments"] = n_segments
        layers["segments.view_ms"] = stats.median(
            [v for _r, _s, v, _st in read_stats])
        tot = sum(st.get("blocks_total", 0) for *_x, st in read_stats)
        dec = sum(st.get("blocks_decoded", 0) for *_x, st in read_stats)
        layers["block_engine.blocks_decoded_per_query"] = dec / len(read_stats)
        layers["block_engine.decoded_frac"] = dec / tot if tot else 1.0

    report = {
        "ingest_files_per_s": (files / write_wall, "files/s"),
        "commit_p50_ms": (stats.median(commit_ms) if commit_ms else None,
                          "ms"),
        "merge_s": (stats.median(merge_s) if merge_s else None, "s"),
        "stack_query_p50_ms": (stats.median(reads) if reads else None,
                               "ms"),
        "index_bytes_per_input_byte": (ratio, "ratio"),
        "ingest_cycles": (cycle, "count"),
    }
    read_spans = [s for _r, s, _v, _st in read_stats]
    return Outcome(setup_s=setup_s, op_ms=commit_ms, items=files,
                   items_wall_s=write_wall, bytes_ratio=ratio,
                   attempted=attempted, failed=failed, report=report,
                   op_spans=op_spans, layers=layers,
                   layer_spans={"block_engine.jobs_per_op": read_spans})


def _ingest_probes(ctx: Ctx, si, base, live: list[str], merged_bytes: int,
                   input_bytes: int, queries: list[str], layers: dict
                   ) -> None:
    """Traced run only: tokenize and encode one batch on their own,
    decode the merged stack's blocks for a few queries."""
    from prosearch_spark.index.blocks import encode_blocks
    from prosearch_spark.index.build import build_index, term_frequencies

    spark, tr = ctx.spark, ctx.tracer
    bf = gen.INGEST_BATCH_FILES
    batch = base.filter(F.col("doc_id") < bf)
    with tr.span("build.term_frequencies"):
        t0 = time.perf_counter()
        n_tf = term_frequencies(batch, "content", analyzer="code").count()
        tok_s = time.perf_counter() - t0
    layers["build.tokenize_files_per_s"] = bf / tok_s
    layers["build.postings_per_file"] = n_tf / bf
    postings = build_index(batch, text_col="content",
                           analyzer="code").postings.persist()
    try:
        n_post = postings.count()
        with tr.span("blocks.encode"):
            t0 = time.perf_counter()
            encode_blocks(postings).count()
            enc_s = time.perf_counter() - t0
    finally:
        postings.unpersist()
    layers["blocks.encode_postings_per_s"] = n_post / enc_s
    layers["segments.merge_bytes_rewritten_per_input_byte"] = \
        merged_bytes / input_bytes
    view = si.as_artifact()
    _decode_probe(ctx, view, queries, layers)
    seg = si.segments()[0]
    layers["blocks.bytes_per_posting"] = _bytes_per_posting(
        seg, os.path.join(seg.path, "blocks"))


WORKLOADS = {
    "serve_route": serve_route,
    "serve_msearch": serve_msearch,
    "ingest_code": ingest_code,
}

"""Committed vector artifacts: the embedding side of the index story.

The lexical path has had the full artifact lifecycle since round 2 —
commit, segment stacks, tombstoned upsert, streaming ingest, compaction
(index/artifact.py, index/segments.py).  The vector path, by contrast,
ran its ANN structures (ops/similarity.py: LSH buckets, IVF) over
in-memory DataFrames: assignment was recomputed per query and every
query re-scanned the full table before its bucket filter.  This module
gives embeddings the same two-tier life the postings have:

1. :func:`save_vector_index` — an IVF artifact committed to parquet
   ``partitionBy("bucket")``.  The coarse quantizer is the same
   deterministic sampled-member rule as
   ``ops.similarity.ivf_sampled_topk`` (the n_centroids smallest ids),
   so the existing ``knn_ivf`` DuckDB oracle gates the committed path
   too.  At query time the n_probe bucket predicate is a PARTITION
   filter: Spark prunes whole directories at the scan — at 100 TB a
   probe reads ~n_probe/n_centroids of the data and never opens the
   rest (the row-group analog of the lexical block ladder's
   bucket/term pruning).  tests/test_plans.py-style pin:
   ``PartitionFilters: [bucket IN (...)]`` in the formatted plan.

2. :class:`VectorSegments` — a tombstoned segment stack for streaming
   embedding ingest, mirroring index/segments.py: one immutable
   segment per commit, upsert = tombstone-in-place + new segment
   (delete-then-index, TantivyCommitter.java:42-91 semantics), pointer
   swap after the segment is fully written, idempotent re-delivery by
   batch-id naming, live queries apply per-segment deletes inside the
   scan (never wait for compaction — serve.rs:535's alive-bitset
   model), and :meth:`VectorSegments.compact_to` folds the live rows
   into tier 1's IVF artifact for the partition-pruned serving path.

Scale notes:

- the stack's live scan is ONE multi-path parquet read with the
  segment name recovered from ``_metadata.file_path`` (the same
  single-scan shape the lexical upsert probe uses — segments.py round
  4), plus one broadcast anti-join against the delete set; cost is
  O(stack bytes), with no per-segment job scheduling.
- deletes are (seg, vec_id) pairs appended to one parquet dir —
  bounded by upsert traffic, broadcastable until compaction folds
  them away.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from prosearch_spark.ops.similarity import (
    _dot,
    _round_half_up,
    _round_half_up_col,
    cosine_sim_col,
    cosine_topk,
    multi_cosine_topk,
)

MANIFEST = "vector_manifest.json"
POINTER = "VSEGMENTS.json"


def _l2sq_col(v, c: list[float]):
    """dot(v,v) - 2*dot(v,c) + dot(c,c) — the same expansion (and the
    same fold order) ivf_sampled_topk and the DuckDB oracle use, so
    assignment is bit-identical across all three."""
    cl = F.array(*[F.lit(x) for x in c])
    return _dot(v, v) - F.lit(2.0) * _dot(v, cl) + _dot(cl, cl)


def train_centroids_lloyd(emb: DataFrame, n_centroids: int,
                          n_iters: int = 5, id_col: str = "vec_id",
                          vec_col: str = "embedding",
                          round_to: int = 6) -> list[list[float]]:
    """Lloyd-refined coarse centroids for the NON-gated quality path.

    The gated quantizer (sampled-member: n smallest ids) is what lets
    DuckDB re-derive the store with no data literals, but on real
    corpora sampled members can land in one dense region and skew the
    bucket sizes — and a giant bucket defeats partition pruning
    (jobs/vector_index_job.py reports exactly this). This trainer runs
    standard Lloyd iterations as DataFrames: deterministic init =
    the sampled-member rule, then per-iteration ONE projection
    (argmin over centroid literals — no join) + ONE groupBy(bucket)
    with element-wise float SUMS and a count (map-side combinable;
    the mean is divided driver-side). An emptied cluster keeps its
    previous centroid. n_iters x (scan + k-row aggregate) at commit
    time only.

    NOTE: float sums across partitions make the result run-dependent
    in the last ulp — fine here because centroids are DATA in the
    manifest (assignment/probe stay bit-deterministic GIVEN the
    manifest), but this trainer must never feed a DuckDB-gated entry.
    Pass the result via ``save_vector_index(centroids=...)``; recall
    and bucket balance are measured, not hash-gated
    (tools/vector_bench.py --lloyd)."""
    cent_rows = (
        emb.select(id_col, vec_col).orderBy(id_col).limit(n_centroids)
        .collect()
    )
    cents = [[float(x) for x in r[1]] for r in cent_rows]
    dim = len(cents[0]) if cents else 0
    for _ in range(n_iters):
        d_arr = F.array(*[
            F.round(_l2sq_col(F.col(vec_col), c), round_to)
            for c in cents
        ])
        assigned = emb.select(
            F.col(vec_col).alias("v"),
            F.array_position(d_arr, F.array_min(d_arr)).cast("int")
            .alias("bucket"),
        )
        agg = (
            assigned.groupBy("bucket").agg(
                F.count("*").alias("n"),
                *[F.sum(F.col("v")[j].cast("double")).alias(f"s{j}")
                  for j in range(dim)])
            .collect()
        )
        by_bucket = {int(r["bucket"]): r for r in agg}
        cents = [
            ([by_bucket[i + 1][f"s{j}"] / by_bucket[i + 1]["n"]
              for j in range(dim)]
             if i + 1 in by_bucket else cents[i])
            for i in range(n_centroids)
        ]
    return cents


def _unit_py(v: list[float]) -> list[float]:
    """Python twin of similarity.unit_col — the same left-to-right
    norm fold and the same x / ||v|| division, so codebook floats
    trained here are bit-identical to the unit vectors the DuckDB
    oracle derives (and to unit_col's own output)."""
    import math

    acc = 0.0
    for x in v:
        acc = acc + float(x) * float(x)
    n = math.sqrt(acc)
    if n == 0.0:
        return [0.0] * len(v)
    return [float(x) / n for x in v]


def _dot_py(a: list[float], b: list[float]) -> float:
    """Left-to-right double dot — the fold order of similarity._dot
    and DuckDB list_dot_product (ADC lookup tables are computed
    driver-side from manifest codebooks, so this order is a parity
    surface)."""
    acc = 0.0
    for x, y in zip(a, b):
        acc = acc + float(x) * float(y)
    return acc


def _pq_from_vecs(vecs: list[list[float]], pq_m: int) -> dict | None:
    """Deterministic product-quantization codebooks (FAISS ``IVF,PQm``
    shape, sampled-member training — the same no-data-literals rule as
    the coarse quantizer): subspace ``j``'s codewords are the j-th
    subvectors of the sampled smallest-id UNIT-NORMALIZED vectors.
    The commit path folds this sample into the centroid collect — one
    driver job pays for both, pinned by
    test_vector_commit_job_count_is_flat. Returns {m, k, dsub,
    codebooks} or None when the dimension does not split into ``pq_m``
    equal subspaces (PQ is skipped, never misaligned)."""
    if not vecs:
        return None
    dim = len(vecs[0])
    if pq_m <= 0 or dim % pq_m != 0:
        return None
    dsub = dim // pq_m
    units = [_unit_py(v) for v in vecs]
    return {
        "m": pq_m,
        "k": len(units),
        "dsub": dsub,
        "codebooks": [
            [u[j * dsub:(j + 1) * dsub] for u in units]
            for j in range(pq_m)
        ],
    }


def save_vector_index(spark: SparkSession, emb: DataFrame, path: str,
                      n_centroids: int = 8, id_col: str = "vec_id",
                      vec_col: str = "embedding",
                      round_to: int = 6,
                      centroids: list[list[float]] | None = None,
                      pq_m: int = 0, pq_k: int = 16
                      ) -> "VectorArtifact":
    """Commit ``emb`` as an IVF artifact partitioned by coarse bucket.

    Centroids = the ``n_centroids`` smallest-id member vectors (the
    deterministic sampled-member quantizer of ivf_sampled_topk — FAISS
    supports random-sample coarse quantizers; determinism is what lets
    DuckDB recompute the whole structure with no data literals).
    Assignment is a pure projection over centroid literals (no join),
    bucket = argmin of ROUNDED l2, ties to the lowest centroid index.

    Commit-path invariants match index/artifact.py: REFUSES an
    existing manifest (new dirs only — generations/segments above this
    layer decide placement); vectors are fully written before the
    manifest lands, so a crash leaves an adoptable orphan, never a
    half-readable artifact.
    """
    mpath = os.path.join(path, MANIFEST)
    if os.path.exists(mpath):
        raise ValueError(
            f"vector artifact already committed at {path}; "
            "write new generations to new directories")
    # ONE sampled-member collect serves both the coarse quantizer and
    # the PQ codebooks (job-count pin: the commit path stays at the
    # sample + combined-agg + write job shape)
    sample_n = max(n_centroids if centroids is None else 0,
                   pq_k if pq_m > 0 else 0)
    sample = ([[float(x) for x in r[1]] for r in
               emb.select(id_col, vec_col).orderBy(id_col)
               .limit(sample_n).collect()]
              if sample_n else [])
    if centroids is not None:
        # caller-trained quantizer (e.g. train_centroids_lloyd) — the
        # NON-gated quality path; everything downstream (assignment,
        # probe, SQ) is identical given the manifest
        if len(centroids) != n_centroids:
            raise ValueError("len(centroids) != n_centroids")
        cents = [[float(x) for x in c] for c in centroids]
    else:
        cents = sample[:n_centroids]
    d_arr = F.array(*[
        F.round(_l2sq_col(F.col(vec_col), c), round_to) for c in cents
    ])
    # SQ8 trainer runs AT COMMIT (FAISS QT_8bit_uniform shape): the
    # global (gmin, gmax) range is two exact min/max aggregates over
    # the store, folded into the SAME input pass as the manifest row
    # count (one scan pays for both — the r5 "commit metadata from
    # metadata" rule); codes are quantized-128 as 1-byte tinyints (4x
    # smaller than float32 — the candidate pass reads ONLY this
    # column, sq_topk), recovered exactly at read.
    from prosearch_spark.ops.similarity import (
        _norm,
        sq_quantize_col,
        unit_col_mat,
    )

    # bounds + codes live in UNIT-NORMALIZED space (unit_col: a
    # raw-value integer dot ranks by inner product, not cosine).
    # r7: both the bounds pass and the code projection normalize via
    # unit_col_mat over a MATERIALIZED per-row _nrm column — the old
    # unit_col form re-evaluated the norm fold per ELEMENT inside
    # interpreted transform() lambdas (O(dim^2)/row, paid on EVERY
    # vector commit, incl. each streaming sink batch). Element values
    # are bit-identical (same when(n==0)/x/n shape over the same norm
    # double), so manifests and stored codes do not change.
    nvm = unit_col_mat(F.col(vec_col), F.col("_nrm"))
    brow = (
        emb.withColumn("_nrm", _norm(F.col(vec_col)))
        .select(nvm.alias("_nv"))
        .agg(
            F.count("*").alias("n"),
            F.min(F.array_min("_nv")).cast("double").alias("gmin"),
            F.max(F.array_max("_nv")).cast("double").alias("gmax"),
        ).collect()[0])
    n = int(brow["n"])
    gmin = float(brow["gmin"]) if brow["gmin"] is not None else 0.0
    gmax = float(brow["gmax"]) if brow["gmax"] is not None else 0.0
    if gmax > gmin:
        code = F.transform(
            sq_quantize_col(nvm, F.lit(gmin), F.lit(gmax)),
            lambda c: (c - F.lit(128.0)).cast("tinyint"))
    else:
        # degenerate range: every element codes to 0 (FAISS convention)
        code = F.transform(F.col(vec_col),
                           lambda _: F.lit(-128).cast("tinyint"))
    # PQ codes (FAISS IVF,PQm — round 6): OPT-IN via pq_m>0 (the
    # fieldnorm-codebook precedent). Per-subspace nearest
    # sampled-member codeword over the UNIT-NORMALIZED vector (the
    # same ADC space as SQ8), argmin of ROUNDED l2 with ties to the
    # lowest codeword index — the coarse assignment rule per subspace.
    # m smallint indexes per vector (dim/m * 8x smaller than the
    # float64 embedding at dsub=8) — the pq_topk candidate pass reads
    # ONLY this column. Opt-in because the assignment projection's
    # codegen compile is a ~6-8 s FIXED cost per commit (measured:
    # 100-row commit 1.7 s without PQ, 8-16 s with; codebook literals
    # differ per commit so the compile never caches) — a per-batch
    # tax the streaming vector sink must not pay by default.
    pq = _pq_from_vecs(sample[:pq_k], pq_m)
    # _nrm materialized ONCE per row feeds the code lambda's cheap
    # column references; CollapseProject keeps the non-cheap alias
    # (referenced more than once), so the norm is computed per row,
    # never per element
    emb2 = emb.withColumn("_nrm", _norm(F.col(vec_col)))
    assigned = emb2.select(
        F.col(id_col).alias("vec_id"),
        F.col(vec_col).alias("embedding"),
        code.alias("code"),
        F.array_position(d_arr, F.array_min(d_arr)).cast("int")
        .alias("bucket"),
    )
    if pq is not None:
        # FLAT codegen arithmetic, not HOFs: the m*k subspace l2
        # expressions are the whole commit's hot loop, and each HOF
        # aggregate is interpreted per row (a first cut with
        # _l2sq_col over F.slice measured 1158 s for a 200k commit;
        # this expansion is pure whole-stage-codegen multiply-adds).
        # The norm and the unit elements are materialized as REAL
        # columns across chained projections — inlining them would
        # paste the 64-term norm tree into every one of the m*k*dsub
        # references (a driver OOM at plan build, measured);
        # CollapseProject keeps non-cheap aliases referenced more
        # than once, so the subtrees stay shared and codegen'd.
        # Every fold is bit-identical to the HOF form it replaces:
        # explicit left-assoc sums == aggregate's 0.0-seeded
        # sequential fold (0.0 + a == a exactly), codeword self-dots
        # are Python _dot_py constants (same sequential fold), and
        # the unit elements repeat unit_col's when(n==0)/x/n shape.
        dsub = pq["dsub"]
        dim = pq["m"] * dsub
        v = F.col("embedding")
        nsq = F.lit(0.0)
        for i in range(dim):
            nsq = nsq + v[i].cast("double") * v[i].cast("double")
        a1 = assigned.withColumn("_nrm", F.sqrt(nsq))
        a2 = a1.select(
            "*",
            *[F.when(F.col("_nrm") == F.lit(0.0), F.lit(0.0))
              .otherwise(v[i].cast("double") / F.col("_nrm"))
              .alias(f"_nv{i}")
              for i in range(dim)])
        code_cols = []
        for j in range(pq["m"]):
            sub = [F.col(f"_nv{i}")
                   for i in range(j * dsub, (j + 1) * dsub)]
            ss = F.lit(0.0)
            for x in sub:
                ss = ss + x * x
            darr = []
            for w in pq["codebooks"][j]:
                dd = F.lit(0.0)
                for x, wx in zip(sub, w):
                    dd = dd + x * F.lit(wx)
                darr.append(F.round(
                    ss - F.lit(2.0) * dd + F.lit(_dot_py(w, w)),
                    round_to))
            a = F.array(*darr)
            code_cols.append(
                F.array_position(a, F.array_min(a)).cast("smallint"))
        assigned = a2.withColumn(
            "pq_code", F.array(*code_cols)).select(
            "vec_id", "embedding", "code", "pq_code", "bucket")
    else:
        assigned = assigned.select(
            "vec_id", "embedding", "code",
            F.lit(None).cast("array<smallint>").alias("pq_code"),
            "bucket")
    assigned.write.partitionBy("bucket").parquet(
        os.path.join(path, "vectors"))
    # n_vectors comes from the SAME aggregate that trained the SQ
    # bounds (assignment is a pure projection, so input rows == store
    # rows); the old post-write count re-read the entire store per
    # commit — a store-scale scan removed at 100 TB
    manifest = {
        "n_centroids": n_centroids,
        "centroids": cents,
        "round_to": round_to,
        "n_vectors": n,
        "gmin": gmin,
        "gmax": gmax,
        "pq": pq,
    }
    tmp = mpath + ".tmp"
    with open(tmp, "w") as f:
        json.dump(manifest, f)
    os.replace(tmp, mpath)
    return VectorArtifact(spark, path, manifest)


class VectorArtifact:
    """A committed IVF vector store; load via :meth:`load`."""

    def __init__(self, spark: SparkSession, path: str, manifest: dict):
        self.spark = spark
        self.path = path
        self.manifest = manifest

    @classmethod
    def load(cls, spark: SparkSession, path: str) -> "VectorArtifact":
        with open(os.path.join(path, MANIFEST)) as f:
            return cls(spark, path, json.load(f))

    def vectors(self) -> DataFrame:
        return self.spark.read.parquet(os.path.join(self.path, "vectors"))

    def probe_buckets(self, query_vec: list[float],
                      n_probe: int = 2) -> list[int]:
        """The ``n_probe`` buckets nearest the query by the same
        rounded l2 rule as assignment (half-up rounding matches SQL
        ROUND; ties to the lowest centroid index). Driver-side over
        ``n_centroids`` floats — metadata-sized."""
        r = self.manifest["round_to"]
        qd = []
        for i, c in enumerate(self.manifest["centroids"]):
            dvv = sum(x * x for x in query_vec)
            dvc = sum(x * y for x, y in zip(query_vec, c))
            dcc = sum(x * x for x in c)
            qd.append((_round_half_up(dvv - 2.0 * dvc + dcc, r), i + 1))
        return [b for _, b in sorted(qd)[:n_probe]]

    def topk(self, query_vec: list[float], k: int = 10,
             n_probe: int = 2, round_to: int | None = 6) -> DataFrame:
        """ANN top-k: exact cosine re-rank inside the probed buckets.
        ``bucket`` is a PARTITION column, so the isin filter prunes
        directories at the scan (PartitionFilters in the plan) — the
        non-probed ~(1 - n_probe/n_centroids) of the store is never
        read. Results are identical to ivf_sampled_topk over the same
        rows (same quantizer, same probe rule, same re-rank)."""
        cand = self.vectors().filter(
            F.col("bucket").isin(self.probe_buckets(query_vec, n_probe)))
        return cosine_topk(cand, query_vec, k, round_to=round_to)

    def multi_topk(self, queries: DataFrame, k: int = 10,
                   n_probe: int = 2,
                   round_to: int | None = 6) -> DataFrame:
        """Batched partition-pruned ANN — the msearch shape for the
        COMMITTED store (round 6; the r5 ``multi_cosine_topk`` batch
        exact-scans the full table, which is not a 100 TB plan).

        ``queries`` is a small (query_id, qv) DataFrame (the msearch
        batch contract). Probe buckets are computed driver-side per
        query (n_centroids floats each — metadata), then the WHOLE
        batch runs as ONE job: a single scan of the UNION of all
        probed bucket directories (PartitionFilters — non-probed dirs
        are never read even for a batch), an equi-join against the
        broadcast (query_id, bucket) probe map so each row scores ONLY
        against the queries that probed its bucket (never a cross
        join), and a PARTITIONED-window per-query rank
        (WindowGroupLimit). Per-query results are identical to
        :meth:`topk` — same probe rule, same candidate set, same
        round-before-rank + (cosine DESC, vec_id ASC) ties.

        Returns (query_id, rank, vec_id, cosine).
        """
        from pyspark.sql import Window

        from prosearch_spark.ops.similarity import _norm

        qrows = queries.select("query_id", "qv").collect()  # batch-sized
        probe_pairs = [
            (r["query_id"],
             b) for r in qrows
            for b in self.probe_buckets([float(x) for x in r["qv"]],
                                        n_probe)]
        if not probe_pairs:
            return self.spark.createDataFrame(
                [], "query_id long, rank int, vec_id long, cosine double")
        buckets = sorted({b for _, b in probe_pairs})
        pm = self.spark.createDataFrame(
            probe_pairs, "query_id long, bucket int")
        # qv widened to double so the elementwise math is the same
        # float-times-double the single-query literal path runs; the
        # per-query norm is materialized on the broadcast side (r7) —
        # same double, folded once per query instead of once per
        # (candidate row x query)
        qd = queries.select(
            "query_id", F.col("qv").cast("array<double>").alias("qv"),
            _norm(F.col("qv").cast("array<double>")).alias("_qn"))
        cand = (
            self.vectors().filter(F.col("bucket").isin(buckets))
            .join(F.broadcast(pm), "bucket")
            .join(F.broadcast(qd), "query_id")
        )
        sim = _dot(F.col("embedding"), F.col("qv")) / (
            _norm(F.col("embedding")) * F.col("_qn"))
        d = cand.select("query_id", "vec_id", sim.alias("cosine"))
        if round_to is not None:
            d = d.withColumn("cosine", F.round("cosine", round_to))
        w = Window.partitionBy("query_id").orderBy(
            F.desc("cosine"), F.asc("vec_id"))
        return (
            d.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("query_id", "rank", "vec_id", "cosine")
        )

    def multi_sq_topk(self, queries: DataFrame, k: int = 10,
                      n_probe: int = 2, candidates: int = 40,
                      round_to: int | None = 6) -> DataFrame:
        """Batched SQ-within-IVF msearch (r7, r6 verdict item 6):
        the candidate pass for a WHOLE query batch reads the 1-byte
        ``code`` column of the probed-bucket union ONCE — not the
        float64 embeddings ``multi_topk`` scans — so the batch
        candidate scan moves ~8x fewer bytes; only the per-query
        top-``candidates`` winners' embeddings are read for the exact
        re-rank (the same join shape as :meth:`sq_topk`).

        Plan: one (vec_id, bucket, code) scan with PartitionFilters
        over the union of probed buckets; broadcast (query_id, bucket)
        probe-map equi-join (never a cross join) x broadcast
        (query_id, qunit) so each row's ADC dot runs only against the
        queries that probed its bucket; per-query candidate cut and
        final rank are PARTITIONED windows (WindowGroupLimit). Every
        per-query slice is bit-identical to :meth:`sq_topk` — same
        Python-side unit query (_unit_py fold), same asymmetric ADC
        dot, same candidate rule (sq_score DESC, vec_id ASC), same
        in-plan half-up score rounding, same exact-cosine re-rank.

        Returns (query_id, rank, vec_id, sq_score, cosine).
        """
        import math

        from pyspark.sql import Window

        from prosearch_spark.ops.similarity import _norm

        gmin = self.manifest.get("gmin")
        gmax = self.manifest.get("gmax")
        if gmin is None or gmax is None:
            raise ValueError(
                "artifact committed without SQ8 codes/bounds; "
                "rebuild with save_vector_index (round 6+)")
        qrows = queries.select("query_id", "qv").collect()  # batch-sized
        probe_pairs = []
        units = []
        for r in qrows:
            qv = [float(x) for x in r["qv"]]
            nsq = 0.0
            for x in qv:
                nsq = nsq + x * x
            nn = math.sqrt(nsq)
            units.append(
                (r["query_id"],
                 [0.0] * len(qv) if nn == 0.0 else [x / nn for x in qv]))
            for b in self.probe_buckets(qv, n_probe):
                probe_pairs.append((r["query_id"], b))
        if not probe_pairs:
            return self.spark.createDataFrame(
                [], "query_id long, rank int, vec_id long, "
                    "sq_score double, cosine double")
        buckets = sorted({b for _, b in probe_pairs})
        pm = self.spark.createDataFrame(
            probe_pairs, "query_id long, bucket int")
        qu = self.spark.createDataFrame(
            units, "query_id long, qunit array<double>")
        codes = F.transform(F.col("code"),
                            lambda c: c.cast("double") + F.lit(128.0))
        iscore = F.aggregate(
            F.zip_with(codes, F.col("qunit"), lambda a, b: a * b),
            F.lit(0.0), lambda acc, v: acc + v)
        probed = self.vectors().filter(F.col("bucket").isin(buckets))
        wc = Window.partitionBy("query_id").orderBy(
            F.desc("sq_score"), F.asc("vec_id"))
        cand = (
            probed.select("vec_id", "bucket", "code")
            .join(F.broadcast(pm), "bucket")
            .join(F.broadcast(qu), "query_id")
            .select("query_id", "vec_id", iscore.alias("sq_score"))
            .withColumn("_cr", F.row_number().over(wc))
            .filter(F.col("_cr") <= candidates)
            .drop("_cr")
        )
        if round_to is not None:
            cand = cand.select(
                "query_id", "vec_id",
                _round_half_up_col(F.col("sq_score"), round_to)
                .alias("sq_score"))
        # qv widened to double so the re-rank math matches the
        # single-query literal path (the multi_topk convention)
        qd = queries.select(
            "query_id", F.col("qv").cast("array<double>").alias("qv"))
        rescored = (
            probed.select("vec_id", "embedding")
            .join(F.broadcast(cand), "vec_id")
            .join(F.broadcast(qd), "query_id")
        )
        sim = _dot(F.col("embedding"), F.col("qv")) / (
            _norm(F.col("embedding")) * _norm(F.col("qv")))
        d = rescored.select("query_id", "vec_id", "sq_score",
                            sim.alias("cosine"))
        if round_to is not None:
            d = d.withColumn("cosine", F.round("cosine", round_to))
        w = Window.partitionBy("query_id").orderBy(
            F.desc("cosine"), F.asc("vec_id"))
        return (
            d.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("query_id", "rank", "vec_id", "sq_score", "cosine")
        )

    def sq_topk(self, query_vec: list[float], k: int = 10,
                n_probe: int = 2, candidates: int = 40,
                round_to: int | None = 6) -> DataFrame:
        """SQ-within-IVF ANN (the FAISS ``IVF,SQ8`` composition —
        r5 verdict item 6): probe-prune THEN integer-dot candidates
        THEN exact re-rank, so the two scale levers MULTIPLY:

        1. the n_probe bucket predicate prunes partition DIRECTORIES
           (same PartitionFilters pin as :meth:`topk`) — the scan
           fraction is ~n_probe/n_centroids of the store;
        2. the candidate pass projects ONLY (vec_id, code): 1-byte
           commit-time SQ8 codes of the UNIT-NORMALIZED vectors (4x
           smaller than the float32 embeddings — parquet column
           pruning makes the projection real), scored by the
           ASYMMETRIC code-vs-raw-unit-query dot (FAISS ADC — see the
           bias note in the body), ending in TakeOrderedAndProject;
        3. only the ``candidates`` winners' embeddings are re-read —
           a second probed-partition scan with a pushed-down
           ``vec_id IN (...)`` filter over k-row ids — and re-ranked
           by exact cosine (round-before-rank, ties vec_id ASC).

        Candidate selection is bit-deterministic (exact small-int
        codes as doubles, the same unit-query double list, a fixed
        fold order, exact
        commit-time bounds from the manifest), so the DuckDB oracle
        reproduces the whole ladder with no data literals — it
        re-derives centroids, buckets, bounds, and codes from the raw
        table (knn_sq_ivf gate entry). Returns
        (rank, vec_id, sq_score, cosine).
        """
        import math

        gmin = self.manifest.get("gmin")
        gmax = self.manifest.get("gmax")
        if gmin is None or gmax is None:
            raise ValueError(
                "artifact committed without SQ8 codes/bounds; "
                "rebuild with save_vector_index (round 6+)")

        # ASYMMETRIC candidate score (FAISS ADC): quantized doc codes
        # dotted against the RAW unit-normalized query. Quantizing the
        # query too would add the affine code offset times each DOC's
        # code sum — a per-candidate norm-sum bias that swamps the
        # cosine signal on clustered corpora (recall@10 measured 0.0
        # symmetric vs 1.0 asymmetric, tools/vector_bench.py); raw-
        # query ADC leaves only a constant-per-query term, which
        # cancels from the ranking. The unit query uses the same
        # left-to-right norm fold as similarity._norm.
        nsq = 0.0
        for x in query_vec:
            nsq = nsq + float(x) * float(x)
        n = math.sqrt(nsq)
        qunit = ([0.0] * len(query_vec) if n == 0.0
                 else [float(x) / n for x in query_vec])
        buckets = self.probe_buckets(query_vec, n_probe)
        probed = self.vectors().filter(F.col("bucket").isin(buckets))
        qarr = F.array(*[F.lit(x) for x in qunit])
        codes = F.transform(F.col("code"),
                            lambda c: c.cast("double") + F.lit(128.0))
        iscore = F.aggregate(
            F.zip_with(codes, qarr, lambda a, b: a * b),
            F.lit(0.0), lambda acc, v: acc + v)
        cand = (
            probed.select(F.col("vec_id"), iscore.alias("sq_score"))
            .orderBy(F.desc("sq_score"), F.asc("vec_id"))
            .limit(candidates)
        )
        # JOIN-SHAPED re-rank (r7, verdict item 2): candidates stay a
        # DataFrame — the <=``candidates``-row top-N is BROADCAST and
        # equi-joined back against the probed (vec_id, embedding)
        # scan, so no id list ever round-trips through the driver or
        # lands in the plan as an IN literal (fatal at PQ-scale
        # candidate depths: ~0.4% of a 1B-vector store would be ~4M
        # plan literals). Rounding happens IN-PLAN with the exact
        # float formula of _round_half_up (see _round_half_up_col) —
        # bit-identical to the collected path this replaces.
        if round_to is not None:
            sq = cand.select(
                "vec_id",
                _round_half_up_col(F.col("sq_score"), round_to)
                .alias("sq_score"))
        else:
            sq = cand
        rescored = (probed.select("vec_id", "embedding")
                    .join(F.broadcast(sq), "vec_id"))
        sim = cosine_sim_col(F.col("embedding"), query_vec)
        d = rescored.select("vec_id", "sq_score", sim.alias("cosine"))
        if round_to is not None:
            d = d.withColumn("cosine", F.round("cosine", round_to))
        from pyspark.sql import Window
        w = Window.orderBy(F.desc("cosine"), F.asc("vec_id"))
        return (
            d.orderBy(F.desc("cosine"), F.asc("vec_id")).limit(k)
            .withColumn("rank", F.row_number().over(w))
            .select("rank", "vec_id", "sq_score", "cosine")
        )

    def pq_topk(self, query_vec: list[float], k: int = 10,
                n_probe: int = 2, candidates: int = 40,
                round_to: int | None = 6) -> DataFrame:
        """PQ-within-IVF ANN (the FAISS ``IVF,PQm`` composition —
        the tier past SQ8): probe-prune THEN table-lookup candidates
        THEN exact re-rank.

        1. the n_probe bucket predicate prunes partition DIRECTORIES
           (PartitionFilters — same pin as :meth:`topk`);
        2. the candidate pass projects ONLY (vec_id, pq_code): m
           smallint codeword indexes per vector (16 bytes at m=8 vs
           512 for a float64 dim-64 embedding — 32x), scored by the
           FAISS ADC rule: the manifest codebooks x the RAW unit
           query give an (m x k) lookup table driver-side
           (metadata-sized), and a candidate's score is the
           LEFT-TO-RIGHT sum of its m table entries — an
           element_at chain, no per-row vector math at all;
        3. only the ``candidates`` winners' embeddings are re-read
           (pushed-down vec_id IN over the probed partitions) and
           re-ranked by exact cosine.

        The ADC score approximates dot(q_unit, v_unit) = cosine by
        construction (codewords live in unit space — the SQ8 recall
        lesson applied from day one). ``candidates`` is the FAISS
        k_factor knob and it is NOT cosmetic: m=8 codes carry ~16
        bytes of signal, so ADC separates regions, not neighbors —
        on the clustered vector_bench corpus recall@10 measured 0.2
        at candidates=40 and 1.0 at candidates=400-800 (~0.4% of the
        store; numpy twin + committed-store run both). Size
        ``candidates`` at a fraction of the PROBED rows (0.5-1%),
        not a multiple of k; the exact re-rank restores precision at
        that depth. SQ8 (sq_topk) keeps per-element resolution and
        ranks well at small candidate lists — PQ buys 4x less
        candidate-scan bandwidth (16 B vs 64 B/vec) in exchange for
        needing the deeper re-rank. Every float in the ladder is
        bit-deterministic: codebooks are unit subvectors of the
        pq_k smallest ids, lookup values are the same left-to-right
        double dot in Python, Spark, and DuckDB list_dot_product,
        and the final sum is a fixed-order chain — so the oracle
        re-derives codebooks, codes, and lookups from the raw table
        with no data literals (knn_pq_ivf gate). Returns
        (rank, vec_id, pq_score, cosine)."""
        from functools import reduce as _reduce

        pq = self.manifest.get("pq")
        if not pq:
            raise ValueError(
                "artifact committed without PQ codes; rebuild with "
                "save_vector_index(pq_m=...) (round 6+)")
        m, dsub = int(pq["m"]), int(pq["dsub"])
        qunit = _unit_py([float(x) for x in query_vec])
        lut = [
            [_dot_py(qunit[j * dsub:(j + 1) * dsub], w)
             for w in pq["codebooks"][j]]
            for j in range(m)
        ]
        buckets = self.probe_buckets(query_vec, n_probe)
        probed = self.vectors().filter(F.col("bucket").isin(buckets))
        score = _reduce(
            lambda a, b: a + b,
            [F.element_at(F.array(*[F.lit(v) for v in lut[j]]),
                          F.col("pq_code").getItem(j).cast("int"))
             for j in range(m)])
        cand = (
            probed.select(F.col("vec_id"), score.alias("pq_score"))
            .orderBy(F.desc("pq_score"), F.asc("vec_id"))
            .limit(candidates)
        )
        # JOIN-SHAPED re-rank (r7, verdict item 2): the candidate
        # top-N stays a DataFrame, broadcast-joined back against the
        # probed (vec_id, embedding) scan — PQ's own measured recall
        # requires candidates ~0.4% of the store (BENCH §2h'''), a
        # depth at which the old driver collect + IN-literal refilter
        # (~4M ids at 1B vectors) is fatal. Rounding is in-plan via
        # the exact _round_half_up float formula (_round_half_up_col).
        if round_to is not None:
            pqs = cand.select(
                "vec_id",
                _round_half_up_col(F.col("pq_score"), round_to)
                .alias("pq_score"))
        else:
            pqs = cand
        rescored = (probed.select("vec_id", "embedding")
                    .join(F.broadcast(pqs), "vec_id"))
        sim = cosine_sim_col(F.col("embedding"), query_vec)
        d = rescored.select("vec_id", "pq_score", sim.alias("cosine"))
        if round_to is not None:
            d = d.withColumn("cosine", F.round("cosine", round_to))
        from pyspark.sql import Window
        w = Window.orderBy(F.desc("cosine"), F.asc("vec_id"))
        return (
            d.orderBy(F.desc("cosine"), F.asc("vec_id")).limit(k)
            .withColumn("rank", F.row_number().over(w))
            .select("rank", "vec_id", "pq_score", "cosine")
        )


class VectorSegments:
    """A tombstoned stack of immutable embedding segments."""

    def __init__(self, spark: SparkSession, root: str,
                 id_col: str = "vec_id", vec_col: str = "embedding"):
        self.spark = spark
        self.root = root
        self.id_col = id_col
        self.vec_col = vec_col
        self._lock_held = [False]  # reentrancy cell (see locks.py)
        os.makedirs(os.path.join(root, "segments"), exist_ok=True)
        if not os.path.exists(os.path.join(root, POINTER)):
            self._publish([], gen=0)

    def writer_lock(self):
        """One writer per vector stack (locks.exclusive_writer_lock:
        flock, kernel-released on holder death, reentrant per
        instance). commit/adopt/upsert acquire it implicitly."""
        from prosearch_spark.index.locks import exclusive_writer_lock

        return exclusive_writer_lock(self.root, self._lock_held)

    # -- pointer ------------------------------------------------------------

    def _pointer(self) -> dict:
        with open(os.path.join(self.root, POINTER)) as f:
            return json.load(f)

    def _publish(self, segs: list[dict], gen: int,
                 deletes: str | None = None) -> None:
        """Swap the pointer, recording the snapshot FIRST (segments.py
        order: a crash between the two leaves the current pointer
        authoritative and at worst an orphan history file). The pointer
        also names the current ``deletes`` dir (round 6 — gc() swaps in
        a compacted one); ``deletes=None`` carries the current name
        forward."""
        if deletes is None:
            ppath = os.path.join(self.root, POINTER)
            if os.path.exists(ppath):
                with open(ppath) as f:
                    deletes = json.load(f).get("deletes", "deletes")
            else:
                deletes = "deletes"
        payload = {"segments": segs, "gen": gen, "deletes": deletes}
        tmp = os.path.join(self.root, POINTER + ".tmp")
        with open(tmp, "w") as f:
            json.dump(payload, f)
        hdir = os.path.join(self.root, "history")
        os.makedirs(hdir, exist_ok=True)
        with open(os.path.join(hdir, f"VSEGMENTS-{gen:06d}.json"),
                  "w") as f:
            json.dump(payload, f)
        os.replace(tmp, os.path.join(self.root, POINTER))

    def has_segment(self, name: str) -> bool:
        return any(e["name"] == name
                   for e in self._pointer()["segments"])

    def segment_names(self) -> list[str]:
        return [e["name"] for e in self._pointer()["segments"]]

    # -- commit / upsert ----------------------------------------------------

    def _seg_path(self, name: str) -> str:
        return os.path.join(self.root, "segments", name)

    def commit(self, emb: DataFrame, name: str | None = None) -> str:
        """Seal ``emb`` as a new immutable segment; vectors are fully
        written BEFORE the pointer swap (a crash leaves an orphan dir
        and the old view — adopt() completes it)."""
        with self.writer_lock():
            if name is None:
                n = self._pointer()["gen"]
                while True:
                    n += 1
                    name = f"seg-{n:06d}"
                    if not os.path.exists(self._seg_path(name)):
                        break
            out = emb.select(
                F.col(self.id_col).cast("long").alias("vec_id"),
                F.col(self.vec_col).alias("embedding"),
            )
            out.write.parquet(self._seg_path(name))
            return self.adopt(name)

    def adopt(self, name: str) -> str:
        """Publish an already-written segment dir (crash-completion —
        the streaming sink's re-delivery path)."""
        with self.writer_lock():
            p = self._pointer()
            n = int(self.spark.read.parquet(self._seg_path(name)).count())
            self._publish(p["segments"] + [{"name": name,
                                            "n_vectors": n}],
                          p["gen"] + 1)
            return name

    def _tagged(self, names: list[str] | None = None) -> DataFrame:
        """ONE multi-path scan of every alive segment (or an explicit
        snapshot membership), each row tagged with its segment name
        from the file path (no per-segment jobs)."""
        if names is None:
            names = self.segment_names()
        if not names:
            return self.spark.createDataFrame(
                [], "seg string, vec_id long, embedding array<float>")
        return self.spark.read.parquet(*[
            self._seg_path(n) for n in names
        ]).select(
            F.regexp_extract(F.col("_metadata.file_path"),
                             r"segments/([^/]+)/", 1).alias("seg"),
            "vec_id", "embedding",
        )

    def _deletes_dir(self) -> str:
        return os.path.join(self.root,
                            self._pointer().get("deletes", "deletes"))

    def _deletes(self) -> DataFrame | None:
        d = self._deletes_dir()
        if not os.path.exists(d):
            return None
        return self.spark.read.parquet(d)

    def upsert(self, emb: DataFrame, name: str | None = None) -> str:
        """Delete-then-index at segment granularity: tombstone the
        incoming ids wherever an older segment holds them — ONE tagged
        probe scan + one broadcast semi-join, appended as (seg,
        vec_id) delete rows — then seal ``emb`` as a new segment.
        Work is O(stack probe + batch), never O(corpus rewrite)."""
        with self.writer_lock():
            ids = emb.select(F.col(self.id_col).cast("long")
                             .alias("vec_id"))
            if self.segment_names():
                hits = (
                    self._tagged().select("seg", "vec_id")
                    .join(F.broadcast(ids), "vec_id", "left_semi")
                )
                hits.write.mode("append").parquet(self._deletes_dir())
            return self.commit(emb, name=name)

    # -- query view ---------------------------------------------------------

    def live(self, names: list[str] | None = None) -> DataFrame:
        """Alive (vec_id, embedding) rows: the tagged scan minus the
        per-segment tombstones — deletes kill a doc's OLD segment rows
        only, so an upserted id stays alive in its newest segment
        (the per-segment alive-bitset model; one global anti-join on
        vec_id alone would erase the re-add). ``names`` restricts the
        scan to a snapshot's membership (as_of); tombstones are always
        the CURRENT set — the same membership-is-versioned /
        deletes-are-read-time scope the lexical as_of has."""
        v = self._tagged(names)
        d = self._deletes()
        if d is not None:
            v = v.join(F.broadcast(d), ["seg", "vec_id"], "left_anti")
        return v.select("vec_id", "embedding")

    def topk(self, query_vec: list[float], k: int = 10,
             round_to: int | None = 6) -> DataFrame:
        """Exact cosine top-k over the LIVE stack — queries never wait
        for compaction; results hash-match a flat index over the same
        alive rows."""
        return cosine_topk(self.live(), query_vec, k, round_to=round_to)

    def multi_topk(self, queries: DataFrame, k: int = 10,
                   round_to: int | None = 6) -> DataFrame:
        """Batched live serving (the msearch shape for the stack)."""
        return multi_cosine_topk(self.live(), queries, k,
                                 round_to=round_to)

    def compact_to(self, path: str, n_centroids: int = 8,
                   round_to: int = 6,
                   centroids: list[list[float]] | None = None,
                   pq_m: int = 0, pq_k: int = 16
                   ) -> VectorArtifact:
        """Fold the live rows into a partition-pruned IVF artifact
        (tier 1) — tombstones applied physically, the stack left
        untouched for slower readers; the caller swaps its pointer.
        In-stack compaction (the thing that bounds the stack itself)
        is :meth:`force_merge` + :meth:`gc`. ``centroids`` passes a
        trained quantizer through (train_centroids_lloyd — the
        non-gated quality path).

        Serving tiers, deliberately: the STACK serves exact cosine
        (recent data, O(ingest window) rows — probe pruning and SQ
        codes would buy little and per-segment bounds would need a
        shared quantizer across independently-written segments); the
        ARTIFACT is the big immutable store where the IVF partitions
        and the commit-time SQ codes (and opt-in PQ codes, pq_m>0)
        pay. Compaction is the boundary
        where rows cross from the exact tier to the pruned tier."""
        return save_vector_index(self.spark, self.live(), path,
                                 n_centroids=n_centroids,
                                 id_col="vec_id", vec_col="embedding",
                                 round_to=round_to, centroids=centroids,
                                 pq_m=pq_m, pq_k=pq_k)

    # -- lifecycle: merge / snapshots / gc (round 6 — segments.py parity) -----

    def force_merge(self) -> str | None:
        """Rewrite the LIVE rows as one clean segment and publish a
        pointer holding only it — tombstones applied physically
        (merge.rs:18-31 semantics: merge folds the alive-bitset into
        the new segment). Old segment dirs and the delete rows that
        reference them stay on disk for snapshot readers until
        :meth:`gc` sweeps them (delete files die with their segment
        dirs, exactly the lexical model). Returns the new segment
        name, or None on an empty stack."""
        with self.writer_lock():
            p = self._pointer()
            if not p["segments"]:
                return None
            gen = p["gen"]
            while True:
                gen += 1
                name = f"seg-{gen:06d}"
                if not os.path.exists(self._seg_path(name)):
                    break
            self.live().write.parquet(self._seg_path(name))
            n = int(self.spark.read.parquet(self._seg_path(name)).count())
            self._publish([{"name": name, "n_vectors": n}], p["gen"] + 1)
            return name

    def history(self) -> list[int]:
        """Generations with a recorded snapshot, ascending."""
        hdir = os.path.join(self.root, "history")
        if not os.path.isdir(hdir):
            return []
        return sorted(
            int(f[len("VSEGMENTS-"):-len(".json")])
            for f in os.listdir(hdir)
            if f.startswith("VSEGMENTS-") and f.endswith(".json"))

    def as_of(self, gen: int) -> "VectorStackSnapshot":
        """The stack AS OF generation ``gen`` — the same time-travel
        read the lexical stack serves (segments.as_of): snapshot scope
        is segment MEMBERSHIP; tombstones are index-wide and applied
        at read time, so a snapshot reflects deletes made after it was
        taken (the Lucene live-docs model). Readable until gc()
        removes segments the current pointer no longer holds;
        ``gc(retain_history=N)`` keeps the last N snapshots' segments
        alive for exactly this read."""
        hfile = os.path.join(self.root, "history",
                             f"VSEGMENTS-{gen:06d}.json")
        if not os.path.exists(hfile):
            raise ValueError(
                f"no snapshot recorded for gen {gen}; "
                f"available: {self.history()}")
        with open(hfile) as f:
            names = [e["name"] for e in json.load(f)["segments"]]
        for n in names:
            if not os.path.exists(self._seg_path(n)):
                raise ValueError(
                    f"segment {n} of gen {gen} no longer exists — gc() "
                    "expired this snapshot (retain more history or "
                    "re-read the current pointer)")
        return VectorStackSnapshot(self, names)

    def gc(self, retain_history: int = 0) -> list[str]:
        """Remove segment dirs no longer referenced by the current
        pointer (merged-away inputs, orphaned crash leftovers);
        ``retain_history=N`` keeps the segments of the last N recorded
        snapshots as_of-readable and prunes older history files —
        segments.gc semantics exactly.

        Vector twist: tombstones live in ONE pointer-named delete dir
        rather than per-segment files, so sweeping a segment also
        COMPACTS the deletes — surviving rows are rewritten to a new
        dir and the pointer swaps to it (crash-safe: the old dir stays
        authoritative until the swap; after the swap it is dead
        weight and is removed). This closes the r5 'deletes/ appends
        forever' growth: after force_merge + gc the delete set is
        empty and the dir is gone."""
        import shutil

        with self.writer_lock():
            p = self._pointer()
            alive = {e["name"] for e in p["segments"]}
            gens = self.history()
            keep_gens = gens[-retain_history:] if retain_history > 0 else []
            for g in keep_gens:
                with open(os.path.join(
                        self.root, "history",
                        f"VSEGMENTS-{g:06d}.json")) as f:
                    alive |= {e["name"] for e in json.load(f)["segments"]}
            for g in gens:
                if g not in keep_gens and g != p["gen"]:
                    os.unlink(os.path.join(self.root, "history",
                                           f"VSEGMENTS-{g:06d}.json"))
            segdir = os.path.join(self.root, "segments")
            removed = []
            for d in sorted(os.listdir(segdir)):
                if d not in alive:
                    shutil.rmtree(os.path.join(segdir, d))
                    removed.append(d)
            old_name = p.get("deletes", "deletes")
            old_dir = os.path.join(self.root, old_name)
            if removed and os.path.exists(old_dir):
                kept = (self.spark.read.parquet(old_dir)
                        .filter(F.col("seg").isin(sorted(alive))))
                gen = p["gen"] + 1
                new_name = f"deletes-{gen:06d}"
                if kept.isEmpty():
                    # publish a name whose dir does not exist — the
                    # read side treats it as 'no deletes'
                    self._publish(p["segments"], gen, deletes=new_name)
                else:
                    kept.write.parquet(os.path.join(self.root, new_name))
                    self._publish(p["segments"], gen, deletes=new_name)
                shutil.rmtree(old_dir)
            return removed


class VectorStackSnapshot:
    """A read view of a VectorSegments stack pinned to one snapshot's
    segment membership (:meth:`VectorSegments.as_of`). Tombstones are
    read-time and index-wide — the lexical snapshot scope."""

    def __init__(self, segs: VectorSegments, names: list[str]):
        self._segs = segs
        self.names = list(names)

    def live(self) -> DataFrame:
        return self._segs.live(self.names)

    def topk(self, query_vec: list[float], k: int = 10,
             round_to: int | None = 6) -> DataFrame:
        return cosine_topk(self.live(), query_vec, k, round_to=round_to)

    def multi_topk(self, queries: DataFrame, k: int = 10,
                   round_to: int | None = 6) -> DataFrame:
        return multi_cosine_topk(self.live(), queries, k,
                                 round_to=round_to)

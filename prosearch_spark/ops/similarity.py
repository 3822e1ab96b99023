"""Embedding similarity search (ANN) over an ``array<float>`` column.

Two tiers, per the scale ladder:

- :func:`cosine_topk` — exact brute-force top-k against a broadcast
  query vector. JVM-side ``F.zip_with`` + ``F.aggregate`` (sequential
  fold -> deterministic summation order, mirrorable in an oracle);
  ends in ``TakeOrderedAndProject`` so the scan is one pass, no shuffle.
- :func:`ivf_sampled_topk` — deterministic IVF ANN (sampled-member
  coarse quantizer, n_probe buckets, exact re-rank inside); the
  committed form is ``index/vectors.VectorArtifact``.
- :func:`knn_join` — all-pairs k-NN between two embedding tables via
  random-hyperplane LSH-bucket equi-join (deterministic md5-derived
  hyperplanes) then per-left top-k (window), for near-dup semantic
  dedup at scale.
"""

from __future__ import annotations

import math as _math

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def _dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a):
    return F.sqrt(
        F.aggregate(a, F.lit(0.0),
                    lambda acc, v: acc + v.cast("double") * v.cast("double"))
    )


def cosine_sim_col(vec_col, query_vec: list[float]):
    # the query norm is a CONSTANT: fold it in Python with the same
    # left-to-right double math as _norm (bit-identical) instead of
    # re-running an interpreted O(dim) HOF fold per ROW (r7)
    q = F.array(*[F.lit(float(x)) for x in query_vec])
    acc = 0.0
    for x in query_vec:
        acc = acc + float(x) * float(x)
    return _dot(vec_col, q) / (_norm(vec_col) * F.lit(_math.sqrt(acc)))


def cosine_topk(emb: DataFrame, query_vec: list[float], k: int = 10,
                id_col: str = "vec_id", vec_col: str = "embedding",
                round_to: int | None = 6) -> DataFrame:
    """Exact top-k by cosine; rank on rounded score + id tie-break so
    results are deterministic and oracle-comparable."""
    sim = cosine_sim_col(F.col(vec_col), query_vec)
    d = emb.select(F.col(id_col).alias("vec_id"), sim.alias("cosine"))
    if round_to is not None:
        d = d.withColumn("cosine", F.round("cosine", round_to))
    top = d.orderBy(F.desc("cosine"), F.asc("vec_id")).limit(k)
    w = Window.orderBy(F.desc("cosine"), F.asc("vec_id"))
    return top.withColumn("rank", F.row_number().over(w)).select(
        "rank", "vec_id", "cosine"
    )


def multi_cosine_topk(emb: DataFrame, queries: DataFrame, k: int = 10,
                      id_col: str = "vec_id", vec_col: str = "embedding",
                      round_to: int | None = 6) -> DataFrame:
    """Batched exact cosine top-k: ONE scan of the embedding table for
    a whole query batch — the msearch shape for the ANN leg.

    ``queries`` is a small DataFrame ``(query_id, qv: array<...>)``;
    it is broadcast against the candidate scan (one pass, no per-query
    jobs), then per-query ranking is a PARTITIONED window
    (WindowGroupLimit pushes the per-group limit below the shuffle),
    exactly like ``engine.multi_topk`` on the lexical side.  At 100 TB
    the scan cost is paid once per batch instead of once per query.

    Returns ``(query_id, rank, vec_id, cosine)`` with the same
    round-before-rank + (cosine DESC, vec_id ASC) rule as
    :func:`cosine_topk`.
    """
    cand = emb.select(F.col(id_col).alias("vec_id"),
                      F.col(vec_col).alias("_v"))
    # the per-query norm is materialized ON THE BROADCAST SIDE (n
    # query rows), below the join — the old form re-folded _norm(_q)
    # per (row x query) in interpreted HOF code (r7; same double, the
    # projection just runs once per query instead of once per pair)
    scored = cand.crossJoin(F.broadcast(
        queries.select(F.col("query_id"), F.col("qv").alias("_q"),
                       _norm(F.col("qv")).alias("_qn"))))
    sim = _dot(F.col("_v"), F.col("_q")) / (
        _norm(F.col("_v")) * F.col("_qn"))
    d = scored.select("query_id", "vec_id", sim.alias("cosine"))
    if round_to is not None:
        d = d.withColumn("cosine", F.round("cosine", round_to))
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("vec_id"))
    return (
        d.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "vec_id", "cosine")
    )


# -- LSH (random hyperplanes) -------------------------------------------------

def _hyperplanes(dim: int, n_planes: int, seed: int = 42) -> list[list[float]]:
    """Deterministic pseudo-random unit-free hyperplanes from md5.

    Component (p, i) = (md5 digest int of f"{seed}:{p}:{i}") scaled to
    [-1, 1). Reproducible everywhere (hashlib twin in tests).
    """
    import hashlib

    planes = []
    for p in range(n_planes):
        row = []
        for i in range(dim):
            h = hashlib.md5(f"{seed}:{p}:{i}".encode()).hexdigest()
            v = int(h[:15], 16) / float(1 << 60)  # [0,1)
            row.append(2.0 * v - 1.0)
        planes.append(row)
    return planes


def _round_half_up(x: float, nd: int = 6) -> float:
    """Half-up rounding matching SQL ROUND (Python's round() is
    banker's): the driver-side probe selection must order by the same
    rounded values the SQL oracle computes."""
    import math

    scale = 10 ** nd
    return math.floor(x * scale + 0.5) / scale


def _round_half_up_col(col, nd: int = 6):
    """In-plan twin of :func:`_round_half_up` — the SAME float formula
    (floor(x*scale + 0.5)/scale in IEEE doubles), so a score rounded
    inside the plan is bit-identical to one collected and rounded in
    Python. This is deliberately NOT F.round (BigDecimal half-up),
    whose decimal-exact path can disagree with the float formula in
    the last ulp; the driver-collect re-rank paths this replaces
    (r7: VectorArtifact.sq_topk/pq_topk) defined their gate semantics
    with the float formula."""
    s = F.lit(float(10 ** nd))
    return F.floor(col * s + F.lit(0.5)) / s


def ivf_sampled_topk(emb: DataFrame, query_vec: list[float], k: int = 10,
                     n_centroids: int = 8, n_probe: int = 2,
                     id_col: str = "vec_id", vec_col: str = "embedding",
                     round_to: int = 6) -> DataFrame:
    """Deterministic IVF ANN.

    Coarse quantizer = SAMPLED MEMBER VECTORS (the ``n_centroids``
    smallest ids in ``emb``) instead of KMeans: a standard IVF baseline
    (FAISS supports random-sample coarse quantizers) whose every step
    is a deterministic relational expression, so DuckDB can recompute
    assignment, probe choice, and re-rank from the raw table — no
    data-dependent literals in the oracle.

    - assignment: bucket(v) = argmin_i round(l2sq(v, c_i), 6), ties to
      the lowest centroid index; l2sq expands to
      ``dot(v,v) - 2*dot(v,c) + dot(c,c)`` so both engines fold the
      same dot products in the same order.
    - probe: the ``n_probe`` centroids nearest the query by the same
      rounded metric (computed driver-side; half-up rounding matches
      SQL ROUND).
    - re-rank: exact cosine top-k inside the probed buckets.

    At 100 TB the bucket column is the partition key: assignment is a
    pure projection over centroid literals (no join — plan-pinned: no
    BroadcastNestedLoopJoin), and a query reads only its n_probe
    partitions before one TakeOrderedAndProject.
    """
    cent_rows = (
        emb.select(id_col, vec_col).orderBy(id_col).limit(n_centroids)
        .collect()
    )
    cents = [[float(x) for x in r[1]] for r in cent_rows]

    def l2sq_col(v, c: list[float]):
        cl = F.array(*[F.lit(x) for x in c])
        return _dot(v, v) - F.lit(2.0) * _dot(v, cl) + _dot(cl, cl)

    d_arr = F.array(*[
        F.round(l2sq_col(F.col(vec_col), c), round_to) for c in cents
    ])
    assigned = emb.withColumn(
        "bucket", F.array_position(d_arr, F.array_min(d_arr))
    )
    qd = []
    for i, c in enumerate(cents):
        dvv = sum(x * x for x in query_vec)
        dvc = sum(x * y for x, y in zip(query_vec, c))
        dcc = sum(x * x for x in c)
        qd.append((_round_half_up(dvv - 2.0 * dvc + dcc, round_to), i + 1))
    probes = [b for _, b in sorted(qd)[:n_probe]]
    cand = assigned.filter(F.col("bucket").isin(probes))
    return cosine_topk(cand, query_vec, k, id_col, vec_col, round_to)


def _banded_sigs(vec: Column | str, planes: list[list[float]],
                 planes_per_table: int, n_tables: int, probes: int = 1):
    """array<struct<t:int, sig:string>> — one sign-signature per LSH
    table; table t hashes with the plane slice [t*r, (t+1)*r).

    ``probes > 1`` adds, per table, the signatures with the
    (probes-1) LOWEST-|margin| bits flipped — multi-probe: the bits
    most likely to disagree across a true near-pair are the ones whose
    hyperplane the vector sits closest to. Probing one side of a join
    suffices (a flipped-left signature meets the right's base
    signature), so candidate volume grows by ~probes on the probing
    side only, not quadratically.

    Flip positions are chosen by RANK over sorted (|margin|, plane
    index) structs — a deterministic tie-break, so tied margins still
    flip (probes-1) DISTINCT bits (array_position on raw values would
    resolve every tied rank to the first occurrence and silently emit
    duplicate probes — r3 ADVICE finding). ``probes`` is clamped to
    planes_per_table + 1 (base + one flip per plane is every
    one-bit-away signature there is; a larger value would index past
    the margin array and emit null signatures)."""
    v = F.col(vec) if isinstance(vec, str) else vec
    probes = min(probes, planes_per_table + 1)
    entries = []
    for t in range(n_tables):
        sl = planes[t * planes_per_table:(t + 1) * planes_per_table]
        dots = [_dot(v, F.array(*[F.lit(c) for c in p])) for p in sl]
        bits = [F.when(d > 0, F.lit("1")).otherwise(F.lit("0"))
                for d in dots]
        base = F.concat(*bits)
        entries.append(F.struct(F.lit(t).alias("t"), base.alias("sig")))
        if probes > 1:
            # rank-ordered flip positions: struct sort on (|margin|,
            # plane index) — ties resolve to the lower index, and each
            # rank j names a DISTINCT plane
            order = F.array_sort(F.array(*[
                F.struct(F.abs(d).alias("a"),
                         F.lit(i + 1).cast("int").alias("i"))
                for i, d in enumerate(dots)
            ]))
            for j in range(1, probes):
                pos = F.element_at(order, j)["i"]
                flipped = F.when(
                    F.substring(base, pos, 1) == "1", F.lit("0")
                ).otherwise(F.lit("1"))
                entries.append(F.struct(
                    F.lit(t).alias("t"),
                    F.overlay(base, flipped, pos, F.lit(1)).alias("sig"),
                ))
    return F.array(*entries)


def semantic_dedup(emb: DataFrame, k: int = 3, threshold: float = 0.45,
                   id_col: str = "vec_id", vec_col: str = "embedding",
                   n_planes: int = 6, seed: int = 42, dim: int = 64,
                   n_tables: int = 1, probes: int = 1) -> DataFrame:
    """(vec_id, cluster_id, keep): embedding-side near-dup dedup END
    TO END — the semantic twin of the lexical minhash -> clusters ->
    keep_best pipeline: banded-LSH kNN self-join (never all-pairs),
    cosine >= ``threshold`` pairs, transitive connected components,
    one canonical survivor per cluster (the min-id member — the
    cluster label IS the min id, so the survivor rule costs nothing).

    Pair semantics inherit knn_join's per-left top-``k`` truncation
    (rank by cosine DESC, r_id ASC) — a deliberately deterministic
    candidate rule both engines and the SQL oracle replicate exactly.
    Scale: LSH buckets bound candidates, CC is one shuffle per
    diameter round, the survivor flag is a projection."""
    from prosearch_spark.ops.dedup import dup_clusters

    pairs = knn_join(emb, emb, k=k, id_col=id_col, vec_col=vec_col,
                     n_planes=n_planes, seed=seed, dim=dim,
                     n_tables=n_tables, probes=probes)
    nd = pairs.filter(
        (F.col("cosine") >= F.lit(threshold))
        & (F.col("l_id") < F.col("r_id"))
    ).select(F.col("l_id").alias("doc_id"),
             F.col("r_id").alias("doc_id2"))
    cl = dup_clusters(nd)
    return cl.select(
        F.col("node").alias(id_col), "cluster_id",
        (F.col("node") == F.col("cluster_id")).alias("keep"),
    )


def knn_join(left: DataFrame, right: DataFrame, k: int = 5,
             id_col: str = "vec_id", vec_col: str = "embedding",
             n_planes: int = 6, seed: int = 42, dim: int = 64,
             n_tables: int = 1, probes: int = 1) -> DataFrame:
    """Approximate k-NN join: equi-join on LSH buckets, exact cosine
    inside, per-left top-k via window. (l_id, r_id, cosine, rank).

    ``n_tables`` > 1 enables BANDED (multi-table) LSH: each side gets
    one ``n_planes``-bit signature per table (independent hyperplane
    slices), a pair is a candidate when ANY table's signatures match,
    and duplicates collapse before the exact re-rank. The recall lever:
    with per-plane agreement probability p = 1 - angle/pi, recall =
    1 - (1 - p^r)^L — raise L for recall, raise r to keep random pairs
    out (random-pair candidate rate = L * 2^-r). bench.py measures the
    operating recall against the exact ground truth.

    ``probes`` > 1 adds multi-probe on the LEFT side: per table, also
    emit the signatures with the (probes-1) lowest-|margin| bits
    flipped. Effective recall ~ 1 - (1 - p^(r-1))^L for probes=2 at
    ~probes× the left signature volume — the cheap way past the
    more-tables plateau (bench.py §2ab measures it).
    """
    planes = _hyperplanes(dim, n_planes * n_tables, seed)

    # per-side norms are materialized ONCE PER ROW (below the explode
    # and the bucket join) — the old form re-folded BOTH norms per
    # candidate PAIR in interpreted HOF code, and candidate pairs
    # outnumber rows by the collision factor (r7; same doubles, same
    # cosine — the projection just moves below the join)
    l = left.select(
        F.col(id_col).alias("l_id"), F.col(vec_col).alias("l_vec"),
        _norm(F.col(vec_col)).alias("l_nrm"),
    ).withColumn("ts", F.explode(_banded_sigs(
        F.col("l_vec"), planes, n_planes, n_tables, probes=probes
    ))).select(
        "l_id", "l_vec", "l_nrm",
        F.col("ts.t").alias("t"), F.col("ts.sig").alias("sig")
    )
    r = right.select(
        F.col(id_col).alias("r_id"), F.col(vec_col).alias("r_vec"),
        _norm(F.col(vec_col)).alias("r_nrm"),
    ).withColumn("ts", F.explode(_banded_sigs(
        F.col("r_vec"), planes, n_planes, n_tables
    ))).select(
        "r_id", "r_vec", "r_nrm",
        F.col("ts.t").alias("t"), F.col("ts.sig").alias("sig")
    )
    pairs = (
        l.join(r, ["t", "sig"]).filter(F.col("l_id") != F.col("r_id"))
        .select("l_id", "l_vec", "l_nrm", "r_id", "r_vec", "r_nrm")
    )
    if n_tables > 1 or probes > 1:
        # any-table/any-probe semantics: collapse pairs that collided
        # in several tables or probes (a no-op shuffle the single-table
        # plan must not pay)
        pairs = pairs.dropDuplicates(["l_id", "r_id"])
    scored = pairs.withColumn(
        "cosine",
        F.round(_dot(F.col("l_vec"), F.col("r_vec"))
                / (F.col("l_nrm") * F.col("r_nrm")), 6),
    )
    w = Window.partitionBy("l_id").orderBy(F.desc("cosine"), F.asc("r_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("l_id", "r_id", "cosine", "rank")
    )


# -- scalar quantization (SQ8) ----------------------------------------------

def unit_col(vec_col):
    """Element-wise unit normalization ``x / ||v||`` — the direction
    of ``v`` as exact IEEE doubles (same fold order as ``_norm``, so
    Python/DuckDB twins reproduce every element bit-for-bit).

    SQ candidates MUST quantize the normalized vector (the FAISS
    convention for cosine/IP search on unnormalized data): an integer
    dot over raw-value codes ranks by inner product, which favors
    large-norm vectors and collapses recall against a cosine re-rank
    on any varied-norm corpus — measured at recall@10 = 0.0 on
    tools/vector_bench.py's clustered 200k corpus before this fix,
    1.0 after. A zero vector maps to all-zero codes (cosine against
    it is undefined anyway).

    COST WARNING (r7): referencing ``n`` (a full-array aggregate)
    inside the per-element ``transform`` lambda re-evaluates the norm
    fold per ELEMENT in interpreted HOF code — O(dim^2) per row (the
    r6 knn_sq 0.49->6.02 s regression). This form is the readable
    REFERENCE twin only; every hot path (sq_topk,
    save_vector_index's code column) uses :func:`unit_col_mat` over a
    MATERIALIZED per-row ``_nrm`` column, which is bit-identical
    (same when(n==0)/x/n element shape, same norm fold — just
    evaluated once per row). A fully flat per-index codegen expansion
    was measured SLOWER end to end at both 2k and 200k rows
    (Catalyst+Janino pay ~2-3 s per query for the 64-wide tree;
    the cheap-lambda HOF evaluates in well under that)."""
    n = _norm(vec_col)
    return F.transform(
        vec_col,
        lambda x: F.when(n == F.lit(0.0), F.lit(0.0))
        .otherwise(x.cast("double") / n))


def unit_col_mat(vec_col, nrm_col):
    """``unit_col`` over a MATERIALIZED norm column: the same
    when(n==0)/x/n lambda body, but ``n`` is a cheap column reference
    (computed once per row in the parent projection — CollapseProject
    keeps the non-cheap alias because the lambda references it twice)
    instead of an aggregate re-evaluated per element. Bit-identical
    output; O(dim) per row instead of O(dim^2)."""
    return F.transform(
        vec_col,
        lambda x: F.when(nrm_col == F.lit(0.0), F.lit(0.0))
        .otherwise(x.cast("double") / nrm_col))


def sq_bounds(emb: DataFrame, vec_col: str = "embedding") -> DataFrame:
    """One-row (gmin, gmax) global range of every vector element — the
    uniform-SQ8 trainer (FAISS ``QT_8bit_uniform`` shape). min/max are
    order-independent exact aggregates, so the SQL oracle recomputes
    bit-identical bounds; no data literals leave the plan."""
    v = F.col(vec_col)
    return emb.agg(
        F.min(F.array_min(v)).cast("double").alias("gmin"),
        F.max(F.array_max(v)).cast("double").alias("gmax"),
    )


def sq_quantize_col(vec_col, gmin, gmax):
    """Element-wise uniform 8-bit code, kept as DOUBLE so the integer
    dot product stays exact in both engines:
    ``clamp(floor((v - gmin) * 255 / (gmax - gmin)), 0, 255)``.
    Every input is a widened-exact double and the expression shape is
    identical in the oracle, so floor() lands on the same integer on
    both sides (IEEE determinism — no reassociation anywhere)."""
    return F.transform(
        vec_col,
        lambda v: F.least(
            F.greatest(
                F.floor((v.cast("double") - gmin) * F.lit(255.0)
                        / (gmax - gmin)),
                F.lit(0)),
            F.lit(255)).cast("double"),
    )


def sq_topk(emb: DataFrame, query_id: int = 0, k: int = 10,
            candidates: int = 40, id_col: str = "vec_id",
            vec_col: str = "embedding", round_to: int = 6) -> DataFrame:
    """Scalar-quantized ANN: SQ8 codes of the UNIT-NORMALIZED vectors
    -> asymmetric code-vs-raw-query dot candidate scan (approximates
    cosine — see unit_col and the ADC note below) -> exact-cosine
    re-rank of the top ``candidates``.

    (rank, vec_id, sq_score, cosine). The candidate pass dots exact
    small-integer codes (as doubles) against the shared unit-query
    double list in a fixed fold order, so candidate selection is
    bit-deterministic and the DuckDB oracle reproduces it; the final
    ranking uses the same round-before-rank + (cosine DESC, vec_id
    ASC) rule as ``cosine_topk``.

    At 100 TB: codes are 4x smaller than float32 (scan bandwidth /=4
    when the code column is materialized), the candidate pass is one
    scan ending in TakeOrderedAndProject (no shuffle), and the exact
    re-rank touches only ``candidates`` rows. Composes with the IVF
    partition layout (quantize within probed buckets).
    """
    # bounds + codes live in UNIT-NORMALIZED space (see unit_col: a
    # raw-value dot ranks by inner product, not cosine); the candidate
    # score is ASYMMETRIC (FAISS ADC): quantized doc codes dotted
    # against the RAW unit query. Quantizing BOTH sides makes the
    # affine code offset contribute b*sum(doc codes) — a per-CANDIDATE
    # norm-sum bias that swamps the signal on clustered corpora
    # (measured recall@10 = 0.0 on tools/vector_bench.py's 200k corpus
    # symmetric, 1.0 asymmetric); with the query side raw, the offset
    # term is b*sum(q) — constant across candidates — and cancels from
    # the ranking. Codes are exact small ints as doubles and the query
    # is the same double list in both engines, so the score doubles
    # are bit-identical (fixed fold order) and selection stays
    # deterministic.
    #
    # r7 SHAPE: the norm is MATERIALIZED once per row as a real
    # ``_nrm`` column and every per-element lambda references it as a
    # cheap column (unit_col_mat). The previous form referenced the
    # norm aggregate inside transform() lambdas, re-evaluating an
    # O(dim) fold per ELEMENT in interpreted HOF code (O(dim^2)/row —
    # the r6 knn_sq 0.49->6.02 s regression). The bounds statistics
    # and the unit query are collected driver-side (two tiny
    # scalar/1-row jobs replacing two broadcast crossJoins) so the
    # candidate scan carries them as literals. Every fold is
    # bit-identical to the form it replaces: unit elements repeat
    # unit_col's when(n==0)/x/n shape over the same materialized
    # norm value, and the Python-side unit query is the same
    # left-to-right double math (_unit_py twin) on the same stored
    # doubles.
    qrow = (emb.filter(F.col(id_col) == query_id)
            .select(F.col(vec_col)).head())
    if qrow is None:
        return emb.sparkSession.createDataFrame(
            [], "rank int, vec_id long, sq_score double, cosine double")
    qv = [float(x) for x in qrow[0]]
    acc = 0.0
    for x in qv:
        acc = acc + x * x
    qn = _math.sqrt(acc)
    qunit = [0.0] * len(qv) if qn == 0.0 else [x / qn for x in qv]

    v = F.col(vec_col)
    nv = unit_col_mat(v, F.col("_nrm"))
    srow = (
        emb.withColumn("_nrm", _norm(v))
        .select(nv.alias("_nv"))
        .agg(F.min(F.array_min("_nv")).cast("double").alias("gmin"),
             F.max(F.array_max("_nv")).cast("double").alias("gmax"))
        .head())
    gmin, gmax = srow["gmin"], srow["gmax"]
    if gmin is None or gmax is None:
        return emb.sparkSession.createDataFrame(
            [], "rank int, vec_id long, sq_score double, cosine double")

    base = (emb.filter(F.col(id_col) != query_id)
            .withColumn("_nrm", _norm(v)))
    qe = sq_quantize_col(nv, F.lit(float(gmin)), F.lit(float(gmax)))
    qarr = F.array(*[F.lit(x) for x in qunit])
    iscore = F.aggregate(
        F.zip_with(qe, qarr, lambda a, b: a * b),
        F.lit(0.0), lambda s, x: s + x,
    )
    cand = (
        base.select(F.col(id_col).alias("vec_id"),
                    iscore.alias("sq_score"),
                    F.col(vec_col).alias("v"))
        .orderBy(F.desc("sq_score"), F.asc("vec_id"))
        .limit(candidates)
    )
    rescored = cand.select(
        "vec_id",
        # selection ordered on the raw double; the REPORTED score is
        # rounded so the cross-engine value hash is ulp-proof
        F.round("sq_score", round_to).alias("sq_score"),
        F.round(cosine_sim_col(F.col("v"), qv), round_to)
        .alias("cosine"),
    )
    w = Window.orderBy(F.desc("cosine"), F.asc("vec_id"))
    return (
        rescored.orderBy(F.desc("cosine"), F.asc("vec_id")).limit(k)
        .withColumn("rank", F.row_number().over(w))
        .select("rank", "vec_id", "sq_score", "cosine")
    )

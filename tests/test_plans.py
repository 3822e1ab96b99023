"""Physical-plan audits: the scale properties the engine is designed
around must be visible in .explain output, or a regression silently
turns a pruned broadcast plan into a full-scan shuffle.

Asserted properties (SURVEY.md §4.2, 'Optimize for scale'):
- artifact term lookup prunes PARTITION DIRECTORIES (tb bucket) and
  pushes In(term,...) into the parquet scan (row-group skipping)
- query dimension tables join via BroadcastHashJoin (no shuffle join
  against the postings side)
- top-k is TakeOrderedAndProject (per-partition heaps + driver merge,
  never a global sort)
- aggregations are two-phase (partial_ + final HashAggregate)
- the white_lower tokenize pipeline stays inside WholeStageCodegen
"""

from __future__ import annotations

import pytest

from prosearch_spark.index.artifact import save_index
from prosearch_spark.index.build import build_index
from prosearch_spark.query.block_engine import BlockSearchEngine
from prosearch_spark.query.engine import SearchEngine


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture(scope="module")
def block_plan(spark, corpus, tmp_path_factory):
    art = save_index(spark, corpus, str(tmp_path_factory.mktemp("pidx")),
                     text_col="content")
    return _plan(BlockSearchEngine(spark, art).topk("spark shuffle", 10))


def test_bucket_partition_pruning(block_plan):
    assert "PartitionFilters: [tb" in block_plan


def test_term_filter_pushed_to_parquet(block_plan):
    assert "PushedFilters: [In(term" in block_plan


def test_dimension_joins_are_broadcast(block_plan):
    assert "BroadcastHashJoin" in block_plan
    assert "SortMergeJoin" not in block_plan


def test_topk_is_take_ordered(block_plan):
    assert "TakeOrderedAndProject(limit=10" in block_plan
    # no global Sort node above the aggregate
    assert "rangepartitioning" not in block_plan.lower()


def test_two_phase_aggregation(block_plan):
    assert "partial_sum" in block_plan


def test_flat_engine_same_properties(spark, corpus):
    eng = SearchEngine(spark, build_index(corpus, text_col="content"))
    plan = _plan(eng.topk("spark shuffle", 10))
    assert "TakeOrderedAndProject(limit=10" in plan
    assert "BroadcastHashJoin" in plan
    assert "partial_sum" in plan
    assert "partial_count" in plan


def test_fielded_scored_plan_is_broadcast_single_shuffle(
        spark, corpus, tmp_path_factory):
    """Round-4 fielded disjunction/mixed term fragment: every
    dimension join broadcast, exactly ONE Exchange (the per-doc score
    aggregate), per-field scans bucket-pruned (PLANS.md §9)."""
    from pyspark.sql import functions as F

    from prosearch_spark.index.artifact import save_fielded_index
    from prosearch_spark.query.fielded import FieldedBlockSearchEngine

    titled = corpus.withColumn(
        "title", F.concat_ws(" ", F.slice(F.split("content", " "), 1, 4)))
    arts = save_fielded_index(
        spark, titled, str(tmp_path_factory.mktemp("fplan")),
        {"title": "title", "body": "content"},
        positional_fields=frozenset({"body"}))
    eng = FieldedBlockSearchEngine(spark, arts)
    plan = _plan(eng._engine("spark shuffle")
                 ._docs_scored_or("spark shuffle"))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "PartitionFilters: [tb" in plan
    # one real shuffle: the score aggregation (broadcast exchanges
    # are not Exchange hashpartitioning nodes)
    assert plan.count("Exchange hashpartitioning") == 1


def test_round4_agg_plans_have_no_nested_loop(spark, corpus,
                                              tmp_path_factory):
    """facet_counts / range_agg / percentiles_agg over the committed
    artifact: no CartesianProduct or shuffle join anywhere; the only
    BroadcastNestedLoopJoin allowed is the engine's 1-ROW collection-
    stats crossJoin (a broadcast of (n_docs, avgdl) — the intended
    scalar join, documented since round 1)."""
    from pyspark.sql import functions as F

    docs = corpus.withColumn(
        "facets", F.array(F.concat(F.lit("lang/"), F.col("lang")))
    ).withColumn("size", F.length("content").cast("long"))
    art = save_index(spark, docs, str(tmp_path_factory.mktemp("aplan")),
                     text_col="content",
                     fast_fields={"facets": "facets", "size": "size"})
    eng = BlockSearchEngine(spark, art)
    for df in [
        eng.facet_counts("spark", "facets"),
        eng.range_agg("spark", "size", [(None, 100.0), (100.0, None)]),
        eng.percentiles_agg("spark", "size", [0.5]),
    ]:
        plan = _plan(df)
        assert plan.count("BroadcastNestedLoopJoin") <= 1  # 1-row stats
        assert "CartesianProduct" not in plan
        # NB: a SortMergeJoin of doc_stats against the MATCH SET is
        # allowed (and correct): an aggregation's match set can be
        # corpus-sized, so the shuffle join is the scale-right plan —
        # unlike top-k paths, nothing here may assume a small side.


def test_tokenize_stays_in_codegen(spark, corpus):
    from prosearch_spark.index.build import tokens

    # AQE wraps the plan and hides codegen stars until a job runs;
    # disable it for the static inspection
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        plan = _plan(tokens(corpus, "content", analyzer="white_lower"))
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
    # explode(split(lower(...))) must sit inside a WholeStageCodegen
    # span (starred nodes) with no Python evaluation nodes
    import re

    assert re.search(r"\*\(\d+\) Generate explode", plan), plan[:400]
    assert "ArrowEvalPython" not in plan
    assert "BatchEvalPython" not in plan


def test_code_analyzer_no_python_nodes(spark, corpus):
    from prosearch_spark.index.build import term_frequencies

    plan = _plan(term_frequencies(corpus, "content", analyzer="code"))
    assert "ArrowEvalPython" not in plan
    assert "BatchEvalPython" not in plan
    assert "BroadcastHashJoin" in plan  # stopword anti-join broadcast


def test_wand_pass1_has_no_global_window(spark):
    """The WAND seed prefix must come from orderBy+limit (per-partition
    heaps merged on the driver: TakeOrderedAndProject), never from an
    unpartitioned Window that sorts all block metadata in ONE task
    (VERDICT r01: the single-task ceiling at 1e7 metadata rows)."""
    import inspect

    from prosearch_spark.query.block_engine import BlockSearchEngine
    from prosearch_spark.query.wand import block_max_wand

    # the engine's adapter plus the shared ladder it delegates to
    src = (inspect.getsource(BlockSearchEngine.topk_wand)
           + inspect.getsource(block_max_wand))
    assert "Window" not in src, "global window crept back into WAND pass 1"
    assert ".limit(B)" in src  # the TakeOrderedAndProject prefix

    # and the physical shape of the prefix pattern itself:
    from pyspark.sql import functions as F

    df = spark.range(1000).select(
        F.col("id").alias("first_doc"), (F.col("id") % 97).alias("ub")
    )
    plan = _plan(df.orderBy(F.desc("ub"), F.asc("first_doc")).limit(8))
    assert "TakeOrderedAndProject" in plan
    assert "Exchange rangepartitioning" not in plan


def test_knn_join_is_bucketed_not_nested_loop(spark):
    """The gated semantic near-dup path must be an EQUI-join on the LSH
    signature — a BroadcastNestedLoopJoin here means the all-pairs
    formulation leaked back into the 100 TB path (VERDICT r01)."""
    from pyspark.sql import functions as F

    from prosearch_spark.ops.similarity import knn_join

    emb = spark.range(64).select(
        F.col("id").alias("vec_id"),
        F.expr("transform(sequence(1, 8), "
               "i -> cast(pmod(id * i, 7) - 3 as float))").alias("embedding"),
    )
    import re

    plan = _plan(knn_join(emb, emb, k=2, n_planes=4, dim=8))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    # single-table configs must not pay the any-table dedup shuffle:
    # dropDuplicates lowers to a Hash/SortAggregate keyed on (l_id, ...)
    dedup_agg = r"(Hash|Sort)Aggregate\(keys?=\[l_id"
    assert not re.search(dedup_agg, plan), plan[:600]

    # the BANDED shape the gate entry actually serves (n_tables > 1):
    # exploded (table, sig) keys must still equi-join, and the
    # any-table dedup aggregate must be present
    plan_b = _plan(knn_join(emb, emb, k=2, n_planes=4, dim=8, n_tables=3))
    assert "BroadcastNestedLoopJoin" not in plan_b
    assert "CartesianProduct" not in plan_b
    assert re.search(dedup_agg, plan_b), plan_b[:600]


def test_fastfield_predicate_pushed_to_parquet(spark, corpus, tmp_path):
    """The fast-field filter must reach the doc_stats parquet scan
    (columnar fast-field read, not a post-scan Filter over all rows)."""
    from pyspark.sql import functions as F

    docs = corpus.withColumn("clen", F.length("content").cast("long"))
    art = save_index(spark, docs, str(tmp_path / "ff"),
                     text_col="content",
                     fast_fields={"flen": "clen"})
    plan = _plan(art.doc_stats().filter(F.expr("flen < 100")))
    assert "PushedFilters: [IsNotNull(flen), LessThan(flen,100)]" in plan \
        or "LessThan(flen,100)" in plan, plan[:800]


def test_doc_fetch_is_broadcast(spark, corpus):
    eng = SearchEngine(spark, build_index(corpus, text_col="content"))
    hits = eng.topk("spark", 5)
    plan = _plan(eng.fetch(hits, corpus.select("doc_id", "repo")))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_segment_stack_blocks_is_one_scan(spark, corpus, tmp_path):
    """A uniform segment stack reads block metadata in ONE multi-path
    parquet scan (driver-side tb-dir pruning), not n_segments unioned
    scans — the rewrite that erased the 2.3x stack read amplification
    (BENCH.md §2c). A Union of per-segment scans here is a
    regression."""
    from pyspark.sql import functions as F

    from prosearch_spark.index.segments import SegmentedIndex

    si = SegmentedIndex(spark, str(tmp_path / "segplan"), merge_factor=9)
    for i in range(3):
        si.commit(corpus.filter(F.col("doc_id") % 3 == i),
                  text_col="content")
    plan = _plan(si.as_artifact().blocks(["spark"]))
    assert plan.count("Scan parquet") == 1
    assert "Union" not in plan


def test_top_hits_group_window_is_group_limited(spark, corpus):
    """The per-group top-n window must run as WindowGroupLimit
    (partial per-task top-n before the shuffle), never an
    unpartitioned global window."""
    from prosearch_spark.index.build import build_index
    from prosearch_spark.query.engine import SearchEngine

    eng = SearchEngine(spark, build_index(corpus, text_col="content"))
    plan = _plan(eng.top_hits_by_group("spark", corpus.withColumnRenamed(
        "repo", "grp"), "grp", 3, round_to=6))
    assert "WindowGroupLimit" in plan


def test_multi_topk_plan_is_partitioned_and_broadcast(spark, corpus):
    """The msearch batch must rank per query through a PARTITIONED
    window (WindowGroupLimit partial top-k — never one unpartitioned
    global window over every query's candidates) and join the query
    relation + dimension sides by broadcast (no shuffle join against
    postings)."""
    from prosearch_spark.index.build import build_index
    from prosearch_spark.query.engine import SearchEngine

    eng = SearchEngine(spark, build_index(corpus, text_col="content"))
    plan = _plan(eng.multi_topk(["spark", "spark shuffle", "the"], 10,
                                round_to=6))
    assert "WindowGroupLimit" in plan
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_chunking_has_no_shuffle_and_packing_exactly_one(spark, corpus,
                                                         tmp_path):
    """chunk_documents is scan -> Generate -> project (zero Exchange:
    the 100 TB cost is the corpus scan itself); pack_sequences adds
    EXACTLY one hash exchange — the per-stratum window partitioning —
    and nothing else (a second exchange would mean the stream is being
    re-shuffled somewhere it shouldn't be)."""
    from prosearch_spark.ops import curate as cu

    # materialize: the synthetic corpus fixture's lazy dense-id window
    # would otherwise contribute its own exchange to the plan
    corpus.write.parquet(str(tmp_path / "c"))
    corpus = spark.read.parquet(str(tmp_path / "c"))

    ch = cu.chunk_documents(corpus, chunk_tokens=16, stride=16)
    p = _plan(ch)
    assert "Generate" in p and "Exchange" not in p

    packed = cu.pack_sequences(ch.join(
        corpus.select("doc_id", "lang"), "doc_id"),
        context_tokens=64, strata_col="lang")
    pp = _plan(packed)
    # the join's broadcast exchange doesn't repartition rows; count
    # only shuffle exchanges
    n_shuffles = pp.count("Exchange hashpartitioning")
    assert n_shuffles == 1, pp
    assert "Window" in pp

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from prosearch_spark.session import get_spark  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    s = get_spark("prosearch-tests", master="local[4]", shuffle_partitions=4)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def corpus(spark):
    """Deterministic synthetic input_hint-shaped corpus (200 docs)."""
    from prosearch_spark.corpus import synth_corpus

    return synth_corpus(spark, n_docs=200, n_repos=6, seed=42).cache()


@pytest.fixture(scope="session")
def corpus_rows(corpus):
    return [r.asDict() for r in corpus.collect()]


@pytest.fixture(scope="session")
def serp_by_join():
    """``ArtifactSearcher.api``'s hits built the join way: the routed
    hits broadcast-joined to the doc store (``fetch_docs``' form), snippets
    from the ``with_snippet`` UDF, ``orderBy("rank").collect()`` —
    the pin that the driver-side fetch is bit-identical."""
    from pyspark.sql import functions as F

    from prosearch_spark.analyzer import parse_query_slop
    from prosearch_spark.query.snippet import with_snippet

    def build(searcher, q: str, k: int) -> dict:
        hits, plan = searcher.route(q, k, round_to=6)
        fetched = searcher.artifact.doc_store().join(F.broadcast(hits),
                                                     "doc_id")
        display = [c for c in fetched.columns
                   if c not in {"doc_id", "rank", "score",
                                searcher.body_col}]
        flat_terms = " ".join(
            c[0] if kind == "term"
            else " ".join(c[0]) if kind == "slop"
            else " ".join(c)
            for kind, c in parse_query_slop(q))
        rows = with_snippet(fetched, flat_terms, searcher.body_col) \
            .orderBy("rank").collect()
        return {"plan": plan, "num_hits": len(rows), "hits": [
            {"doc": {c: r[c] for c in ("rank", "doc_id", "score",
                                       *display)},
             "snip": r["snip"]}
            for r in rows]}

    return build


@pytest.fixture(scope="session")
def group_jobs(spark):
    """``group_jobs(group)``: per job that ran under ``sc.setJobGroup(
    group, ...)``, its stage names, read from the live status store
    once the listener bus has drained."""
    sc = spark.sparkContext

    def jobs(group: str) -> list[list[str]]:
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        st = sc.statusTracker()
        return [[i.name for s in st.getJobInfo(j).stageIds
                 if (i := st.getStageInfo(s)) is not None]
                for j in sorted(st.getJobIdsForGroup(group) or [])]

    return jobs

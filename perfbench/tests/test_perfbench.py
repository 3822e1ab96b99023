"""Tests of the benchmark's own code.

    python3 -m pytest perfbench/tests -q

Run from the repository root. The corpus-determinism test starts a
small local Spark session; the rest is pure Python.
"""

from __future__ import annotations

import json
import os
import random
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import gen, stats, trace  # noqa: E402

DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")


# -- percentile rule -----------------------------------------------------


@pytest.mark.parametrize("n", [1, 5, 10, 20, 39, 40, 99, 100, 101, 999,
                               1000, 5000, 10_001])
def test_tail_has_ten_samples_beyond(n):
    rng = random.Random(n)
    values = [rng.random() for _ in range(n)]
    got = stats.tail(values)
    qualifying = [p for p in stats.TAIL_LADDER
                  if stats.samples_beyond(n, p) >= stats.MIN_BEYOND]
    if not qualifying:
        assert got is None
        return
    p, v = got
    assert p == max(qualifying)
    assert sum(1 for x in values if x > v) >= stats.MIN_BEYOND
    assert v == stats.percentile(values, p)


def test_tail_rungs():
    assert stats.tail(list(range(39))) is None
    assert stats.tail(list(range(40))) == (75.0, 29)
    assert stats.tail(list(range(100)))[0] == 90.0
    assert stats.tail(list(range(1000)))[0] == 99.0


def test_percentile_nearest_rank():
    xs = list(range(1, 101))
    assert stats.percentile(xs, 50) == 50
    assert stats.percentile(xs, 90) == 90
    assert stats.percentile(xs, 100) == 100
    with pytest.raises(ValueError):
        stats.percentile([], 50)


# -- metric names ----------------------------------------------------------


def _benchmark_names() -> list[str]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        b = json.load(f)
    return ([m["name"] for m in b["end_to_end"] + b["per_layer"]]
            + [w["name"] for w in b["workloads"]])


def test_metric_names_use_the_charset():
    from perfbench import run

    names = (_benchmark_names() + list(run.COMMON_LAYERS)
             + list(run.E2E_UNITS))
    for name in names:
        assert stats.check_metric_name(name) == name
    assert len(set(_benchmark_names())) == len(_benchmark_names())


@pytest.mark.parametrize("bad", ["", "_x", ".x", "a b", "a/b", "a:b",
                                 "x" * 65, "é"])
def test_bad_metric_names_rejected(bad):
    with pytest.raises(ValueError):
        stats.check_metric_name(bad)


def test_benchmark_lists_exactly_what_runs_print():
    from perfbench import run

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        b = json.load(f)
    assert [m["name"] for m in b["end_to_end"]] == list(run.E2E_UNITS)
    assert [m["unit"] for m in b["end_to_end"]] == list(
        run.E2E_UNITS.values())
    assert [m["name"] for m in b["per_layer"]] == list(run.COMMON_LAYERS)
    assert [m["unit"] for m in b["per_layer"]] == [
        run._unit(n) for n in run.COMMON_LAYERS]


# -- seed determinism ------------------------------------------------------


def test_query_streams_are_seed_determined():
    assert gen.route_stream(3, 50) == gen.route_stream(3, 50)
    assert gen.route_stream(3, 50) != gen.route_stream(4, 50)
    assert gen.msearch_batches(3, 4) == gen.msearch_batches(3, 4)
    assert gen.msearch_batches(3, 4) != gen.msearch_batches(4, 4)
    assert gen.code_queries(3, 20) == gen.code_queries(3, 20)
    assert gen.code_queries(3, 20) != gen.code_queries(4, 20)
    assert gen.upsert_ids(3) == gen.upsert_ids(3)
    assert gen.upsert_ids(3) != gen.upsert_ids(4)


def test_query_stream_shapes():
    stream = gen.route_stream(7, 10)
    assert '"' not in stream[0] and '"' not in stream[2]
    assert stream[1].startswith('"') and stream[1].endswith('"')
    assert stream[3].endswith('"~2')
    assert stream[4].startswith("z") and " " not in stream[4]
    for batch in gen.msearch_batches(7, 3):
        assert len(batch) == gen.BATCH_TERM + gen.BATCH_QUOTED
        assert sum('"' in q for q in batch) == gen.BATCH_QUOTED
    ids = gen.upsert_ids(7)
    assert len(set(ids)) == gen.INGEST_UPSERT_FILES
    assert max(ids) < gen.INGEST_BATCHES * gen.INGEST_BATCH_FILES


@pytest.fixture(scope="module")
def spark():
    os.environ.setdefault("SPARK_DRIVER_MEM", "1g")
    from prosearch_spark.session import get_spark

    s = get_spark("perfbench-tests", master="local[1]", shuffle_partitions=1)
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


def _rows(df, cols):
    return [tuple(r) for r in df.select(*cols).orderBy("doc_id").collect()]


def test_corpora_are_seed_determined(spark):
    cols = ["doc_id", "text", "title"]
    a = _rows(gen.serve_corpus(spark, 3).limit(300), cols)
    assert a == _rows(gen.serve_corpus(spark, 3).limit(300), cols)
    assert a != _rows(gen.serve_corpus(spark, 4).limit(300), cols)
    assert all(t == " ".join(x.split(" ")[:gen.TITLE_TOKENS])
               for _d, x, t in a)
    ccols = ["doc_id", "repo", "path", "content"]
    c = _rows(gen.code_corpus(spark, 3), ccols)
    assert len(c) == gen.INGEST_BATCHES * gen.INGEST_BATCH_FILES
    assert c == _rows(gen.code_corpus(spark, 3), ccols)
    assert c != _rows(gen.code_corpus(spark, 4), ccols)
    assert c != _rows(gen.code_corpus(spark, 3, salt=7919), ccols)


# -- spans and the event-log parser ----------------------------------------


def _span(i, name, start, end, parent=None):
    return {"id": i, "name": name, "parent": parent, "op": 1,
            "start_ms": start, "end_ms": end, "counts": {}}


def test_union_and_self_time():
    assert trace.union_ms([(0, 10), (5, 15), (20, 25)]) == 20
    assert trace.union_ms([]) == 0
    spans = [_span(1, "root", 0, 100), _span(2, "a", 10, 40, 1),
             _span(3, "b", 30, 60, 1), _span(4, "c", 35, 45, 3)]
    st = trace.self_times(spans)
    assert st == {"root": 50, "a": 30, "b": 20, "c": 10}


def test_tracer_nesting():
    tr = trace.Tracer(True)
    with tr.span("outer", op=tr.new_op()) as o:
        with tr.span("inner") as i:
            i["counts"]["n"] = 3
    assert [s["name"] for s in tr.spans] == ["inner", "outer"]
    inner = tr.spans[0]
    assert inner["parent"] == o["id"] and inner["op"] == o["op"] == 1
    assert inner["counts"] == {"n": 3}
    off = trace.Tracer(False)
    with off.span("x") as s:
        assert s["id"] is None
    assert off.spans == []


def test_call_site_module():
    f = trace.call_site_module
    assert f("collect at prosearch_spark/query/fielded.py:412") \
        == "query.fielded"
    assert f("count at /x/y/prosearch_spark/index/artifact.py:9") \
        == "index.artifact"
    assert f("collect at perfbench/workloads.py:20") == "perfbench"
    assert f("count at <stdin>:1") == "other"


def test_split_wall_detects_jobs_outside_span():
    span = _span(1, "op", 1000, 2000)
    inside = trace.Job(1, 1100, 1500, "x", [0])
    sp = trace.split_wall(span, [inside])
    assert sp["covered_ms"] == 400 and sp["driver_ms"] == 600
    assert sp["sum_ok"]
    leaking = trace.Job(2, 1900, 2500, "x", [1])
    assert not trace.split_wall(span, [inside, leaking])["sum_ok"]


@pytest.fixture(scope="module")
def recorded():
    events = trace.read_event_log(os.path.join(DATA, "eventlog_small.jsonl"))
    with open(os.path.join(DATA, "spans_small.json")) as f:
        spans = json.load(f)
    return events, spans


def test_parser_on_recorded_log(recorded):
    events, spans = recorded
    jobs = trace.parse_jobs(events)
    starts = [e for e in events if e["Event"] == "SparkListenerJobStart"]
    assert len(jobs) == len(starts) > 0
    assert all(j.end_ms >= j.start_ms and j.succeeded for j in jobs)
    task_ends = [e for e in events if e["Event"] == "SparkListenerTaskEnd"]
    assert sum(j.tasks for j in jobs) == len(task_ends)
    assert sum(j.run_ms for j in jobs) == sum(
        e["Task Metrics"].get("Executor Run Time", 0) for e in task_ends)
    done = {e["Stage Info"]["Stage ID"] for e in events
            if e["Event"] == "SparkListenerStageCompleted"}
    assert sum(j.stages_run for j in jobs) == len(done)
    assert sum(j.failed_tasks for j in jobs) == 0
    # the commit's jobs are submitted from the library's index modules
    assert {j.module for j in jobs} & {"index.artifact", "index.build",
                                       "index.blocks"}


def test_attribution_on_recorded_log(recorded):
    events, spans = recorded
    jobs = trace.parse_jobs(events)
    by_span = trace.attribute(jobs, spans)
    attributed = [j for js in by_span.values() for j in js]
    assert len(attributed) == len(jobs)  # every job ran inside a span
    metrics, splits = trace.session_metrics(
        spans, by_span, [s["id"] for s in spans], 2, jobs)
    assert metrics["session.jobs_per_op"] == len(jobs) / len(spans)
    assert 0 < metrics["session.core_busy_frac"] <= 1
    for sp in splits:
        assert sp["sum_ok"], sp
        assert sp["covered_ms"] + sp["driver_ms"] == pytest.approx(
            sp["wall_ms"])

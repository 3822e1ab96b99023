"""Re-record the small event log the parser tests read.

    python3 perfbench/tests/record_eventlog.py

Run from the repository root. It commits a 200-document index inside
one span and runs one query inside another, with Spark's event log on,
then keeps only the events and fields the parser reads and rewrites
call-site paths relative to the repository, writing
``perfbench/tests/data/eventlog_small.jsonl`` and ``spans_small.json``.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import sys
import tempfile

ROOT = os.getcwd()
DATA = os.path.join(ROOT, "perfbench", "tests", "data")

KEEP_TASK_METRICS = ("Executor Run Time", "JVM GC Time", "Memory Bytes Spilled",
                     "Disk Bytes Spilled", "Shuffle Read Metrics",
                     "Shuffle Write Metrics", "Input Metrics")


def _trim(e: dict) -> dict | None:
    kind = e["Event"]
    if kind == "SparkListenerJobStart":
        site = e.get("Properties", {}).get("callSite.short", "")
        site = re.sub(r"\S*/(prosearch_spark|perfbench)/", r"\1/", site)
        return {"Event": kind, "Job ID": e["Job ID"],
                "Submission Time": e["Submission Time"],
                "Stage IDs": e["Stage IDs"],
                "Properties": {"callSite.short": site}}
    if kind == "SparkListenerJobEnd":
        return {"Event": kind, "Job ID": e["Job ID"],
                "Completion Time": e["Completion Time"],
                "Job Result": {"Result": e["Job Result"]["Result"]}}
    if kind == "SparkListenerStageCompleted":
        return {"Event": kind,
                "Stage Info": {"Stage ID": e["Stage Info"]["Stage ID"]}}
    if kind == "SparkListenerTaskEnd":
        m = e.get("Task Metrics") or {}
        keep = {k: m[k] for k in KEEP_TASK_METRICS if k in m}
        if "Shuffle Read Metrics" in keep:
            keep["Shuffle Read Metrics"] = {
                k: keep["Shuffle Read Metrics"][k]
                for k in ("Remote Bytes Read", "Local Bytes Read")}
        return {"Event": kind, "Stage ID": e["Stage ID"],
                "Task End Reason": {"Reason": e["Task End Reason"]["Reason"]},
                "Task Metrics": keep}
    return None


def main() -> None:
    sys.path.insert(0, ROOT)
    tmp = tempfile.mkdtemp(dir=ROOT, prefix=".perfbench_rec_")
    os.environ["PYTHONPATH"] = ROOT
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        "--conf spark.eventLog.enabled=true "
        "--conf spark.eventLog.compress=false "
        "--conf spark.eventLog.rolling.enabled=false "
        f"--conf spark.eventLog.dir=file://{tmp} pyspark-shell")
    from prosearch_spark.corpus import zipf_corpus
    from prosearch_spark.index.artifact import save_index
    from prosearch_spark.query.block_engine import BlockSearchEngine
    from prosearch_spark.session import get_spark, query_mode
    from perfbench.trace import Tracer

    spark = get_spark("perfbench-record", master="local[2]")
    tracer = Tracer(True)
    try:
        with tracer.span("artifact.commit", op=tracer.new_op()):
            art = save_index(spark, zipf_corpus(spark, n_docs=200),
                             os.path.join(tmp, "idx"), text_col="content")
        with query_mode(spark):
            with tracer.span("block_engine.topk", op=tracer.new_op()):
                BlockSearchEngine(spark, art).topk("t1", 5).collect()
    finally:
        spark.stop()
    log = [os.path.join(tmp, f) for f in os.listdir(tmp)
           if f.startswith("local-")][0]
    with open(log) as f:
        events = [t for line in f if (t := _trim(json.loads(line)))]
    os.makedirs(DATA, exist_ok=True)
    with open(os.path.join(DATA, "eventlog_small.jsonl"), "w") as f:
        for e in events:
            f.write(json.dumps(e) + "\n")
    with open(os.path.join(DATA, "spans_small.json"), "w") as f:
        json.dump(tracer.spans, f, indent=1)
    shutil.rmtree(tmp, ignore_errors=True)


if __name__ == "__main__":
    main()

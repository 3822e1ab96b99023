"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload serve_route --seed 1 --seconds 10 --trace 0

Run from the repository root. The last line of standard output is one
JSON object: {"correct", "attempted", "failed", "metrics"}. With
``--trace 0`` the metrics are the end-to-end metrics of
BENCHMARK.json; with ``--trace 1`` (Spark event log on, spans and
layer probes recorded) they are its per-layer metrics. The line before
it is a JSON report with the workload's own named metrics, the
per-layer breakdown and the host-noise record; the same record is
written to ``.perfbench_out/records/``.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import subprocess
import sys
import time

ROOT = os.getcwd()
OUT = os.path.join(ROOT, ".perfbench_out")

# per-layer metrics every workload's traced run reports (BENCHMARK.json
# per_layer); workload-specific layer metrics go to the report line
COMMON_LAYERS = (
    "session.jobs_per_op", "session.stages_per_op",
    "session.driver_ms_per_op", "session.task_ms_per_op",
    "session.core_busy_frac", "session.gc_ms_per_op",
    "session.input_bytes_per_op", "session.shuffle_read_bytes_per_op",
    "session.shuffle_write_bytes_per_op", "session.spill_bytes_per_op",
    "session.failed_tasks",
    "blocks.decode_ms_per_query", "blocks.postings_decoded_per_query",
    "blocks.decode_postings_per_s", "blocks.bytes_per_posting",
)

E2E_UNITS = {"setup_s": "s", "op_p50_ms": "ms", "items_per_s": "1/s",
             "index_bytes_per_input_byte": "ratio"}


def _args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True,
                   choices=["serve_route", "serve_msearch", "ingest_code"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return p.parse_args(argv)


def _environment(run_id: str, trace: bool) -> dict:
    """Directories and Spark settings; every path is under OUT."""
    dirs = {name: os.path.join(OUT, name, run_id)
            for name in ("work", "events", "tmp", "spark-local")}
    for d in dirs.values():
        os.makedirs(d, exist_ok=True)
    os.makedirs(os.path.join(OUT, "records"), exist_ok=True)
    cores = len(os.sched_getaffinity(0))
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(
            os.pathsep) if p])
    os.environ["SPARK_LOCAL_DIRS"] = dirs["spark-local"]
    os.environ["TMPDIR"] = dirs["tmp"]
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ.setdefault("SPARK_DRIVER_MEM", "2g")
    conf = [f"-Djava.io.tmpdir={dirs['tmp']}"]
    submit = ["--driver-java-options", f'"{" ".join(conf)}"',
              "--conf", f"spark.sql.warehouse.dir={dirs['work']}/warehouse",
              "--conf", "spark.ui.showConsoleProgress=false"]
    if trace:
        submit += ["--conf", "spark.eventLog.enabled=true",
                   "--conf", "spark.eventLog.compress=false",
                   "--conf", "spark.eventLog.rolling.enabled=false",
                   "--conf", f"spark.eventLog.dir=file://{dirs['events']}"]
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(submit + ["pyspark-shell"])
    return {"dirs": dirs, "cores": cores}


def _stop(spark) -> None:
    """Stop the session and wait for the JVM it launched to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None) if gateway else None
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


def _layer_metrics(outcome, tracer, events_dir: str, cores: int) -> dict:
    """Per-layer metrics from the event log and the spans."""
    from perfbench import trace

    jobs = trace.parse_jobs(trace.read_event_log(events_dir))
    by_span = trace.attribute(jobs, tracer.spans)
    metrics, splits = trace.session_metrics(
        tracer.spans, by_span, outcome.op_spans, cores, jobs)
    layers = dict(outcome.layers)
    for name, spans in outcome.layer_spans.items():
        n_jobs = sum(len(trace.span_jobs(tracer.spans, by_span, sid))
                     for sid in spans)
        layers[name] = n_jobs / max(1, len(spans))
    layers.update(metrics)
    self_ms = trace.self_times(tracer.spans)
    check = {
        "tolerance": f"{trace.SUM_TOL_MS} ms + {trace.SUM_TOL_FRAC:.0%} "
                     "of span wall",
        "spans_checked": len(splits),
        "spans_ok": sum(1 for s in splits if s["sum_ok"]),
        "max_sum_error_ms": max((s["sum_error_ms"] for s in splits),
                                default=0.0),
    }
    roots = [s["id"] for s in tracer.spans if s["parent"] is None]
    return {"layers": layers, "self_ms": self_ms, "sum_check": check,
            "jobs_total": len(jobs),
            "jobs_by_module": trace.jobs_by_module(tracer.spans, by_span,
                                                   roots)}


def _clean(x):
    """JSON-safe copy: NaN/inf become None."""
    if isinstance(x, float) and not math.isfinite(x):
        return None
    if isinstance(x, dict):
        return {k: _clean(v) for k, v in x.items()}
    if isinstance(x, (list, tuple)):
        return [_clean(v) for v in x]
    return x


def main(argv=None) -> int:
    args = _args(argv)
    if not os.path.isfile(os.path.join(ROOT, "prosearch_spark",
                                       "__init__.py")):
        print("perfbench: run from the repository root (no "
              "prosearch_spark package here)", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)

    from perfbench import noise, stats
    from perfbench.trace import Tracer
    from perfbench.workloads import WORKLOADS, Ctx

    trace_on = bool(args.trace)
    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    env = _environment(run_id, trace_on)
    noise_before = noise.sample()

    t0 = time.perf_counter()
    from prosearch_spark.session import get_spark

    spark = get_spark("perfbench", master=f"local[{env['cores']}]")
    spark.sparkContext.setLogLevel("ERROR")
    session_s = time.perf_counter() - t0

    tracer = Tracer(trace_on)
    ctx = Ctx(spark=spark, seed=args.seed, seconds=args.seconds,
              tracer=tracer, work_dir=env["dirs"]["work"])
    try:
        outcome = WORKLOADS[args.workload](ctx)
    finally:
        _stop(spark)

    setup_s = session_s + outcome.setup_s
    e2e = {
        "setup_s": setup_s,
        "op_p50_ms": stats.median(outcome.op_ms) if outcome.op_ms else None,
        "items_per_s": (outcome.items / outcome.items_wall_s
                        if outcome.items_wall_s else 0.0),
        "index_bytes_per_input_byte": outcome.bytes_ratio,
    }
    report = {"setup_s": (setup_s, "s"),
              **outcome.report,
              "failed_frac": (outcome.failed / max(1, outcome.attempted),
                              "ratio")}
    record = {
        "workload": args.workload, "seed": args.seed,
        "seconds": args.seconds, "trace": args.trace,
        "cores": env["cores"], "session_s": session_s,
        "attempted": outcome.attempted, "failed": outcome.failed,
        "end_to_end": e2e,
        "report": {k: {"value": v, "unit": u}
                   for k, (v, u) in report.items()},
        "op_ms": outcome.op_ms,
    }

    if trace_on:
        lm = _layer_metrics(outcome, tracer, env["dirs"]["events"],
                            env["cores"])
        record.update(lm)
        record["spans"] = tracer.spans
        untraced = os.path.join(OUT, "records",
                                f"{args.workload}-s{args.seed}-t0.json")
        if os.path.isfile(untraced):
            with open(untraced) as f:
                base = json.load(f)["end_to_end"]
            record["tracing_overhead"] = {
                k: e2e[k] - base[k] for k in e2e
                if e2e[k] is not None and base.get(k) is not None}
        metrics = {k: {"value": lm["layers"][k], "unit": _unit(k)}
                   for k in COMMON_LAYERS}
    else:
        metrics = {k: {"value": v, "unit": E2E_UNITS[k]}
                   for k, v in e2e.items()}

    record["noise"] = {"before": noise_before, "after": noise.sample()}
    with open(os.path.join(OUT, "records",
                           f"{args.workload}-s{args.seed}-t{args.trace}.json"),
              "w") as f:
        json.dump(_clean(record), f, indent=1)
    for name in ("work", "events", "tmp", "spark-local"):
        shutil.rmtree(env["dirs"][name], ignore_errors=True)

    summary = {k: record[k] for k in ("workload", "seed", "report", "noise")}
    for k in ("layers", "sum_check", "jobs_by_module", "tracing_overhead"):
        if k in record:
            summary[k] = record[k]
    print(json.dumps(_clean(summary)))
    for name in metrics:
        stats.check_metric_name(name)
    print(json.dumps(_clean({
        "correct": outcome.failed == 0,
        "attempted": outcome.attempted,
        "failed": outcome.failed,
        "metrics": metrics,
    })))
    return 0


def _unit(name: str) -> str:
    if name.endswith("_ms_per_op") or name.endswith("_ms_per_query"):
        return "ms"
    if name.endswith("_per_s"):
        return "1/s"
    if name.endswith("_frac"):
        return "ratio"
    if "bytes" in name:
        return "bytes"
    return "count"


if __name__ == "__main__":
    sys.exit(main())

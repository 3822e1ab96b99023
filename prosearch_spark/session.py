"""SparkSession factory with scale-oriented defaults.

Local testing runs on ``local[N]`` but every knob here is chosen for the
1000-executor / 100 TB case: AQE on (runtime coalescing + skew-join
splitting), shuffle partitions sized by parallelism, Arrow enabled for
every pandas-UDF boundary.
"""

from __future__ import annotations

import os

from contextlib import contextmanager
from functools import lru_cache

import pyarrow as pa

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType


@contextmanager
def query_mode(spark: SparkSession, shuffle_partitions: int | None = None):
    """Low-latency settings for short interactive queries.

    AQE's runtime re-planning adds per-query stages worth ~0.25 s each
    on sub-second queries (measured at sf0.1: 0.79 -> 0.53 s/query
    with AQE off). Index BUILDS should keep AQE on (skew-join
    splitting, partition coalescing); point queries should not pay for
    it. Restores previous settings on exit.
    """
    prev_aqe = spark.conf.get("spark.sql.adaptive.enabled")
    prev_sp = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        if shuffle_partitions is not None:
            spark.conf.set("spark.sql.shuffle.partitions",
                           str(shuffle_partitions))
        yield spark
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", prev_aqe)
        spark.conf.set("spark.sql.shuffle.partitions", prev_sp)


def local_cpus() -> int:
    """Local Spark parallelism: ``SPARK_GRAFT_CPUS`` when set, else the
    cores this process may run on."""
    return int(os.environ.get("SPARK_GRAFT_CPUS")
               or len(os.sched_getaffinity(0)))


def get_spark(
    app_name: str = "prosearch-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    cpus = local_cpus()
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        # one-ish partition per core locally; on a real cluster this is
        # overridden to ~2-3x total cores (AQE coalesces the excess).
        shuffle_partitions = cpus

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # small Arrow batches: large batches (10k rows of wide/array
        # data) serialize GBs into concurrent Python workers and
        # anti-scale past ~8 cores; 2048 keeps the pipeline streaming
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2048")
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        .config("spark.sql.autoBroadcastJoinThreshold", "64m")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        # Spark's default 100 holds fewer classes than one routed query
        # mix compiles: every call recompiled 20-56 (150-450 ms)
        .config("spark.sql.codegen.cache.maxEntries", "1000")
    )
    return builder.getOrCreate()


# fromDDL is a ~4 ms JVM round trip; the keys are the library's literal
# schema strings, a small fixed set
@lru_cache(maxsize=None)
def _ddl_schema(ddl: str) -> StructType:
    return StructType.fromDDL(ddl)


def local_frame(spark: SparkSession, rows, schema) -> DataFrame:
    """``createDataFrame(rows, schema)`` built in the JVM: the rows
    become one ``pyarrow.Table`` typed by the schema (NOT NULL kept),
    planned as a ``LocalTableScan``. A list ``createDataFrame`` is a
    Python RDD instead, whose every scan starts Python workers to read
    0 bytes. ``rows`` are positional (tuples, lists, collected Rows);
    ``schema`` is a DDL string or a StructType."""
    if isinstance(schema, str):
        schema = _ddl_schema(schema)
    arrow = to_arrow_schema(schema)
    rows = list(rows)
    table = pa.Table.from_arrays(
        [pa.array([r[i] for r in rows], type=f.type)
         for i, f in enumerate(arrow)], schema=arrow)
    return spark.createDataFrame(table, schema)

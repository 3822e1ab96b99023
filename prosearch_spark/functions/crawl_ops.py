"""Crawl-state relational operators.

The reference keeps all crawl accounting in PostgreSQL (Manager.java,
JdbcStore.java, StatisticsHttpHandler.java). These are their DataFrame
re-expressions; each has a 1:1 ANSI-SQL oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from prosearch_spark.session import local_frame


def per_host_limit(docs: DataFrame, host_col: str = "repo",
                   order_col: str = "path", limit: int = 10_000) -> DataFrame:
    """P3 (Manager.java:336-349): keep at most ``limit`` docs per host,
    deterministic by ``order_col``. Default 10,000 mirrors
    CrawlerRunner.java:23-24."""
    w = Window.partitionBy(host_col).orderBy(F.col(order_col).asc())
    return (
        docs.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= limit)
        .drop("rn")
    )


def host_counts(docs: DataFrame, host_col: str = "repo") -> DataFrame:
    """A1 (Manager.java:214-224): per-host URL count (resume restore)."""
    return docs.groupBy(F.col(host_col).alias("host")).agg(
        F.count("*").alias("urls")
    )


def stats_rollup(docs: DataFrame, host_col: str = "repo",
                 length_col: str = "n_chars") -> DataFrame:
    """A2 (StatisticsHttpHandler.java:33-45): per-host count + total
    indexed length, largest first."""
    return (
        docs.groupBy(F.col(host_col).alias("host"))
        .agg(F.count("*").alias("urls"),
             F.sum(length_col).alias("total_length"))
        .orderBy(F.desc("urls"), F.asc("host"))
    )


def distinct_hosts(docs: DataFrame, host_col: str = "repo") -> DataFrame:
    """A3 (JdbcStoreEngine.java:343-353): distinct queued hosts."""
    return docs.select(F.col(host_col).alias("host")).distinct()


def distinct_hosts_approx(docs: DataFrame, host_col: str = "repo",
                          rsd: float = 0.02) -> DataFrame:
    """The 100 TB twin of the A3/A4 COUNT(DISTINCT host) probes:
    Spark's ``approx_count_distinct`` (HyperLogLog++ — one pass,
    fixed-size MERGEABLE sketch per partition, no shuffle of the
    distinct values themselves, relative standard deviation ``rsd``).
    Exact count-distinct shuffles every distinct key to dedupe; at
    billions of URLs the crawler's queue-accounting probes want the
    sketch. No DuckDB-identical oracle exists for an HLL estimate, so
    like percentiles_agg_approx this stays OUT of the driver window;
    the error-bound pytest is the executable evidence. Returns one row
    (n_hosts_approx BIGINT)."""
    return docs.agg(
        F.approx_count_distinct(host_col, rsd).alias("n_hosts_approx"))


def stats_with_zero_fill(spark: SparkSession, docs: DataFrame,
                         all_hosts: list[str],
                         host_col: str = "repo") -> DataFrame:
    """J5 (StatisticsHttpHandler.java:97-114): start hosts absent from
    stats get zero rows — left join + coalesce(0)."""
    hosts = local_frame(spark, [(h,) for h in sorted(all_hosts)],
                        "host string")
    counts = host_counts(docs, host_col)
    return (
        hosts.join(counts, "host", "left")
        .select("host", F.coalesce("urls", F.lit(0)).alias("urls"))
        .orderBy(F.desc("urls"), F.asc("host"))
    )


def oldest_first_dequeue(queue: DataFrame, host_col: str,
                         ts_col: str, id_col: str) -> DataFrame:
    """W2 (JdbcStore.java:201-226): per-host oldest entry — the fair
    frontier dequeue. Deterministic tie-break on id."""
    w = Window.partitionBy(host_col).orderBy(F.col(ts_col).asc(),
                                             F.col(id_col).asc())
    return (
        queue.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )


def upsert_last_write_wins(existing: DataFrame, incoming: DataFrame,
                           key_cols: list[str], ts_col: str) -> DataFrame:
    """B8 (TantivyCommitter.java:42-91): delete-then-insert upsert in
    batch form — union, keep newest per key (ties -> incoming wins via
    a source priority column)."""
    e = existing.withColumn("_src", F.lit(0))
    i = incoming.withColumn("_src", F.lit(1))
    u = e.unionByName(i)
    w = Window.partitionBy(*key_cols).orderBy(F.col(ts_col).desc(),
                                              F.col("_src").desc())
    return (
        u.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn", "_src")
    )

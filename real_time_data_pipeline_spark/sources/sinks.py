"""Batch sinks (SURVEY §2.2 K1/K4/K6) with the K6 defect fixed.

The reference's backfill overwrites the WHOLE silver path when given a
date (`src/jobs/spark_batch_backfill.py:54` — flagged in SURVEY §2.2
as a semantics bug). The fix is the standard lakehouse layout: a table
partitioned by a date column, where a re-run of one day replaces
exactly that day's partition. The replace itself is
`streaming/sinks.py::replace_partitions`, the staged per-partition
swap every partitioned table sink commits through (jobs/backfill.py);
this module keeps the partition-drop retention beside the connectors.

JDBC and Kafka writers are thin builders over the stock connectors
(the drivers aren't in this container — they are exercised on a real
deployment; the options mirror the reference's
`src/jobs/spark_batch_backfill.py:76-86` and
`src/ingestion/producer.py:59-66`).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def jdbc_writer(
    df: DataFrame,
    url: str,
    table: str,
    user: str,
    password: str,
    driver: str = "org.postgresql.Driver",
):
    """JDBC batch append writer (reference K4), returned unexecuted so
    callers control mode/savepoints. ``driver`` defaults to Postgres
    (the reference's target); the round-trip test drives the same
    code against embedded Derby (jars ship with Spark)."""
    return (
        df.write.format("jdbc")
        .option("url", url)
        .option("dbtable", table)
        .option("user", user)
        .option("password", password)
        .option("driver", driver)
        .mode("append")
    )


def kafka_writer(df: DataFrame, bootstrap_servers: str, topic: str, key_col: str, value_cols: list[str]):
    """Kafka producer sink (reference K1): keyed JSON values."""
    payload = df.select(
        F.col(key_col).cast("string").alias("key"),
        F.to_json(F.struct(*[F.col(c) for c in value_cols])).alias("value"),
    )
    return (
        payload.write.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap_servers)
        .option("topic", topic)
    )


def drop_partitions_older_than(spark, path: str, partition_col: str, keep_days: int, now_date: str) -> list[str]:
    """Retention housekeeping (reference O4: `find -mtime +7 -delete`).

    Path-partition-aware: lists `<partition_col>=<value>` directories
    under ``path`` through the Hadoop FS API (any URI the other sinks
    accept — local, ``file://``, HDFS) and removes those older than
    the cutoff. Returns the dropped partition values.
    """
    import datetime as _dt

    from real_time_data_pipeline_spark.streaming.sinks import _hadoop_fs

    cutoff = _dt.date.fromisoformat(now_date) - _dt.timedelta(days=keep_days)
    dropped = []
    fs, jpath = _hadoop_fs(spark, path)
    if not fs.exists(jpath):
        return dropped
    for st in sorted(fs.listStatus(jpath), key=lambda st: st.getPath().getName()):
        entry = st.getPath().getName()
        if not entry.startswith(f"{partition_col}="):
            continue
        value = entry.split("=", 1)[1]
        try:
            d = _dt.date.fromisoformat(value)
        except ValueError:
            continue
        if d < cutoff:
            fs.delete(st.getPath(), True)
            dropped.append(value)
    return dropped


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_cols: list[str],
    n_buckets: int = 32,
    sort_cols: list[str] | None = None,
) -> None:
    """Persist a table hash-BUCKETED (and optionally sorted) on the
    join key — the storage layout that makes repeated big-table joins
    and aggregations on that key SHUFFLE-FREE.

    At 100 TB this is the difference between re-shuffling two fact
    tables on every join and reading them pre-co-located: two tables
    bucketed the same way join with zero Exchange (verified by plan
    test), and a groupBy on the bucket key skips its exchange too.
    Size ``n_buckets`` so each bucket file stays executor-memory-sized
    at the target scale; bucket pruning also narrows equality probes.
    Requires a catalog-managed table (`saveAsTable`) — bucketing
    metadata lives in the metastore, not in plain parquet paths.

    The pre-write repartition on the bucket key yields exactly ONE
    file per bucket (without it every write task emits a file per
    bucket it touches — n_tasks × n_buckets small files). Note Spark
    still re-sorts sorted buckets at read unless
    ``spark.sql.legacy.bucketedTableScan.outputOrdering`` is enabled;
    the exchange elision — the expensive part — needs no conf.
    """
    w = (
        df.repartition(n_buckets, *[F.col(c) for c in bucket_cols])
        .write.mode("overwrite")
        .format("parquet")
        .bucketBy(n_buckets, *bucket_cols)
    )
    if sort_cols:
        w = w.sortBy(*sort_cols)
    w.saveAsTable(table)

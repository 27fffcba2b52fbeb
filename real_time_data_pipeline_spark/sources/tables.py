"""Batch table catalog over the driver's parquet testdata.

The reference reads one Bronze parquet path for backfill
(`src/jobs/spark_batch_backfill.py:32` in the reference); here the same
primitive is generalized to a catalog of named parquet tables rooted at
a scale-factor directory.

Scale notes: `spark.read.parquet` gives vectorized columnar scans with
predicate pushdown and column pruning for free — every query in the
registry should show `PushedFilters` / narrow `ReadSchema` in
`.explain("formatted")` when it filters or projects. At 100 TB the only
change is the path (object store) and a partitioned layout; the scan
operator is identical.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from real_time_data_pipeline_spark.session import BATCH_WIDTH

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one named parquet table from ``sf_dir``.

    Normalizes two environment quirks so every caller (including the
    driver's own SparkSession) sees clean types:

    - ``events.ts`` arrives in whichever physical type the generator
      used that round — TIMESTAMP(NANOS) (Spark rejects by default;
      read via the ``nanosAsLong`` legacy conf then floor-divide to
      micros, bit-identical to DuckDB's nanos→micros truncation),
      TIMESTAMP_NTZ (micros, no tz annotation), or plain TIMESTAMP.
      All three normalize to session-TZ TIMESTAMP; with the session
      pinned to UTC the wall-clock values equal DuckDB's naive
      timestamps, so oracle comparisons stay exact.
    - session timezone pinned to UTC for deterministic event-time
      semantics regardless of host TZ.
    """
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    # Engine posture even under a caller-built vanilla session: AQE
    # picks the real partition count at runtime; the batch width is
    # only the pre-AQE ceiling (Spark's 200 default is wrong for both
    # a laptop and a 1000-executor cluster). The stream width
    # (session.py module doc) is left alone: reading a table must not
    # widen the state of a stream started later in the session.
    cpus = os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count() or 4))
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "true")
    spark.conf.set(BATCH_WIDTH, cpus)
    if name == "events":
        # Harmless when the file holds real timestamps; required when
        # it holds TIMESTAMP(NANOS) (read as raw nano longs instead of
        # erroring with PARQUET_TYPE_ILLEGAL).
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        from pyspark.sql import functions as F
        from pyspark.sql import types as T

        df = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
        ts_type = df.schema["ts"].dataType
        if isinstance(ts_type, T.LongType):
            # nanosAsLong path: nano epoch longs -> micros timestamp.
            return df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        if isinstance(ts_type, T.TimestampNTZType):
            # NTZ -> session-TZ timestamp; session is UTC so the
            # wall-clock values are unchanged.
            return df.withColumn("ts", F.col("ts").cast("timestamp"))
        return df
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Read the full catalog as a dict of DataFrames."""
    return {t: load_table(spark, sf_dir, t) for t in TABLES}


def register_temp_views(spark: SparkSession, sf_dir: str) -> None:
    """Expose the catalog to ``spark.sql`` as temp views."""
    for name, df in load_tables(spark, sf_dir).items():
        df.createOrReplaceTempView(name)


def jdbc_reader(
    spark: SparkSession,
    url: str,
    table: str,
    user: str,
    password: str,
    partition_column: str | None = None,
    num_partitions: int = 8,
    lower_bound: int | None = None,
    upper_bound: int | None = None,
    driver: str = "org.postgresql.Driver",
):
    """JDBC scan (reference S4: Soda's SQL checks against Gold).

    Returned unexecuted. For any non-toy table, pass the partition
    bounds: without them Spark reads the whole table through ONE
    connection on one task — the classic JDBC-source scale trap.
    ``driver`` defaults to Postgres (the reference's target); the
    round-trip test drives the same code against embedded Derby, the
    one JDBC engine whose jars ship with Spark itself.
    """
    reader = (
        spark.read.format("jdbc")
        .option("url", url)
        .option("dbtable", table)
        .option("user", user)
        .option("password", password)
        .option("driver", driver)
    )
    if partition_column is not None:
        reader = (
            reader.option("partitionColumn", partition_column)
            .option("numPartitions", str(num_partitions))
            .option("lowerBound", str(lower_bound))
            .option("upperBound", str(upper_bound))
        )
    return reader


def read_csv(
    spark: SparkSession,
    path: str,
    schema: str | None = None,
    header: bool = True,
    delimiter: str = ",",
    mode: str = "PERMISSIVE",
) -> DataFrame:
    """CSV batch scan with scale-sane defaults.

    Always pass ``schema`` on real data: schema inference reads the
    whole input ONCE before the job even starts — at 100 TB that is a
    full extra pass. PERMISSIVE mode routes malformed rows to
    ``_corrupt_record`` (add it to the schema to keep them) instead of
    failing the job; use mode="FAILFAST" for strict ingestion gates.
    """
    reader = (
        spark.read.option("header", str(header).lower())
        .option("delimiter", delimiter)
        .option("mode", mode)
    )
    if schema is not None:
        reader = reader.schema(schema)
    else:
        reader = reader.option("inferSchema", "true")
    return reader.csv(path)


def read_json(
    spark: SparkSession,
    path: str,
    schema: str | None = None,
    multiline: bool = False,
    mode: str = "PERMISSIVE",
) -> DataFrame:
    """JSON-lines batch scan.

    Same schema rule as CSV (inference = extra full pass). Keep
    ``multiline=False`` for data at scale: JSON-lines files split by
    newline across tasks, while multiline documents force
    one-file-per-task parsing.
    """
    reader = spark.read.option("multiLine", str(multiline).lower()).option("mode", mode)
    if schema is not None:
        reader = reader.schema(schema)
    return reader.json(path)


def read_orc(spark: SparkSession, path: str) -> DataFrame:
    """ORC batch scan (vectorized reader, predicate pushdown and
    column pruning like parquet — the other columnar lake format)."""
    return spark.read.orc(path)

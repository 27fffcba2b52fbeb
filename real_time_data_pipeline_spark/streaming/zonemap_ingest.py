"""Incremental partition zone-map maintenance over a stream.

Seventh streaming twin: the pruning metadata an Iceberg/Delta-style
lakehouse keeps per partition (row counts, column min/max bounds,
distinct-key counts) maintained as events arrive, instead of
rescanning the fact table per manifest refresh — what a 100 TB
ingest pipeline actually does, since the batch rebuild
(`data_partition_zonemap`, queries/relational.py) costs a full scan.

The state is a COMPOSITE of all three merge algebras the twin family
has proven, which is exactly why the commit protocol matters:

- min/max bounds merge by the lattice ops (like HLL's register MAX):
  associative, commutative AND idempotent — redelivery-safe on their
  own.
- row counts merge by SUM (like Count-Min): linear, NOT idempotent —
  they need the exactly-once batch marker.
- the distinct-user support state merges by set UNION (like the
  Bloom filter): idempotent keyed upsert of (part_date, user_id)
  pairs.

One marker therefore protects the whole stats row set: the stats
table is a marker-kernel state (`sinks.merge_marked_state`) whose
increments step writes the pair table FIRST (a redelivered batch
re-upserts the same pairs, a no-op), then the stats table with the
marker commits the linear half atomically through the staged-rename
swap. A crash between the two writes replays as: pairs re-upserted
(no-op), stats merged once — exactly-once end to end without a
transaction.

State size: stats are PARTITION-grain (one row per day), pairs are
(partition × distinct user)-grain — the same per-key state bound as
`retention_ingest`'s activity table, never event-grain. The batch
twin `zonemap_increments(df)` over the whole table IS the merge of
any chunking of it (sum/min/max linearity), which the parity tests
assert cell-for-cell.

Parity contract (tests/test_streaming.py): rows with NULL event time
are EXCLUDED from this twin's state (the stream's watermark would
drop them anyway, and a NULL partition value is not a partition).
Since r12 the batch registry query `data_partition_zonemap` applies
the SAME `ts IS NOT NULL` filter (its oracle too), so `read_zonemap`
equals the registry frame UNCONDITIONALLY — including on corpora
containing NULL-ts rows, which the parity test exercises directly.
NULL user_id rows count toward n_rows but never enter the pair
state, matching ``count(DISTINCT user_id)`` semantics.

Reference behavior twinned: the reference's gold job recomputes its
aggregate from the silver path every trigger
(`src/jobs/spark_streaming_job.py`); this twin is the engine's
incremental replacement for manifest-style aggregates at scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from real_time_data_pipeline_spark.streaming.sinks import (
    merge_marked_state,
    read_marked_state,
    read_committed,
    upsert_parquet,
)

# Sentinel partition value for the exactly-once marker row. Real
# part_date values are 'yyyy-MM-dd' strings; a NUL-prefixed name can
# never collide with one.
_META_DATE = "\x00meta"

_STATS_SCHEMA = (
    "part_date string, n_rows bigint, min_event_id bigint, "
    "max_event_id bigint, min_value double, max_value double"
)


def zonemap_increments(batch_df: DataFrame) -> DataFrame:
    """Per-partition stats cells contributed by one batch — the
    one-shot build over the whole table IS this function (sum/min/max
    merge linearity makes any chunked replay cell-identical). NULL
    event times are excluded by the module contract."""
    return (
        batch_df.where(F.col("ts").isNotNull())
        .groupBy(
            F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd").alias(
                "part_date"
            )
        )
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min("event_id").alias("min_event_id"),
            F.max("event_id").alias("max_event_id"),
            F.min("value").alias("min_value"),
            F.max("value").alias("max_value"),
        )
    )


def zonemap_user_pairs(batch_df: DataFrame) -> DataFrame:
    """Distinct (part_date, user_id) support pairs of one batch —
    NULLs excluded on both columns (count(DISTINCT user_id) ignores
    NULL users; a NULL date is not a partition)."""
    return (
        batch_df.where(F.col("ts").isNotNull() & F.col("user_id").isNotNull())
        .select(
            F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd").alias(
                "part_date"
            ),
            "user_id",
        )
        .distinct()
    )


def merge_zonemap_batch(
    batch_df: DataFrame, stats_path: str, users_path: str, batch_id: int
) -> bool:
    """Merge one micro-batch into the zone-map state; returns False
    for an already-merged (retried) batch_id.

    Write order is the crash-safety argument: the idempotent pair
    upsert runs inside the increments callable — after the marker
    check, BEFORE the marker-protected stats swap — so a checkpoint
    reset raises before any write, and a retry after a crash between
    the two re-upserts the same pairs (no-op) and then merges the
    counts exactly once.
    """

    def increments() -> DataFrame:
        upsert_parquet(
            zonemap_user_pairs(batch_df), users_path, keys=["part_date", "user_id"]
        )
        return zonemap_increments(batch_df)

    return merge_marked_state(
        batch_df.sparkSession,
        stats_path,
        batch_id,
        increments,
        _STATS_SCHEMA,
        keys=["part_date"],
        combine={
            "n_rows": "sum",
            "min_event_id": "min",
            "max_event_id": "max",
            "min_value": "min",
            "max_value": "max",
        },
        sentinel=_META_DATE,
    )


def read_zonemap_stats(spark: SparkSession, stats_path: str) -> DataFrame:
    """The committed stats cells (marker row excluded),
    swap-recovered."""
    return read_marked_state(spark, stats_path, "part_date", _META_DATE)


def read_zonemap(
    spark: SparkSession, stats_path: str, users_path: str
) -> DataFrame:
    """The full zone-map manifest from the maintained state — the
    `data_partition_zonemap` registry frame, column for column: stats
    from the marker-protected table, n_users counted off the pair
    state (partition-grain aggregate of a per-key table; never a
    fact-table rescan)."""
    stats = read_zonemap_stats(spark, stats_path)
    users = read_committed(spark, users_path)
    counts = (
        users.groupBy("part_date").agg(
            F.count(F.lit(1)).alias("n_users")
        )
        if users is not None
        else spark.createDataFrame([], "part_date string, n_users bigint")
    )
    return (
        stats.join(counts, "part_date", "left")
        .select(
            "part_date",
            "n_rows",
            "min_event_id",
            "max_event_id",
            F.round("min_value", 6).alias("min_value"),
            F.round("max_value", 6).alias("max_value"),
            F.coalesce(F.col("n_users"), F.lit(0)).cast("long").alias("n_users"),
        )
    )

"""Incremental retention-cohort maintenance over a stream.

The batch query `event_retention_cohorts` derives the weekly
retention triangle from the full events table. A production growth
dashboard cannot rescan history per refresh — it maintains two small
keyed state tables incrementally and derives the matrix from them:

- ``first_seen/`` — one row per user: (user_id, cohort_week), the
  Monday-truncated week of the user's earliest event. Merged per
  micro-batch with least(stored, batch_min): a pure MIN, so the
  result is identical under ANY arrival order (late or replayed
  events included) and idempotent under batch retries.
- ``activity/`` — one row per (user_id, week_start) the user was
  active in. Keyed upsert on both columns: re-delivery is a no-op.

The matrix reader joins the two tables and computes week offsets
AGAINST THE FINAL first_seen — so a user whose true first week
arrives late (re-dating the cohort) is re-binned correctly on the
next read, which a pre-computed offset column could never do.

Scale shape: both state tables are user-keyed and user×active-weeks
sized (dimension-sized, not event-sized); each micro-batch merge is
one keyed upsert per table via the engine's crash-safe
`upsert_parquet` (temp-dir + rename swap, deterministic winners
under retry). The matrix itself is a tiny rollup of the state — the
events fact table is never rescanned.

Parity contract (tests/test_streaming.py): replaying the events
table through `merge_retention_batch` and reading `retention_matrix`
must equal the batch `event_retention_cohorts` registry query
row-for-row.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from real_time_data_pipeline_spark.streaming.sinks import (
    read_state as _read_state,
    upsert_parquet,
)


def _first_seen_path(state_root: str) -> str:
    return os.path.join(state_root, "first_seen")


def _activity_path(state_root: str) -> str:
    return os.path.join(state_root, "activity")


def merge_retention_batch(batch_df: DataFrame, state_root: str) -> None:
    """Merge one micro-batch of (user_id, ts) events into the state.

    first_seen: per-user batch minimum, then least() against the
    stored week inside the keyed upsert's deterministic winner
    election (order_col = cohort_week ASCENDING via min-merge below).
    activity: distinct (user, week) rows, keyed upsert (idempotent).
    """
    spark = batch_df.sparkSession
    fs_path = _first_seen_path(state_root)
    batch_first = batch_df.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).alias("cohort_week")
    )
    stored = _read_state(spark, fs_path)
    if stored is not None:
        # min-merge: the stored week participates as just another
        # candidate row; the per-key min is order-independent. Only
        # the batch's own users are pulled from the store — the merge
        # frame stays batch-sized.
        stored_hit = stored.join(
            batch_first.select("user_id"), "user_id", "left_semi"
        )
        batch_first = (
            batch_first.unionByName(stored_hit)
            .groupBy("user_id")
            .agg(F.min("cohort_week").alias("cohort_week"))
        )
    upsert_parquet(batch_first, fs_path, keys=["user_id"])

    activity = batch_df.select(
        "user_id", F.date_trunc("week", F.col("ts")).alias("week_start")
    ).distinct()
    upsert_parquet(activity, _activity_path(state_root), keys=["user_id", "week_start"])


def retention_matrix(spark: SparkSession, state_root: str) -> DataFrame:
    """Cohort matrix from the state tables — same schema and values
    as the batch `event_retention_cohorts` query: (cohort_week,
    week_offset, n_users). Offsets are computed against the FINAL
    first_seen table, so late cohort re-dating is always honored.

    Both reads run the swap-commit crash recovery first: a sink that
    died between the two commit renames leaves the committed table at
    ``__old__``, and a reader skipping the restore would fail on a
    path that is in fact fully committed. Before any non-empty batch
    has committed no state table exists (an empty batch creates
    none), and the matrix is empty."""
    first = _read_state(spark, _first_seen_path(state_root))
    act = _read_state(spark, _activity_path(state_root))
    if first is None or act is None:
        return spark.createDataFrame([], "cohort_week string, week_offset bigint, n_users bigint")
    return (
        act.join(first, "user_id")
        .select(
            "user_id",
            "cohort_week",
            (
                F.datediff(F.col("week_start"), F.col("cohort_week")) / 7
            )
            .cast("long")
            .alias("week_offset"),
        )
        .distinct()
        .groupBy(
            F.date_format("cohort_week", "yyyy-MM-dd").alias("cohort_week"),
            "week_offset",
        )
        .agg(F.count(F.lit(1)).alias("n_users"))
    )

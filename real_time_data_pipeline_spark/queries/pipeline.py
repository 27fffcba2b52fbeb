"""Medallion-pipeline queries over the `events` table.

These re-express the reference's bronze→silver→gold capability surface
(SURVEY §2.3–§2.6) on the driver's testdata: JSON decoding against an
explicit schema (P2), epoch↔timestamp (P3), bool normalization with
unknown→NULL (P4), guarded ratio (P6), deterministic dedup (D2 fixed),
15-minute tumbling-window grouped averages with the window struct
flattened (A1/A2 + P7), and Soda-style DQ checks (A4).

Every query here has a DuckDB oracle; the streaming twins of these
transforms live in ``real_time_data_pipeline_spark.streaming`` and are
pytest-verified for batch/stream parity instead (not SQL-expressible).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import IntegerType, StructField, StructType

from real_time_data_pipeline_spark.operators import quality
from real_time_data_pipeline_spark.operators.dedup import dedup_deterministic
from real_time_data_pipeline_spark.operators.normalize import (
    decode_json_col,
    epoch_to_ts,
    guarded_ratio,
    normalize_bool,
)
from real_time_data_pipeline_spark.operators.windows import windowed_agg
from real_time_data_pipeline_spark.queries.registry import query
from real_time_data_pipeline_spark.sources.tables import load_table

PROPS_SCHEMA = StructType([StructField("k", IntegerType(), True)])


def silver_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared silver transform: decode props, derive typed columns."""
    ev = load_table(spark, sf_dir, "events")
    dec = decode_json_col(ev, "props", PROPS_SCHEMA, drop=True)
    return (
        dec.withColumn("event_epoch", F.unix_timestamp("ts"))
        .withColumn("event_ts", epoch_to_ts("event_epoch"))
        .withColumn("flag", normalize_bool(F.col("k") % 3))
        .withColumn("pct_value", guarded_ratio("value", "value", "k"))
    )


@query(
    "pipeline_silver_normalize",
    oracle="""
    SELECT
      event_id,
      user_id,
      event_type,
      CAST(regexp_extract(props, '"k":\\s*(-?\\d+)', 1) AS INTEGER) AS k,
      CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS event_epoch,
      date_trunc('second', ts) AS event_ts,
      CASE
        WHEN CAST(regexp_extract(props, '"k":\\s*(-?\\d+)', 1) AS INTEGER) % 3 = 1 THEN TRUE
        WHEN CAST(regexp_extract(props, '"k":\\s*(-?\\d+)', 1) AS INTEGER) % 3 = 0 THEN FALSE
        ELSE NULL
      END AS flag,
      CASE
        WHEN value + CAST(regexp_extract(props, '"k":\\s*(-?\\d+)', 1) AS INTEGER) > 0
        THEN round(value / (value + CAST(regexp_extract(props, '"k":\\s*(-?\\d+)', 1) AS INTEGER)), 9)
        ELSE NULL
      END AS pct_value
    FROM events
    """,
)
def q_silver_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Silver normalization chain: JSON decode (P2), epoch→ts (P3),
    bool normalization incl. unknown→NULL (P4), guarded ratio (P6).

    Rebuilds `src/jobs/spark_streaming_job.py:61-92` as pure column
    expressions — single narrow stage, whole-stage codegen, no shuffle.
    """
    s = silver_events(spark, sf_dir)
    return s.select(
        "event_id",
        "user_id",
        "event_type",
        "k",
        "event_epoch",
        "event_ts",
        "flag",
        F.round("pct_value", 9).alias("pct_value"),
    )


@query(
    "pipeline_dedup_latest",
    oracle="""
    SELECT event_id, user_id, event_type, ts, value FROM (
      SELECT event_id, user_id, event_type, ts, value,
             row_number() OVER (
               PARTITION BY user_id, event_type
               ORDER BY ts DESC, event_id DESC
             ) AS rn
      FROM events
    ) WHERE rn = 1
    """,
)
def q_dedup_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic dedup (D2, fixed): latest event per (user, type).

    Replaces the reference's arbitrary-row ``dropDuplicates``
    (`src/jobs/spark_batch_backfill.py:44`) with an explicit
    row_number tie-break so results are rerun- and oracle-stable.
    One shuffle on the key columns.
    """
    ev = load_table(spark, sf_dir, "events")
    out = dedup_deterministic(
        ev, ["user_id", "event_type"], [F.col("ts").desc(), F.col("event_id").desc()]
    )
    return out.select("event_id", "user_id", "event_type", "ts", "value")


GOLD_ORACLE = """
    SELECT
      time_bucket(INTERVAL '15 minutes', ts) AS window_start,
      time_bucket(INTERVAL '15 minutes', ts) + INTERVAL '15 minutes' AS window_end,
      event_type,
      round(avg(value), 6) AS avg_value,
      round(CAST(sum(value) AS DOUBLE), 4) AS sum_value,
      count(*) AS n_events,
      count(DISTINCT user_id) AS n_users
    FROM events
    GROUP BY 1, 2, 3
"""


@query("pipeline_gold_15m", oracle=GOLD_ORACLE)
def q_gold_15m(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gold: 15-minute tumbling-window grouped aggregates (A1/A2 + W2 + P7).

    The reference's Gold computation
    (`src/jobs/spark_streaming_job.py:105-126`) generalized: tumbling
    window on event time, grouped by a dimension, several aggregates,
    window struct flattened to window_start/window_end. Plan:
    partial HashAggregate → single exchange on (window, event_type) →
    final HashAggregate. Distinct-count adds an expand; still one
    logical shuffle tree — verified via .explain in tests.
    """
    ev = load_table(spark, sf_dir, "events")
    return windowed_agg(
        ev,
        event_time="ts",
        window_duration="15 minutes",
        keys=["event_type"],
        aggs={
            "avg_value": F.round(F.avg("value"), 6),
            "sum_value": F.round(F.sum("value"), 4),
            "n_events": F.count(F.lit(1)),
            "n_users": F.count_distinct(F.col("user_id")),
        },
    )


@query(
    "pipeline_gold_hourly_sliding",
    oracle="""
    WITH buckets AS (
      SELECT time_bucket(INTERVAL '15 minutes', ts) AS b, user_id, value
      FROM events
    ), offsets AS (
      SELECT unnest(range(4)) AS i
    )
    SELECT
      b - i * INTERVAL '15 minutes' AS window_start,
      b - i * INTERVAL '15 minutes' + INTERVAL '1 hour' AS window_end,
      round(avg(value), 6) AS avg_value,
      count(*) AS n_events
    FROM buckets CROSS JOIN offsets
    GROUP BY 1, 2
    """,
)
def q_gold_hourly_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding window (1 h window, 15 min slide) global aggregates.

    Extends the reference's tumbling-only surface (SURVEY §2.6 notes no
    sliding windows) — each event lands in 4 overlapping windows. The
    oracle reproduces window assignment via bucket + offset expansion.
    """
    ev = load_table(spark, sf_dir, "events")
    return windowed_agg(
        ev,
        event_time="ts",
        window_duration="1 hour",
        keys=[],
        aggs={
            "avg_value": F.round(F.avg("value"), 6),
            "n_events": F.count(F.lit(1)),
        },
        slide="15 minutes",
    )


@query(
    "pipeline_dq_checks",
    oracle="""
    WITH gold AS (
      SELECT
        time_bucket(INTERVAL '15 minutes', ts) AS window_start,
        event_type,
        avg(value) AS avg_value,
        count(*) AS n_events
      FROM events GROUP BY 1, 2
    )
    SELECT 'row_count' AS check_name,
           CAST(count(*) AS DOUBLE) AS metric_value,
           count(*) >= 1 AS passed
    FROM gold
    UNION ALL
    SELECT 'missing_count_event_type',
           CAST(sum(CASE WHEN event_type IS NULL THEN 1 ELSE 0 END) AS DOUBLE),
           sum(CASE WHEN event_type IS NULL THEN 1 ELSE 0 END) <= 0
    FROM gold
    UNION ALL
    SELECT 'avg_n_events',
           round(CAST(avg(n_events) AS DOUBLE), 6),
           avg(n_events) BETWEEN 0 AND 1000000
    FROM gold
    """,
)
def q_dq_checks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Soda-equivalent DQ checks (A4) evaluated engine-side in one pass.

    Mirrors `soda/checks/checks_gold.yml:2-11` semantics (row_count>0,
    missing_count=0, avg between bounds) against the Gold aggregate,
    returning (check_name, metric_value, passed).
    """
    ev = load_table(spark, sf_dir, "events")
    gold = windowed_agg(
        ev,
        event_time="ts",
        window_duration="15 minutes",
        keys=["event_type"],
        aggs={"avg_value": F.avg("value"), "n_events": F.count(F.lit(1))},
    )
    checked = quality.run_checks(
        gold,
        [
            quality.row_count(),
            quality.missing_count("event_type"),
            quality.avg_between("n_events", 0.0, 1_000_000.0),
        ],
    )
    return checked.withColumn(
        "metric_value",
        F.when(F.col("check_name") == "avg_n_events", F.round("metric_value", 6)).otherwise(
            F.col("metric_value")
        ),
    )


@query(
    "pipeline_session_windows",
    oracle="""
    WITH marked AS (
      SELECT user_id, ts, value,
             CASE WHEN lag(ts) OVER w IS NULL
                    OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE
                  THEN 1 ELSE 0 END AS new_session
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), sessions AS (
      SELECT *, sum(new_session) OVER (
        PARTITION BY user_id ORDER BY ts
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
      FROM marked
    )
    SELECT user_id,
           min(ts) AS window_start,
           max(ts) + INTERVAL 30 MINUTE AS window_end,
           count(*) AS n_events,
           round(avg(value), 6) AS avg_value
    FROM sessions
    GROUP BY user_id, session_id
    """,
)
def q_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows (30-min inactivity gap) per user — batch form.

    Spark's session_window merges events whose gaps are < the timeout;
    window_end = last event + gap. The oracle reproduces the merge
    with the classic gaps-and-islands window-function rewrite. The
    same operator runs on a stream with a watermark (SURVEY §2.6
    notes the reference has no session windows at all).
    """
    from real_time_data_pipeline_spark.operators.windows import session_windowed_agg

    ev = load_table(spark, sf_dir, "events")
    return session_windowed_agg(
        ev,
        event_time="ts",
        gap="30 minutes",
        keys=["user_id"],
        aggs={
            "n_events": F.count(F.lit(1)),
            "avg_value": F.round(F.avg("value"), 6),
        },
    ).select("user_id", "window_start", "window_end", "n_events", "avg_value")


_SCD2_ORACLE = """
    WITH attr AS (
      SELECT user_id, ts, event_id,
             CAST(json_extract(props, '$.k') AS BIGINT) AS k
      FROM events
    ), changes AS (
      SELECT * FROM (
        SELECT user_id, ts, event_id, k,
               lag(k) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_k
        FROM attr
      ) WHERE prev_k IS NULL OR k <> prev_k
    )
    SELECT user_id, k, ts AS valid_from,
           lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS valid_to,
           (lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL)
             AS is_current
    FROM changes
"""


@query("pipeline_scd2_history", oracle=_SCD2_ORACLE)
def q_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD Type-2 dimension build from a change stream: collapse the
    per-user attribute timeline (props.k) into validity intervals —
    one row per value EPISODE with [valid_from, valid_to) bounds and
    a current flag. The ETL pattern behind every as-of-correct
    dimension table; `join_asof_purchase_last_click` is its read-side
    twin.

    Scale shape: one user_id shuffle serves both window passes (the
    change-detection lag and the interval-closing lead run on the
    same partitioning, the second over the far smaller change set).
    No self-join — the interval close is a lead(), which is the whole
    point of the pattern at scale.
    """
    return scd2_intervals(spark, sf_dir)


def scd2_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SCD2 interval build behind `pipeline_scd2_history`, shared
    with its read-side consumer `join_point_in_time_scd2`."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    attr = ev.select(
        "user_id",
        "ts",
        "event_id",
        F.get_json_object("props", "$.k").cast("long").alias("k"),
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    changes = (
        attr.withColumn("prev_k", F.lag("k").over(w))
        .where(F.col("prev_k").isNull() | (F.col("k") != F.col("prev_k")))
    )
    return changes.select(
        "user_id",
        "k",
        F.col("ts").alias("valid_from"),
        F.lead("ts").over(w).alias("valid_to"),
        F.lead("ts").over(w).isNull().alias("is_current"),
    )


@query(
    "pipeline_cdc_apply",
    oracle="""
    WITH log AS (
      SELECT user_id, ts, event_id, round(value, 6) AS value,
             CASE WHEN event_type = 'error' THEN 'delete' ELSE 'upsert' END AS op
      FROM events WHERE event_type IN ('purchase', 'signup', 'error')
    ), latest AS (
      SELECT *, row_number() OVER (
               PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
      FROM log
    )
    SELECT user_id, value AS last_value, ts AS updated_at
    FROM latest WHERE rn = 1 AND op = 'upsert'
    """,
)
def q_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC changelog application: collapse an ordered change log
    (upserts + delete tombstones per key) into the current snapshot —
    the batch form of a Debezium/ Delta-CDF apply. Here `purchase`/
    `signup` events act as upserts of the key's value and `error`
    events as tombstones; a key whose LATEST change is a tombstone is
    absent from the snapshot, otherwise the latest upsert wins.

    Differs from plain latest-wins dedup (pipeline_dedup_latest) in
    the tombstone semantics: the rank must run over the FULL log
    (deletes included) and filter after — filtering deletes first
    would wrongly resurrect an older upsert under a newer tombstone.

    Scale shape: one partitioned window keyed by user_id (no global
    window; audit-exempt), deterministic (ts, event_id) tie-break.
    The streaming twin is streaming/sinks.cdc_upsert_parquet driven
    per micro-batch by foreach_batch_sink (event-time-wins merge,
    tombstones retained until expire_tombstones); tests/test_cdc.py replays the same rows
    as micro-batches and asserts the snapshot equals this query.
    """
    ev = load_table(spark, sf_dir, "events").where(
        F.col("event_type").isin("purchase", "signup", "error")
    )
    log = ev.select(
        "user_id",
        "ts",
        "event_id",
        F.round("value", 6).alias("value"),
        F.when(F.col("event_type") == "error", F.lit("delete"))
        .otherwise(F.lit("upsert"))
        .alias("op"),
    )
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy(F.desc("ts"), F.desc("event_id"))
    return (
        log.withColumn("rn", F.row_number().over(w))
        .where((F.col("rn") == 1) & (F.col("op") == "upsert"))
        .select("user_id", F.col("value").alias("last_value"), F.col("ts").alias("updated_at"))
    )


_PIT_ORACLE = f"""
    WITH scd AS ({_SCD2_ORACLE}),
    purchases AS (
      SELECT user_id, event_id, ts
      FROM events WHERE event_type = 'purchase'
    )
    SELECT p.user_id, p.event_id, p.ts,
           s.k AS k_at_purchase, s.valid_from
    FROM purchases p
    JOIN scd s
      ON s.user_id = p.user_id
     AND p.ts >= s.valid_from
     AND (s.valid_to IS NULL OR p.ts < s.valid_to)
"""


@query("join_point_in_time_scd2", oracle=_PIT_ORACLE)
def q_point_in_time_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time-correct feature lookup: join each purchase event
    to the SCD2 attribute value VALID AT its event time — the
    feature-store operation that prevents training-serving skew (a
    plain dimension join would leak the customer's CURRENT attribute
    into historical training rows).

    Scale shape: equi-join on user_id (uniform keys, hash join) with
    the interval predicate applied post-probe; each user's interval
    list is their change count (tiny), so the per-row interval scan
    is bounded. The intervals come from the shared `scd2_intervals`
    build — one user_id shuffle, two windows.
    """
    intervals = scd2_intervals(spark, sf_dir)
    purchases = (
        load_table(spark, sf_dir, "events")
        .where(F.col("event_type") == "purchase")
        .select("user_id", "event_id", "ts")
    )
    return (
        purchases.join(intervals, "user_id")
        .where(
            (F.col("ts") >= F.col("valid_from"))
            & (F.col("valid_to").isNull() | (F.col("ts") < F.col("valid_to")))
        )
        .select(
            "user_id", "event_id", "ts",
            F.col("k").alias("k_at_purchase"), "valid_from",
        )
    )

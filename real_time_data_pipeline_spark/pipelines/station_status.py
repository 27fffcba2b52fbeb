"""The reference pipeline, reassembled from generic engine operators.

Proof that this engine subsumes the reference's capability surface: a
user can run the same GBFS station_status feed through the same
bronze → silver → gold stages — with the reference's known defects
fixed (deterministic dedup, watermark-bounded state, idempotent gold).

Stage map (reference citations):
- normalize_raw  ← producer `normalize` (`src/ingestion/producer.py:33-51`)
- to_silver      ← `src/jobs/spark_streaming_job.py:75-93` /
                   `src/jobs/spark_batch_backfill.py:34-52`
- to_gold        ← `src/jobs/spark_streaming_job.py:105-126` /
                   `src/jobs/spark_batch_backfill.py:56-74`
- gold_checks    ← `soda/checks/checks_gold.yml:2-11`

Batch/stream polymorphic: every stage accepts a batch frame (backfill,
`spark_batch_backfill.py` equivalent) or a streaming frame (live,
`spark_streaming_job.py` equivalent) — one definition, no parity drift.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from real_time_data_pipeline_spark.operators import quality
from real_time_data_pipeline_spark.operators.dedup import dedup_deterministic, dedup_stream
from real_time_data_pipeline_spark.operators.normalize import (
    epoch_to_ts,
    guarded_ratio,
    int_with_default,
    normalize_bool,
)
from real_time_data_pipeline_spark.streaming.pipeline import gold_transform

DEDUP_KEYS = ["station_id", "last_reported"]
FLAG_COLS = ["is_installed", "is_renting", "is_returning"]
COUNT_COLS = ["num_bikes_available", "num_ebikes_available", "num_docks_available"]


def normalize_raw(raw: DataFrame) -> DataFrame:
    """Producer-equivalent normalization, in-engine (reference P8).

    Stringified ids, int coercion with default 0 (ebikes stays
    nullable), 0/1/bool flags → boolean with unknown → NULL, epoch as
    long — the producer's Python loop becomes column expressions.
    """
    df = raw.withColumn("station_id", F.col("station_id").cast("string"))
    df = df.withColumn("num_bikes_available", int_with_default("num_bikes_available"))
    df = df.withColumn("num_ebikes_available", F.col("num_ebikes_available").try_cast("int"))
    df = df.withColumn("num_docks_available", int_with_default("num_docks_available"))
    for c in FLAG_COLS:
        df = df.withColumn(c, normalize_bool(c))
    return df.withColumn(
        "last_reported", F.coalesce(F.col("last_reported").try_cast("long"), F.lit(0))
    )


def to_silver(bronze: DataFrame, watermark_delay: str = "2 hours") -> DataFrame:
    """Silver: event_ts, normalized flags, guarded ratio, dedup.

    Streaming input → watermark-bounded dedup (fixes reference D1);
    batch input → deterministic keep-latest dedup (fixes D2).
    """
    df = bronze.withColumn("event_ts", epoch_to_ts("last_reported"))
    for c in FLAG_COLS:
        df = df.withColumn(c, normalize_bool(c))
    df = df.withColumn(
        "pct_bikes_available",
        guarded_ratio("num_bikes_available", "num_bikes_available", "num_docks_available"),
    )
    if df.isStreaming:
        return dedup_stream(df, DEDUP_KEYS, "event_ts", watermark_delay)
    return dedup_deterministic(
        df, DEDUP_KEYS, [F.desc("event_ts")] + [F.desc(c) for c in COUNT_COLS]
    )


def to_gold(silver: DataFrame, watermark_delay: str = "2 hours") -> DataFrame:
    """Gold: 15-min tumbling per-station averages, window flattened.

    Output schema matches the reference's Postgres gold table
    (schemas.GOLD_SCHEMA / `soda/checks/checks_gold.yml:4`).
    """
    out = gold_transform(
        silver,
        event_time="event_ts",
        window_duration="15 minutes",
        keys=["station_id"],
        aggs={
            "avg_pct_bikes_available": F.avg("pct_bikes_available"),
            "avg_bikes": F.avg("num_bikes_available"),
            "avg_docks": F.avg("num_docks_available"),
        },
        watermark_delay=watermark_delay,
    )
    return out.select(
        "station_id",
        "avg_pct_bikes_available",
        "avg_bikes",
        "avg_docks",
        "window_start",
        "window_end",
    )


def gold_checks(gold: DataFrame) -> DataFrame:
    """Soda-equivalent assertions on the gold table (reference A4)."""
    return quality.run_checks(
        gold,
        [
            quality.row_count(),
            quality.missing_count("station_id"),
            quality.avg_between("avg_pct_bikes_available", 0.0, 1.0),
        ],
    )

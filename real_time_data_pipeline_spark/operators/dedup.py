"""Deduplication operators (reference D1/D2, plus deterministic form).

The reference deduplicates with a bare ``dropDuplicates([keys])`` in
both streaming (`src/jobs/spark_streaming_job.py:85` — before any
watermark, so its state grows without bound) and batch
(`src/jobs/spark_batch_backfill.py:44` — keeps an *arbitrary* row per
key). Both are defects this engine fixes rather than copies:

- batch: ``dedup_deterministic`` picks the winner by an explicit
  tie-break ordering (``row_number() == 1``), so reruns and the DuckDB
  oracle agree row-for-row. It is also the winner election of every
  keyed merge in streaming/sinks.py;
- streaming: ``dedup_stream`` requires a watermark and uses
  ``dropDuplicatesWithinWatermark`` so state is evicted.

Scale: both forms shuffle once on the key columns. At 100 TB prefer
keys that are already the table's partitioning/bucketing keys so AQE
can skip or shrink the exchange; the deterministic form's window sort
is per-key and spills safely.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def dedup_deterministic(
    df: DataFrame, keys: Sequence[Column | str], order_by: Sequence[Column | str]
) -> DataFrame:
    """Keep exactly one row per key, chosen by ``order_by`` (first wins).

    ``row_number`` over (partition by keys order by tie-break) == 1 —
    the deterministic replacement for D2 flagged in SURVEY §2.5.
    """
    w = Window.partitionBy(*keys).orderBy(*order_by)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .drop("__rn")
    )


def dedup_stream(df: DataFrame, keys: Sequence[str], event_time: str, delay: str) -> DataFrame:
    """Watermarked streaming dedup with bounded state.

    Fixes reference D1's unbounded state: watermark first, then
    ``dropDuplicatesWithinWatermark`` so the state store evicts keys
    older than the watermark delay.
    """
    return df.withWatermark(event_time, delay).dropDuplicatesWithinWatermark(list(keys))

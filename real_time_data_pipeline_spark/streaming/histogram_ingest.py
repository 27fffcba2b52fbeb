"""Incremental quantile maintenance over a stream via a
fixed-boundary log histogram.

Sixth streaming twin, and the quantile member of the mergeable-state
family. Order-sensitive quantile sketches (KLL, t-digest) cannot give
the engine's twin contract — their state depends on arrival order, so
a chunked replay is only approximately the batch build. A histogram
with FIXED bucket boundaries gives the strong contract back: the
bucket function depends only on the value (never on the data
distribution), so per-bucket counts merge by SUM — linear, like
Count-Min — and replaying the stream in ANY chunking leaves a state
table cell-identical to the one-shot batch build. This is the
production monitoring-system pattern (fixed histogram buckets with
quantiles interpolated at read time), not a research sketch.

Buckets are log-spaced: ``bucket(v) = floor(log2(v) * LOG2_DIVS)``
for v > 0, i.e. ``LOG2_DIVS`` buckets per factor of two, giving a
constant RELATIVE width of ``2^(1/LOG2_DIVS) - 1`` (~9% at the
default 8) and therefore a bounded relative quantile error of
``2^(1/(2*LOG2_DIVS)) - 1`` (~4.4%) when estimates read the bucket's
geometric midpoint. No clamping and no data-dependent boundaries:
the occupied-bucket count is bounded by the double type itself
(≤ LOG2_DIVS × 2098 ≈ 17k cells for the full positive double range,
and far fewer in practice), so the state stays dimension-sized
regardless of event volume. NULL and non-positive values are
EXCLUDED on both the batch and streaming sides — log buckets are
defined for positive metrics only, and the exclusion is part of the
parity contract (the NULL-timestamp lesson: name the exclusion,
never let the two sides disagree silently).

State: ONE parquet table of (bucket, cnt) rows plus a single marker
row at the FIXED key ``bucket = _META_BUCKET`` (a sentinel far below
any representable log bucket — real buckets can be negative for
v < 1, so a sign test cannot separate the marker) whose ``cnt``
column carries the last merged batch_id. Addition is not idempotent,
so the marker IS required for exactly-once merges (the Count-Min
argument), committed atomically with the cells by the shared marker
kernel (`sinks.merge_marked_state`, one staged-rename swap); readers
run the mid-swap crash recovery first.

Scale shape: per micro-batch one bucket-keyed partial aggregate
(map-side combine, output ≤ occupied buckets), a tiny whole-state
sum-merge, one swap-commit. The quantile read is a running sum over
the ≤17k-cell state — the unpartitioned window is bounded by the
bucket function's own range, by construction, never by data volume.

Parity contract (tests/test_streaming.py): replaying events through
`merge_histogram_batch` in ANY chunking leaves the state
cell-identical to the one-shot batch build; quantile estimates from
the maintained state equal the batch-histogram estimates; and each
estimate sits within the constant relative bucket error of the EXACT
batch percentile.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from real_time_data_pipeline_spark.streaming.sinks import (
    merge_marked_state,
    read_marked_state,
)

LOG2_DIVS = 8  # buckets per factor of 2; relative width 2^(1/8)-1 ~ 9%
# far below floor(log2(min positive double) * LOG2_DIVS) ~ -8600:
_META_BUCKET = -(10**9)


def value_bucket(col: Column) -> Column:
    """Fixed log-spaced bucket id of a positive value; NULL for NULL
    or non-positive input (excluded from the histogram on both the
    batch and streaming sides — part of the parity contract)."""
    return F.when(col > 0, F.floor(F.log2(col) * LOG2_DIVS).cast("long"))


def bucket_mid(bucket: Column) -> Column:
    """Geometric midpoint of a bucket — the read-time value estimate,
    within 2^(1/(2*LOG2_DIVS))-1 relative error of any member."""
    return F.pow(F.lit(2.0), (bucket + 0.5) / LOG2_DIVS)


def histogram_increments(
    batch_df: DataFrame, value_col: str = "value"
) -> DataFrame:
    """(bucket, cnt) histogram cells contributed by one batch — the
    one-shot build over the whole table IS this function (sum-merge
    linearity makes the chunked replay cell-identical)."""
    return (
        batch_df.select(value_bucket(F.col(value_col)).alias("bucket"))
        .where(F.col("bucket").isNotNull())
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def merge_histogram_batch(
    batch_df: DataFrame, state_path: str, batch_id: int, value_col: str = "value"
) -> bool:
    """Sum-merge one micro-batch's cells into the state; returns False
    for an already-merged (retried) batch_id — addition is not
    idempotent, so the in-table marker is what makes the foreachBatch
    retry exactly-once (the Count-Min argument)."""
    return merge_marked_state(
        batch_df.sparkSession,
        state_path,
        batch_id,
        lambda: histogram_increments(batch_df, value_col),
        "bucket bigint, cnt bigint",
        keys=["bucket"],
        combine={"cnt": "sum"},
        sentinel=_META_BUCKET,
    )


def read_histogram(spark: SparkSession, state_path: str) -> DataFrame:
    """The committed histogram cells (marker row excluded),
    swap-recovered."""
    return read_marked_state(spark, state_path, "bucket", _META_BUCKET)


def quantile_estimates_of(cells: DataFrame, qs: list) -> DataFrame:
    """(q, est) quantile estimates from a (bucket, cnt) frame: the
    geometric midpoint of the bucket holding rank ceil(q * total).
    The unpartitioned running-sum window is bounded by the bucket
    function's own range (≤ ~17k cells for all positive doubles),
    never by data volume — the same bounded-by-construction argument
    as the engine's post-aggregate calendar windows."""
    w = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, 0)
    cum = cells.select(
        "bucket",
        F.sum("cnt").over(w).alias("cum"),
        F.sum("cnt").over(Window.partitionBy(F.lit(1))).alias("total"),
    )
    probes = cells.sparkSession.createDataFrame(
        [(float(q),) for q in qs], "q double"
    )
    # smallest bucket whose cumulative count reaches the target rank
    hit = (
        probes.join(
            F.broadcast(
                cum.withColumn(
                    "rank_reached",
                    (F.col("cum").cast("double") / F.col("total")),
                )
            ),
            F.col("rank_reached") >= F.col("q"),
        )
        .groupBy("q")
        .agg(F.min("bucket").alias("bucket"))
    )
    return hit.select("q", F.round(bucket_mid(F.col("bucket")), 6).alias("est"))


def quantile_estimates(
    spark: SparkSession, state_path: str, qs: list
) -> DataFrame:
    """Quantile estimates from the maintained state."""
    return quantile_estimates_of(read_histogram(spark, state_path), qs)

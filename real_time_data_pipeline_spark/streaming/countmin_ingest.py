"""Incremental Count-Min heavy-hitters maintenance over a stream.

The batch query `text_countmin_heavy_hitters` builds its sketch from
the whole corpus. A production frequency monitor cannot rescan the
corpus per refresh — it maintains the sketch incrementally: Count-Min
is LINEAR (each cell is a sum of per-event contributions), so the
merged sketch of two disjoint batches is the cell-wise sum of their
sketches, and replaying the corpus in any chunking yields the
bit-identical state the one-shot batch build produces. That linearity
is the whole parity contract; no approximation drift accumulates.

State: ONE parquet table of (salt_id, bucket, bc) cells —
depth × width rows at most (a few hundred), regardless of corpus
size — plus a single in-table meta row (salt_id = -1) whose ``bc``
carries the last merged foreachBatch batch_id, committed by the
shared marker kernel `sinks.merge_marked_state`. Keeping the marker
INSIDE the swap-committed table makes retry detection atomic with
the merge: a foreachBatch retry re-delivers the same batch_id, the
reader sees the marker from the committed state, and the merge
becomes a no-op — increments are applied exactly once even though
addition itself is not idempotent (the reason the retention twin's
plain keyed upsert pattern is not enough here).

Scale shape: per micro-batch one word explode + one
(salt, bucket)-keyed partial aggregate (output ≤ depth × width rows),
then a tiny whole-state merge and swap-commit write. Nothing scales
with corpus size; the batch's own text volume is the only per-batch
cost.

Parity contract (tests/test_streaming.py): replaying the documents
table through `merge_countmin_batch` in ANY chunking must leave a state table
cell-for-cell equal to the batch sketch, and the heavy-hitter probe
over the final state must reproduce the batch query's estimates.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# Geometry + salts come from the batch query so the two sketches are
# the same structure by construction.
from real_time_data_pipeline_spark.queries.text import CM_SALTS, CM_WIDTH
from real_time_data_pipeline_spark.operators.text import hash32, words
from real_time_data_pipeline_spark.streaming.sinks import (
    merge_marked_state,
    read_marked_state,
)

_META_SALT = -1  # salt_id of the single last-batch-id marker row


def sketch_increments(batch_df: DataFrame, text_col: str = "text") -> DataFrame:
    """(salt_id, bucket, bc) Count-Min cell increments for one batch —
    the identical word split + salted md5 bucket arithmetic as the
    batch `text_countmin_heavy_hitters` build."""
    w = batch_df.where(F.length(F.trim(text_col)) > 0).select(
        F.explode(words(text_col)).alias("word")
    )
    out = None
    for i, s in enumerate(CM_SALTS):
        row = (
            w.select(
                F.lit(i).alias("salt_id"),
                (hash32(F.concat(F.lit(s), F.col("word"))) % CM_WIDTH).alias("bucket"),
            )
            .groupBy("salt_id", "bucket")
            .agg(F.count(F.lit(1)).alias("bc"))
        )
        out = row if out is None else out.unionAll(row)
    return out


def merge_countmin_batch(
    batch_df: DataFrame, state_path: str, batch_id: int, text_col: str = "text"
) -> bool:
    """Merge one micro-batch into the sketch state; returns False for
    an already-merged (retried) batch_id. The stored cells and the
    batch increments sum cell-wise (linearity); marker and cells
    commit in ONE swap (`sinks.merge_marked_state`)."""
    return merge_marked_state(
        batch_df.sparkSession,
        state_path,
        batch_id,
        lambda: sketch_increments(batch_df, text_col),
        "salt_id int, bucket bigint, bc bigint",
        keys=["salt_id", "bucket"],
        combine={"bc": "sum"},
        sentinel=_META_SALT,
    )


def read_sketch(spark: SparkSession, state_path: str) -> DataFrame:
    """The committed sketch cells (meta row excluded), swap-recovered."""
    return read_marked_state(spark, state_path, "salt_id", _META_SALT)


def heavy_hitters_estimate(
    spark: SparkSession, state_path: str, probe_words: DataFrame
) -> DataFrame:
    """CM estimate per probe word from the maintained state:
    min over the depth rows of the probed cells — the identical
    probe arithmetic as the batch query. ``probe_words`` is a
    (word) frame (bounded: the candidate set, not the vocabulary).

    A probed cell ABSENT from the state counts as 0 (left join +
    coalesce): a sparse early-stream sketch has unpopulated cells,
    and the Count-Min estimate of a never-seen word is 0, not the
    min over whichever of its cells happen to exist — an inner join
    here would overestimate partially-present words and silently
    drop fully-absent ones."""
    sketch = read_sketch(spark, state_path)
    probe = None
    for i, s in enumerate(CM_SALTS):
        p = probe_words.select(
            "word",
            F.lit(i).alias("salt_id"),
            (hash32(F.concat(F.lit(s), F.col("word"))) % CM_WIDTH).alias("bucket"),
        )
        probe = p if probe is None else probe.unionAll(p)
    return (
        probe.join(F.broadcast(sketch), ["salt_id", "bucket"], "left")
        .groupBy("word")
        .agg(F.min(F.coalesce("bc", F.lit(0))).cast("long").alias("cm_estimate"))
    )

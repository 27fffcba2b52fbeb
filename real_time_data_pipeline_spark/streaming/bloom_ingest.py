"""Incremental Bloom-filter maintenance over a stream.

The batch `contamination_bloom_prefilter` query builds its benchmark
Bloom filter (16 Ki bits, 3 salted hashes — `queries/text.py`
BLOOM_SALTS / BLOOM_BITS) from a full scan of the benchmark docs. In
production the benchmark side GROWS incrementally — a new eval suite
lands, its shingles must start being caught by the decontamination
prefilter without rebuilding from scratch. A Bloom filter supports
exactly that: the bit array is the OR of per-document bit sets, so
set-union of newly-lit positions is the complete merge — like the
Count-Min twin (`countmin_ingest.py`) the structure is linear, and
replaying the benchmark corpus in ANY chunking leaves a state table
BIT-IDENTICAL to the one-shot batch build. Unlike Count-Min the merge
is also idempotent (a set union), so the exactly-once batch_id marker
is not needed for correctness — it is kept anyway so the state table
carries its own progress watermark and the twins share one contract.

State: ONE parquet table of (pos, bid) rows — at most BLOOM_BITS
cells (16384 here; a few hundred MB of positions in a
production-sized filter), regardless of benchmark corpus size — plus
a single marker row at the FIXED key ``pos = -1`` whose ``bid``
column carries the last merged batch_id. The marker key stays
fixed so exactly one marker row ever exists (the Count-Min
convention, salt_id = -1). The shared marker kernel
(`sinks.merge_marked_state`) emits the FULL next state (stored cells
unioned with the batch's increments), so marker and cells commit in
one whole-state staged-rename swap; readers run the mid-swap crash
recovery first.

Scale shape: per micro-batch one shingle explode + distinct over the
batch's docs (the batch's own text volume is the only per-batch
cost), then a ≤BLOOM_BITS-row set union and swap-commit. The probe
side broadcasts the bit table — identical to the batch query's
prefilter-then-verify architecture.

Parity contract (tests/test_streaming.py): replaying the benchmark
docs through `merge_bloom_batch` in ANY chunking must leave the state
equal to the batch query's bit set, and the candidate-side summary
computed against the maintained filter must reproduce the batch
registry query's row exactly.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

# Geometry + salts come from the batch query so the two filters are
# bit-identical by construction.
from real_time_data_pipeline_spark.queries.text import BLOOM_BITS, BLOOM_SALTS
from real_time_data_pipeline_spark.operators.text import hash32, word_shingles
from real_time_data_pipeline_spark.streaming.sinks import (
    merge_marked_state,
    read_marked_state,
)


def _bloom_pos(col: Column, salt: str) -> Column:
    return hash32(F.concat(F.lit(salt), col)) % BLOOM_BITS


def bloom_bit_increments(
    batch_df: DataFrame, text_col: str = "text", shingle_n: int = 5
) -> DataFrame:
    """(pos) distinct Bloom positions lit by one batch of documents —
    the identical shingle + salted md5 arithmetic as the batch
    `contamination_bloom_prefilter` build."""
    grams = batch_df.where(F.length(F.trim(text_col)) > 0).select(
        F.explode(word_shingles(text_col, shingle_n)).alias("g")
    )
    out = None
    for s in BLOOM_SALTS:
        p = grams.select(_bloom_pos(F.col("g"), s).alias("pos"))
        out = p if out is None else out.unionAll(p)
    return out.distinct()


_META_POS = -1  # fixed pos of the single last-batch-id marker row


def merge_bloom_batch(
    batch_df: DataFrame,
    state_path: str,
    batch_id: int,
    text_col: str = "text",
    shingle_n: int = 5,
) -> bool:
    """Set-union one micro-batch's lit positions into the filter
    state; returns False for an already-merged (retried) batch_id
    (a no-op either way — union is idempotent — but skipping keeps
    the marker monotone and the write amplification zero). Cell rows
    carry ``bid = 0``, so the kernel's per-pos ``max`` IS the set
    union."""
    return merge_marked_state(
        batch_df.sparkSession,
        state_path,
        batch_id,
        lambda: bloom_bit_increments(batch_df, text_col, shingle_n).withColumn(
            "bid", F.lit(0)
        ),
        "pos bigint, bid bigint",
        keys=["pos"],
        combine={"bid": "max"},
        sentinel=_META_POS,
    )


def read_bloom(spark: SparkSession, state_path: str) -> DataFrame:
    """The committed lit positions (marker row excluded),
    swap-recovered."""
    return read_marked_state(spark, state_path, "pos", _META_POS).select("pos")


def bloom_maybe_filter(
    spark: SparkSession,
    state_path: str,
    candidates: DataFrame,
    gram_col: str = "g",
) -> DataFrame:
    """Rows of ``candidates`` whose ``gram_col`` the maintained filter
    says MAYBE belong to the benchmark set — the identical
    per-salt broadcast left-semi cascade as the batch query (every
    salt's position must be lit). Never drops a true member."""
    bits = read_bloom(spark, state_path)
    flagged = candidates
    for i, s in enumerate(BLOOM_SALTS):
        hit = bits.select(F.col("pos").alias(f"_bp{i}"))
        flagged = flagged.withColumn(
            f"_bp{i}", _bloom_pos(F.col(gram_col), s)
        ).join(F.broadcast(hit), f"_bp{i}", "left_semi")
    return flagged.drop(*[f"_bp{i}" for i in range(len(BLOOM_SALTS))])

"""Incremental HyperLogLog cardinality maintenance over a stream.

Third of the mergeable-sketch streaming twins, completing the merge
algebra trilogy: Count-Min (`countmin_ingest.py`) merges by cell-wise
SUM (linear), Bloom (`bloom_ingest.py`) by set UNION (idempotent),
and HyperLogLog merges by register-wise MAX — associative,
commutative AND idempotent, so replaying the corpus in ANY chunking
(including overlapping redeliveries) leaves a register table
cell-identical to the one-shot batch build, and the estimate derived
from the maintained state equals the batch estimate exactly.

The batch engine leans on Spark's built-in HLL++
(`approx_count_distinct`, e.g. `graph_two_hop_reach_sketch`,
`queries/graph.py`), whose binary buffers never leave the JVM — they
cannot be persisted into an engine-owned parquet state table or
merged across restarts from Python. This twin therefore maintains an
EXPLICIT register table with the same public-paper construction
(Flajolet et al., HyperLogLog, AofA 2007; Heule et al., HLL++ small-
range correction): hash each value (the engine's deterministic
salted-md5 `hash60`, 60 bits), low ``HLL_P`` bits pick a register,
and the register keeps the max over ``rho`` = 1 + leading-zero count
of the remaining 48 tail bits. Distinct-word cardinality over the
documents corpus is the maintained statistic — the streaming
companion to the text family's vocabulary queries.

State: ONE parquet table of (reg, rho) rows — at most ``HLL_M``
(4096) register cells regardless of corpus size — plus a single
marker row at the FIXED key ``reg = -1`` whose ``rho`` column carries
the last merged foreachBatch batch_id (the Count-Min convention: a
fixed marker key, so exactly one marker row ever exists). Max-merge
makes the marker unnecessary for correctness (like Bloom, unlike
Count-Min) — it is kept so all three twins share one exactly-once
contract and the state carries its own progress watermark. The shared
marker kernel (`sinks.merge_marked_state`) emits the FULL next state,
so marker and cells commit in one whole-state staged-rename swap;
readers run the mid-swap crash recovery first.

Scale shape: per micro-batch one word explode + one reg-keyed MAX
partial aggregate (map-side combine; output ≤ HLL_M rows), then a
tiny whole-state max-merge and swap-commit. Nothing scales with
corpus size, and the estimate is an aggregate over ≤ HLL_M rows.

Parity contract (tests/test_streaming.py): replaying the documents
table through `merge_hll_batch` in ANY chunking — and with overlapping
redeliveries — must leave the register table cell-identical to the
one-shot batch build; the estimate from the maintained state must
equal the batch estimate; and both must sit within the published
~1.04/sqrt(m) relative error of the exact distinct count.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from real_time_data_pipeline_spark.operators.text import hash60, words
from real_time_data_pipeline_spark.streaming.sinks import (
    merge_marked_state,
    read_marked_state,
)

HLL_P = 12  # register-index bits
HLL_M = 1 << HLL_P  # 4096 registers; rsd = 1.04/sqrt(m) ~ 1.6%
_TAIL_BITS = 60 - HLL_P  # hash60 leaves 48 tail bits for rho
_META_REG = -1  # fixed reg of the single last-batch-id marker row


def _rho(tail: Column) -> Column:
    """1 + leading-zero count of ``tail`` as a ``_TAIL_BITS``-bit
    value: ``_TAIL_BITS + 1 - bit_length(tail)``, with the all-zero
    tail pinned to the max (bit_length 0). ``conv(tail, 10, 2)``
    prints the binary form without leading zeros, so its length IS
    the bit length for tail > 0."""
    blen = F.length(F.conv(tail.cast("string"), 10, 2))
    return F.when(tail == 0, F.lit(_TAIL_BITS + 1)).otherwise(
        F.lit(_TAIL_BITS + 1) - blen
    )


def hll_register_increments(
    batch_df: DataFrame, text_col: str = "text"
) -> DataFrame:
    """(reg, rho) register maxima contributed by one batch of
    documents — the one-shot build over the whole corpus IS this
    function, which is what makes the chunked replay trivially
    cell-identical (max is associative/commutative/idempotent)."""
    h = hash60(F.col("word"))
    return (
        batch_df.where(F.length(F.trim(text_col)) > 0)
        .select(F.explode(words(text_col)).alias("word"))
        # integer shift, NOT floor(h / m): the division route converts
        # the 60-bit hash to double first, whose 53-bit mantissa
        # silently rounds the tail bits rho is computed from
        .select(
            (h % HLL_M).alias("reg"),
            _rho(F.shiftright(h, HLL_P)).alias("rho"),
        )
        .groupBy("reg")
        .agg(F.max("rho").alias("rho"))
    )


def merge_hll_batch(
    batch_df: DataFrame, state_path: str, batch_id: int, text_col: str = "text"
) -> bool:
    """Max-merge one micro-batch's register maxima into the state;
    returns False for an already-merged (retried) batch_id (a no-op
    either way — max is idempotent — but skipping keeps the marker
    monotone and the write amplification zero)."""
    return merge_marked_state(
        batch_df.sparkSession,
        state_path,
        batch_id,
        lambda: hll_register_increments(batch_df, text_col),
        "reg bigint, rho bigint",
        keys=["reg"],
        combine={"rho": "max"},
        sentinel=_META_REG,
    )


def read_registers(spark: SparkSession, state_path: str) -> DataFrame:
    """The committed register cells (marker row excluded),
    swap-recovered."""
    return read_marked_state(spark, state_path, "reg", _META_REG)


def hll_estimate_of(registers: DataFrame) -> float:
    """The HLL estimate from a (reg, rho) register frame: raw
    harmonic-mean estimate ``alpha_m * m^2 / (zeros + sum 2^-rho)``
    with the small-range linear-counting correction
    (``E <= 2.5m`` and empty registers exist → ``m * ln(m / V)``).
    Absent rows are zero registers, contributing 2^0 = 1 each to the
    harmonic sum. One aggregate over ≤ HLL_M rows — the `.first()` is
    a bounded single-row collect by construction. The 32-bit
    large-range correction is moot with 48-bit rho tails."""
    agg = registers.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.pow(F.lit(2.0), -F.col("rho"))).alias("s_present"),
    ).first()
    n = agg["n"] or 0
    zeros = HLL_M - n
    harm = zeros + (agg["s_present"] or 0.0)
    alpha = 0.7213 / (1.0 + 1.079 / HLL_M)
    est = alpha * HLL_M * HLL_M / harm
    if est <= 2.5 * HLL_M and zeros > 0:
        est = HLL_M * math.log(HLL_M / zeros)
    return est


def hll_estimate(spark: SparkSession, state_path: str) -> float:
    """The distinct-count estimate from the maintained state."""
    return hll_estimate_of(read_registers(spark, state_path))

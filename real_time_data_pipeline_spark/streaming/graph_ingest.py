"""Incremental graph-edge maintenance over a fact stream — the graph
family's twin (VERDICT r14 #5's second named candidate).

Every nation-graph query in `queries/graph.py` derives from ONE
weighted edge list (`_trade_flows_shared`: supplier nation → customer
nation, revenue-weighted), rebuilt from the full fact table per corpus
snapshot. A production graph stack keeps that edge list MAINTAINED as
fact rows arrive — re-running a 5-way star join over 100 TB of
lineitem because one day's orders landed is not a plan — and re-runs
the (cheap, |V|-sized) iterative algorithms off the maintained state.
This twin maintains exactly that edge list, and
`queries/graph.py::q_pagerank_after_ingest` serves PageRank from it,
externally value-checked against a full-recompute SQL oracle.

Merge algebra: PURE ADDITION on exact integer cents — the corpus-stats
twin's algebra (linear, associative, commutative), so chunked-replay
parity is EXACT-INTEGER: each fact row contributes its per-edge
revenue cents to exactly one micro-batch, and any chunking of a fact
table with unique (orderkey, linenumber) rows sums to the one-shot
edge list (`trade_flows_build`). A fact row re-shipped under a NEW
batch id double-counts — upstream exactly-once delivery (or
`dedup_ingest`) is the same precondition every additive twin
documents.

Exactly-once is STRUCTURAL, reusing the shared partitioned-state
commit (`sinks.commit_partitioned_batch`, key_col="bkt"): a batch's
edge delta is a pure deterministic function of the batch (exact
integer cents, frozen dimension joins), the state is laid out
src_batch-first (``src_batch=<b>/bkt=<k>/``), and a foreachBatch
retry swaps its own batch directory in again with identical rows; the post-compaction redelivery window
that would silently double additive state raises loudly inside the
shared commit.

State grain: EDGES, never facts — a batch of any size collapses to at
most |src nations| x |dst nations| delta rows before the write, and
the per-batch cost is the batch-sized star join against the dimension
tables (broadcast nation frames; the orders/customer/supplier probes
are batch-sized, so AQE broadcasts the batch side at micro-batch
scale). Edges are hash-bucketed by src over ``n_buckets`` partitions:
at nation grain 8 buckets suffice locally; an entity-grain graph
(customer→customer, document→document) wants O(thousands) so a
100 TB corpus's edge set spreads instead of hot-spotting — the same
lever every bucketed twin documents.

Compaction (`compact_trade_flows`) is the ADDITIVE fold: sum the
per-batch deltas into one row per (bkt, src, dst) under
src_batch = -1, state returns to exactly edge-set size, reset guard
sentinel preserved, all through the shared crash-safe staged-rename
swap.

Parity contract (tests/test_streaming.py): replaying lineitem through
`merge_trade_flows_batch` in ANY chunking, with newest-batch
redeliveries and a mid-stream compaction, leaves `read_trade_flows`
cell-identical to the one-shot `trade_flows_build`; the registry
query serves the SAME PageRank program (`_pagerank_ranks`) the batch
`graph_pagerank_trade` query runs, so parity holds by construction of
everything except the edge-list source.

Reference scope note: the reference pipeline
(`src/jobs/spark_streaming_job.py`, 440 lines of Kafka→parquet glue)
has no graph surface; this twin is north-star scope, twinned with the
engine's own nation-graph family.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from real_time_data_pipeline_spark.streaming.sinks import (
    commit_partitioned_batch,
    compact_partitioned_state,
    read_partitioned_state,
)

DEFAULT_EDGE_BUCKETS = 8  # nation-grain local size; entity-grain graphs want O(thousands)


def trade_flow_increments(
    batch_li: DataFrame,
    orders: DataFrame,
    customer: DataFrame,
    supplier: DataFrame,
    nation: DataFrame,
    n_buckets: int = DEFAULT_EDGE_BUCKETS,
    batch_col: "F.Column | None" = None,
) -> DataFrame:
    """One fact batch's nation-grain edge delta: (bkt, src, dst,
    w_cents) — supplier nation → customer nation, revenue summed as
    exact integer cents (per-row round, then sum: the same cents
    expression `_trade_flows_shared` and the k-core oracle use, so
    every consumer agrees to the cent).

    Pure deterministic function of the batch, which is what the
    structural exactly-once commit requires; the one-shot build over
    the full fact table IS this function (`trade_flows_build`),
    making chunked-replay parity exact.

    ``batch_col`` (r16): an optional batch-id expression over the fact
    columns. When given, the output carries it as ``_rb`` and the
    aggregate groups by (batch, edge) — the WHOLE corpus's per-batch
    deltas from ONE star join. Because the sums are exact integers,
    slicing that frame on ``_rb`` is row-identical to calling this
    function once per batch (the artifact replay uses exactly this;
    the streaming sink keeps the per-batch form)."""
    cn = nation.select(
        F.col("n_nationkey").alias("c_nk"), F.col("n_name").alias("dst")
    )
    sn = nation.select(
        F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("src")
    )
    cents = F.round(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100
    ).cast("long")
    keys = ["src", "dst"]
    joined = (
        batch_li.join(orders, batch_li.l_orderkey == orders.o_orderkey)
        .join(customer, orders.o_custkey == customer.c_custkey)
        .join(F.broadcast(cn), F.col("c_nationkey") == F.col("c_nk"))
        .join(supplier, batch_li.l_suppkey == supplier.s_suppkey)
        .join(F.broadcast(sn), F.col("s_nationkey") == F.col("s_nk"))
    )
    if batch_col is not None:
        joined = joined.withColumn("_rb", batch_col)
        keys = ["_rb", "src", "dst"]
    return (
        joined.groupBy(*keys)
        .agg(F.sum(cents).alias("w_cents"))
        .select(
            *(["_rb"] if batch_col is not None else []),
            F.pmod(F.xxhash64("src"), F.lit(n_buckets))
            .cast("bigint")
            .alias("bkt"),
            "src",
            "dst",
            F.col("w_cents").cast("bigint"),
        )
    )


def trade_flows_build(
    li: DataFrame,
    orders: DataFrame,
    customer: DataFrame,
    supplier: DataFrame,
    nation: DataFrame,
    n_buckets: int = DEFAULT_EDGE_BUCKETS,
) -> DataFrame:
    """The batch twin: whole-corpus weighted edge list in one pass —
    the frame any chunked streaming replay must sum to."""
    return trade_flow_increments(
        li, orders, customer, supplier, nation, n_buckets
    )


def merge_trade_flows_batch(
    batch_li: DataFrame,
    orders: DataFrame,
    customer: DataFrame,
    supplier: DataFrame,
    nation: DataFrame,
    state_path: str,
    batch_id: int,
    n_buckets: int = DEFAULT_EDGE_BUCKETS,
) -> bool:
    """Commit one micro-batch's edge delta as its src_batch=batch_id
    directory (one bkt partition per touched bucket) via the shared
    structural-idempotency commit: a retry REPLACES its own batch with
    byte-identical rows; a checkpoint reset, or a redelivery after
    compaction folded the batch away, fails loudly (the
    additive-state guard lives inside `commit_partitioned_batch`)."""
    inc = trade_flow_increments(
        batch_li, orders, customer, supplier, nation, n_buckets
    )
    return commit_partitioned_batch(inc, state_path, batch_id, key_col="bkt")


def read_trade_flows(spark: SparkSession, state_path: str) -> DataFrame:
    """The maintained weighted edge list: (src, dst, w_cents), deltas
    summed at read time (one row per edge after compaction; one per
    (edge, touched batch) before — the sum is the same)."""
    return (
        read_partitioned_state(spark, state_path, key_col="bkt")
        .groupBy("src", "dst")
        .agg(F.sum("w_cents").alias("w_cents"))
    )


def compact_trade_flows(spark: SparkSession, state_path: str) -> None:
    """Maintenance-window compaction, ADDITIVE form (stream PAUSED
    with its final batch committed): the shared sentinel-preserving
    crash-safe compaction with this twin's merge algebra as the fold —
    one row per (bkt, src, dst), state back to edge-set size."""
    compact_partitioned_state(
        spark,
        state_path,
        key_col="bkt",
        fold=lambda live: live.groupBy("bkt", "src", "dst").agg(
            F.sum("w_cents").alias("w_cents")
        ),
    )

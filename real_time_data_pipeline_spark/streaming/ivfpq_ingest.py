"""Incremental IVF-PQ ANN index maintenance over a stream of
vectors — the composition the batch family argues for at 100 TB (IVF
prunes WHICH vectors a query scores, PQ compresses HOW each one is
scored), maintained incrementally.

Ninth twin, built on the eighth's structural-idempotency commit
(`sinks.commit_partitioned_batch`): both the coarse assignment
(nearest frozen centroid, exact cosine, deterministic tie-break) and
the PQ encoding (per-subspace nearest frozen codeword by QUANTIZED
squared L2 — `operators/similarity.py::pq_codebooks`' integer-exact
distance, so no float-order sensitivity) are pure per-vector
functions of the batch, so a foreachBatch retry recomputes
byte-identical rows and the staged swap of its
``src_batch=<b>/cent_id=<k>`` directory replaces exactly its own
batch. No marker, no state rewrite; the shared checkpoint-reset guard raises on replayed ids.

State row: (cent_id, nid, codes array<int> ordered by subspace) —
``m_sub`` small ints per vector instead of D doubles. At 100 TB of
embeddings that is the difference between an index tier measured in
GB and one measured in TB; the scalar-quantized eighth-twin state
keeps full (approximate) vectors for exact-cosine reranking, this
one keeps codes for ADC-speed scoring — a deployment maintains
whichever tier (or both) its latency/recall budget wants, from the
same stream.

`ivfpq_probe_state` serves top-k with IVF + ADC composed: per query,
score the frozen coarse centroids (broadcast) and keep the nprobe
nearest lists; scan ONLY those cent_id partitions (bounded
centroid-grain IN-filter -> parquet partition pruning); build the
query's (subspace, codeword) -> quantized-distance table against the
frozen codebooks (broadcast-sized: queries x m_sub x k_codes); score
each candidate as the SUM OF TABLE LOOKUPS over its codes — integer,
associative, no full-dimension arithmetic per pair. The only shuffle
is the (query, neighbor)-keyed sum; everything before it is
map-side on the pruned lists.

Parity contract (tests/test_streaming.py + hypothesis property):
replaying the embeddings through `merge_ivfpq_batch` in ANY chunking
with same-id retries leaves the state row-identical to the one-shot
`ivfpq_state_build`, and probes from maintained and one-shot state
are equal. Re-ships under a NEW batch id are upstream dedup's job
(documented eighth-twin contract); the probe's per-(query, neighbor)
aggregate absorbs them for ranking purposes regardless.

Reference scope note: north-star scope (the reference has no vector
surface); twinned with the engine's own `embed_pq_adc_topk` /
`embed_ann_ivf_topk` batch queries (`queries/similarity.py`).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from real_time_data_pipeline_spark.operators.similarity import (
    _pq_qd2,
    _pq_subvectors,
    assign_to_centroids,
)
from real_time_data_pipeline_spark.streaming.ivf_ingest import probe_lists
from real_time_data_pipeline_spark.streaming.sinks import (
    commit_partitioned_batch,
    read_partitioned_state,
)

_QUANT = 1_000_000  # must match the codebooks' training quant


def ivfpq_increments(
    batch_df: DataFrame,
    centroids: DataFrame,
    codebooks: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m_sub: int = 4,
    sub_dim: int = 16,
    quant: int = _QUANT,
) -> DataFrame:
    """One batch's index rows: (cent_id, nid, codes).

    Coarse list via `assign_to_centroids` (exact cosine, ties to the
    lower cent_id); PQ code per subspace via min_by over the
    quantized squared L2 to each frozen codeword (integer comparison,
    ties to the lower codeword id) — both deterministic in the batch
    alone, which is what `commit_partitioned_batch` requires."""
    coarse = assign_to_centroids(batch_df, id_col, vec_col, centroids).select(
        "nid", "cent_id"
    )
    subs = _pq_subvectors(batch_df, id_col, vec_col, m_sub, sub_dim)
    scored = subs.join(F.broadcast(codebooks), "m").select(
        "nid",
        "m",
        F.col("cent_id"),
        _pq_qd2(F.col("s"), F.col("cvec"), quant).alias("qd2"),
    )
    codes = (
        scored.groupBy("nid", "m")
        .agg(
            F.min_by(
                F.col("cent_id"), F.struct(F.col("qd2"), F.col("cent_id"))
            ).alias("code")
        )
        .groupBy("nid")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("m", "code"))),
                lambda s: s["code"].cast("int"),
            ).alias("codes")
        )
    )
    # codes is nid-keyed and coarse is nid-keyed, both dimension-of-
    # the-batch sized: a plain equi-join on the batch's own key.
    return coarse.join(codes, "nid").select("cent_id", "nid", "codes")


def ivfpq_state_build(
    corpus: DataFrame,
    centroids: DataFrame,
    codebooks: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m_sub: int = 4,
    sub_dim: int = 16,
    quant: int = _QUANT,
) -> DataFrame:
    """The batch twin: the whole corpus encoded in one pass — the
    frame any chunked streaming replay must reproduce row-for-row."""
    return ivfpq_increments(
        corpus, centroids, codebooks, id_col, vec_col, m_sub, sub_dim, quant
    )


def merge_ivfpq_batch(
    batch_df: DataFrame,
    state_path: str,
    batch_id: int,
    centroids: DataFrame,
    codebooks: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m_sub: int = 4,
    sub_dim: int = 16,
    quant: int = _QUANT,
) -> bool:
    """Encode one micro-batch against the frozen centroids+codebooks
    and commit via the shared partitioned idempotent commit (retry
    replaces its own batch; reset raises)."""
    inc = ivfpq_increments(
        batch_df, centroids, codebooks, id_col, vec_col, m_sub, sub_dim, quant
    )
    return commit_partitioned_batch(inc, state_path, batch_id)


def read_ivfpq_state(spark: SparkSession, state_path: str) -> DataFrame:
    """The committed code lists: (cent_id, nid, codes). Runs swap
    recovery first; the compaction guard sentinel (cent_id = -1) is
    excluded."""
    return read_partitioned_state(spark, state_path).select(
        F.col("cent_id").cast("bigint"), "nid", "codes"
    )


def ivfpq_probe_state(
    spark: SparkSession,
    state_path: str,
    queries: DataFrame,
    centroids: DataFrame,
    codebooks: DataFrame,
    k: int = 5,
    nprobe: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m_sub: int = 4,
    sub_dim: int = 16,
    quant: int = _QUANT,
) -> DataFrame:
    """IVF + ADC top-k from the maintained state: nprobe coarse lists
    per query (broadcast centroid scoring), partition-pruned scan of
    only those lists, per-query distance table against the frozen
    codebooks (broadcast), candidate score = integer sum of m_sub
    table lookups. Output (query_id, neighbor_id, adc_dist, rk) —
    `pq_adc_topk`'s shape with IVF pruning composed on top."""
    probes_full, probed_lists = probe_lists(
        queries, centroids, nprobe, id_col, vec_col
    )
    probes = probes_full.select("query_id", "cent_id")
    state = read_ivfpq_state(spark, state_path).where(
        F.col("cent_id").isin(probed_lists) if probed_lists else F.lit(False)
    )
    # Per-query ADC table: (query_id, m, code) -> quantized distance.
    qsubs = _pq_subvectors(queries, id_col, vec_col, m_sub, sub_dim).select(
        F.col("nid").alias("query_id"), "m", F.col("s").alias("qs")
    )
    dtab = qsubs.join(F.broadcast(codebooks), "m").select(
        "query_id", "m", F.col("cent_id").alias("code"),
        _pq_qd2(F.col("qs"), F.col("cvec"), quant).alias("qd2"),
    )
    cand_codes = (
        state.join(F.broadcast(probes), "cent_id")
        .where(F.col("nid") != F.col("query_id"))
        .select("query_id", "nid", F.posexplode("codes").alias("m", "code"))
    )
    adc = (
        cand_codes.join(F.broadcast(dtab), ["query_id", "m", "code"])
        # Two-phase sum: duplicate index rows from source-level
        # re-ships carry IDENTICAL codes, so min per (query, neighbor,
        # subspace) collapses them exactly (min of equals) before the
        # subspace sum — a plain sum would double a duplicated
        # neighbor's distance. Both aggregates combine map-side.
        .groupBy("query_id", F.col("nid").alias("neighbor_id"), F.col("m"))
        .agg(F.min("qd2").alias("qd2"))
        .groupBy("query_id", "neighbor_id")
        .agg(F.sum("qd2").alias("qadc"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("qadc"), F.col("neighbor_id")
    )
    return (
        adc.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= k)
        .select(
            "query_id",
            "neighbor_id",
            F.round(F.col("qadc") / F.lit(float(quant)), 6).alias("adc_dist"),
            "rk",
        )
    )

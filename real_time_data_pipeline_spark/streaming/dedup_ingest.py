"""Continuous corpus ingestion with incremental dedup.

The batch dedup family answers "which of these N docs duplicate each
other"; a production corpus is not static — documents arrive
continuously, and each micro-batch must be deduped against EVERYTHING
already accepted, not just its own rows. This module composes the
engine's existing primitives into that streaming pattern:

1. exact layer — md5 content hash against the accepted-hash store
   (new exact duplicates drop immediately);
2. near-dup layer — banded-LSH collision candidates against the
   accepted band-key store, exact-Jaccard verify on the stored
   shingle sets, drop if any accepted doc is within the threshold;
3. survivors merge into the corpus AND the stores, so later batches
   dedup against them.

State lives in parquet tables, not executor memory, so the pattern
scales to corpus sizes that could never fit in a streaming state
store, and a crashed job resumes from the last committed store.

**Bucketed state — the per-batch cost is O(touched buckets), never
O(corpus).** The state root holds three hash-bucketed sub-tables,
each PARTITIONED on disk by a bucket column so every probe is a
partition-pruned read and every merge is the keyed upsert's
per-partition staged swap (`upsert_parquet(partition_col=...)`, see
streaming/sinks.py):

- ``hashes/``  (content_hash, id)            bucketed by xxhash64(content_hash)
- ``bands/``   (band, band_key, id)          bucketed by xxhash64(band, band_key)
- ``docs/``    (id, content_hash, sig, shingles) bucketed by xxhash64(id)

A micro-batch computes its own content hashes / band keys / candidate
ids, collects the distinct bucket values they map to (bounded by the
batch size × bands, never the corpus), and reads ONLY those
partitions. The corpus itself is bucketed the same way and written
with the keyed idempotent upsert, so a foreachBatch retry re-elects
identical winners instead of appending duplicates.

**Crash ordering = corpus → bands → docs → hashes.** The hash store
is merged LAST and acts as the commit marker: the exact layer drops
any doc whose hash is already stored (same id ⇒ every earlier write
for it completed; different id ⇒ genuine duplicate). A crash between
the writes leaves the doc absent from ``hashes/``, so the retry
re-derives it as a survivor (the near-dup probe ignores self-matches
on id) and re-runs all four idempotent merges — no lost corpus rows,
no duplicate corpus rows, no half-registered state.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from real_time_data_pipeline_spark.operators.dedup import dedup_deterministic
from real_time_data_pipeline_spark.operators.similarity import (
    MINHASH_BAND_ROWS,
    MINHASH_NUM,
    jaccard_pairs,
    minhash_signatures,
)
from real_time_data_pipeline_spark.operators.materialize import reliable_materialize
from real_time_data_pipeline_spark.operators.text import word_shingles
from real_time_data_pipeline_spark.streaming.sinks import (
    BUCKET_COL,
    bucket_of,
    read_buckets,
    state_exists_recovered,
    touched_buckets,
    upsert_parquet,
)

# Bucket count of every state sub-table (and the corpus). 64 buckets
# keeps local test tables small; a 100 TB corpus wants O(thousands) so
# each bucket stays executor-sized — it is a parameter on every entry
# point.
DEFAULT_BUCKETS = 64


def _band_keys(sig_col: str, band_rows: int = MINHASH_BAND_ROWS, num_hashes: int = MINHASH_NUM):
    """(band, band_key) pairs exploded from a signature array column."""
    n_bands = num_hashes // band_rows
    return F.explode(
        F.transform(
            F.sequence(F.lit(0), F.lit(n_bands - 1)),
            lambda b: F.struct(
                b.alias("band"),
                F.array_join(
                    F.transform(
                        F.slice(F.col(sig_col), b * band_rows + 1, band_rows),
                        lambda v: v.cast("string"),
                    ),
                    ",",
                ).alias("key"),
            ),
        )
    )


def ingest_batch(
    batch: DataFrame,
    id_col: str,
    text_col: str,
    corpus_path: str,
    store_path: str,
    n: int = 3,
    threshold: float = 0.5,
    n_buckets: int = DEFAULT_BUCKETS,
) -> int:
    """Dedup one micro-batch against the accepted corpus; returns the
    number of documents accepted by THIS attempt (a crash-retry may
    re-accept — and re-count — a doc whose state merge was cut short;
    the corpus itself stays exactly-once because every write is a
    keyed idempotent upsert).

    Layers: within-batch keep-one (exact + near-dup, min id wins),
    then exact-hash probe against ``<store>/hashes``, then
    LSH-candidate + exact-Jaccard probe against ``<store>/bands`` +
    ``<store>/docs``. All three probes read only the bucket
    partitions the batch's own keys map to.

    Cache hygiene: the body runs inside `cache_scope`, so the tracked
    persists its operators create (jaccard_pairs' bucket frame) are
    released when the batch completes — a foreachBatch driver calling
    this once per micro-batch must not accumulate one cached RDD per
    batch for the stream's lifetime. Safe because every intermediate
    is fully materialized (reliable_materialize/write/count) before
    return.
    """
    from real_time_data_pipeline_spark.operators.materialize import cache_scope

    with cache_scope():
        return _ingest_batch_impl(
            batch, id_col, text_col, corpus_path, store_path, n, threshold,
            n_buckets,
        )


def _ingest_batch_impl(
    batch: DataFrame,
    id_col: str,
    text_col: str,
    corpus_path: str,
    store_path: str,
    n: int,
    threshold: float,
    n_buckets: int,
) -> int:
    spark = batch.sparkSession
    hashes_path = store_path.rstrip("/") + "/hashes"
    bands_path = store_path.rstrip("/") + "/bands"
    docs_path = store_path.rstrip("/") + "/docs"

    # --- within-batch dedup: exact then near-dup keep-one ------------
    batch = batch.select(F.col(id_col), F.col(text_col)).where(
        F.length(F.trim(F.col(text_col))) > 0
    )
    batch = dedup_deterministic(batch, [F.md5(F.col(text_col))], [F.col(id_col)])
    pairs = jaccard_pairs(batch, id_col, text_col, n=n, threshold=threshold)
    losers = pairs.select(F.col("id_b").alias(id_col)).distinct()
    batch = reliable_materialize(batch.join(losers, id_col, "left_anti"))

    # --- candidate state rows for the batch ---------------------------
    sigs = minhash_signatures(batch, id_col, text_col, n=n)
    new_entries = (
        batch.select(
            F.col(id_col),
            F.md5(F.col(text_col)).alias("content_hash"),
            F.array_distinct(word_shingles(text_col, n)).alias("shingles"),
        )
        .join(sigs, id_col)
    )
    new_entries = reliable_materialize(new_entries)

    # --- exact layer: bucket-pruned hash probe ------------------------
    survivors = new_entries
    if state_exists_recovered(spark, hashes_path):
        probe_hashes = new_entries.select(
            "content_hash",
            bucket_of("content_hash", n_buckets=n_buckets).alias(BUCKET_COL),
        )
        stored_hashes = read_buckets(spark, hashes_path, touched_buckets(probe_hashes))
        # Same id ⇒ fully committed re-delivery; different id ⇒ dup of
        # an accepted doc. Either way the doc is not new — drop it.
        survivors = survivors.join(
            stored_hashes.select("content_hash").distinct(), "content_hash", "left_anti"
        )

    # --- near-dup layer: bucket-pruned band probe + Jaccard verify ----
    if state_exists_recovered(spark, bands_path):
        cand_new = survivors.select(F.col(id_col), _band_keys("sig").alias("bk")).select(
            id_col,
            F.col("bk.band").alias("band"),
            F.col("bk.key").alias("band_key"),
            bucket_of(F.col("bk.band"), F.col("bk.key"), n_buckets=n_buckets).alias(
                BUCKET_COL
            ),
        )
        cand_new = reliable_materialize(cand_new)
        stored_bands = read_buckets(spark, bands_path, touched_buckets(cand_new))
        # The micro-batch side is small -> broadcast it; the store side
        # is already partition-pruned to the colliding buckets.
        collisions = (
            stored_bands.withColumnRenamed(id_col, "__old_id")
            .join(F.broadcast(cand_new.drop(BUCKET_COL)), ["band", "band_key"])
            .where(F.col("__old_id") != F.col(id_col))  # retries self-collide
            .select(id_col, "__old_id")
            .distinct()
        )
        collisions = reliable_materialize(collisions)
        old_ids = collisions.select(
            F.col("__old_id"),
            bucket_of("__old_id", n_buckets=n_buckets).alias(BUCKET_COL),
        )
        old_shingles = (
            read_buckets(spark, docs_path, touched_buckets(old_ids))
            .select(F.col(id_col).alias("__old_id"), F.col("shingles").alias("__old_shs"))
            .join(F.broadcast(collisions.select("__old_id").distinct()), "__old_id")
        )
        probe = (
            collisions.join(old_shingles, "__old_id")
            .join(F.broadcast(new_entries.select(id_col, "shingles")), id_col)
        )
        inter = F.size(F.array_intersect(F.col("shingles"), F.col("__old_shs")))
        union = F.size("shingles") + F.size("__old_shs") - inter
        near = probe.where((inter / union) >= threshold).select(id_col).distinct()
        survivors = survivors.join(near, id_col, "left_anti")

    survivors = reliable_materialize(survivors)
    n_new = survivors.count()
    if n_new:
        # Idempotent, partition-scoped writes in commit order (see
        # module docstring): corpus first, hash store LAST.
        accepted = (
            batch.join(F.broadcast(survivors.select(id_col)), id_col)
            .withColumn(BUCKET_COL, bucket_of(id_col, n_buckets=n_buckets))
        )
        upsert_parquet(accepted, corpus_path, keys=[id_col], partition_col=BUCKET_COL)
        band_rows = survivors.select(F.col(id_col), _band_keys("sig").alias("bk")).select(
            id_col,
            F.col("bk.band").alias("band"),
            F.col("bk.key").alias("band_key"),
            bucket_of(F.col("bk.band"), F.col("bk.key"), n_buckets=n_buckets).alias(
                BUCKET_COL
            ),
        )
        upsert_parquet(
            band_rows, bands_path, keys=[id_col, "band"], partition_col=BUCKET_COL
        )
        doc_rows = survivors.withColumn(
            BUCKET_COL, bucket_of(id_col, n_buckets=n_buckets)
        )
        upsert_parquet(doc_rows, docs_path, keys=[id_col], partition_col=BUCKET_COL)
        hash_rows = survivors.select(
            "content_hash",
            F.col(id_col),
            bucket_of("content_hash", n_buckets=n_buckets).alias(BUCKET_COL),
        )
        upsert_parquet(
            hash_rows, hashes_path, keys=["content_hash"], partition_col=BUCKET_COL
        )
    return n_new

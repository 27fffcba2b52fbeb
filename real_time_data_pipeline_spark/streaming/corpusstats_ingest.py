"""Incremental corpus term-statistics maintenance over a document
stream — the lexical-index counterpart of the vector-index twins.

The batch BM25 query (`queries/text.py::q_bm25_ranking`) derives its
document frequencies and corpus scalars (n_docs, avgdl) from the
whole corpus on every run; a production retrieval stack keeps those
statistics MAINTAINED as documents arrive, because IDF drifts as the
corpus grows and re-scanning 100 TB per ranking refresh is not a
plan. This tenth twin maintains exactly the statistics BM25 needs —
per-term (df, tf) plus the corpus scalars — in a term-hash-bucketed
partitioned state, and `bm25_probe_state` serves the same ranking the
batch query computes, from the maintained statistics.

Merge algebra: PURE ADDITION — the simplest of the twin family's
algebras (linear, like Count-Min), which makes chunked-replay parity
EXACT-INTEGER, not approximate: each document contributes its
per-term tf and a df of 1 for each term it contains to exactly one
micro-batch, and addition is associative/commutative, so any chunking
of a corpus with unique doc ids sums to the one-shot statistics.
(A document re-shipped under a NEW batch id double-counts — corpus
dedup is `dedup_ingest`'s job upstream, the same precondition the IVF
twins document for re-shipped vectors.)

Exactly-once is STRUCTURAL, reusing the index twins' mechanism
(`sinks.commit_partitioned_batch`, key_col="bkt"): a batch's
increment rows are a pure deterministic function of the batch, the
state is laid out src_batch-first (``src_batch=<b>/bkt=<k>/``), and
a foreachBatch retry swaps its own batch directory in again with
identical rows — additive
state is NOT naturally idempotent under re-merge, so the per-batch
DELTA layout (sum at read time) is what makes the retry safe without
a read-modify-write of existing state. The shared checkpoint-reset
guard raises on a batch id below the committed max (read from
partition directory names, never a data scan).

State grain: VOCABULARY, never events — per-batch cost is the batch's
distinct-term count, state size is corpus vocabulary (Heaps' law:
sublinear in tokens), bucketed over ``n_buckets`` partitions so a
100 TB corpus's vocabulary spreads instead of hot-spotting. Corpus
scalars ride in the same table under one reserved bucket
(``bkt = n_buckets``, term NULL), so a batch commit is ONE write.

Compaction (`compact_corpus_stats`) is the ADDITIVE fold: unlike the
row-preserving index compaction, it sums the deltas per (bkt, term)
into one row each under src_batch = -1 — state returns to exactly
vocabulary size — while the usual sentinel row (bkt = -1,
src_batch = old max) preserves the reset guard, all through the
crash-safe staged-rename swap.

Parity contract (tests/test_streaming.py + hypothesis property):
replaying the documents table through `merge_corpus_stats_batch` in
ANY chunking, with newest-batch redeliveries, leaves
`read_term_stats` / `read_corpus_scalars` cell-identical to the
one-shot `corpus_stats_build`; `bm25_probe_state` over the
maintained statistics reproduces the oracle-checked
`text_bm25_ranking` registry query row-for-row; and
`hybrid_rrf_probe_state` reproduces the `retrieval_hybrid_rrf`
fusion row-for-row with the lexical statistics served from state.
Both probes and both batch queries share ONE scoring/fusion
composition (`operators.text.bm25_scored` +
`queries.text.rrf_fused` — the fold this module's r11 docstring
promised, landed r12), so parity holds by construction of everything
except the statistics source.

Reference scope note: the reference pipeline
(`src/jobs/spark_streaming_job.py`, 440 lines of Kafka->parquet glue)
has no text-statistics surface; this twin is north-star scope,
twinned with the engine's own batch BM25/IDF family.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from real_time_data_pipeline_spark.streaming.sinks import (
    commit_partitioned_batch,
    compact_partitioned_state,
    read_partitioned_state,
)

DEFAULT_TERM_BUCKETS = 64  # local-test size; a 100 TB corpus wants O(thousands)


def _scalars_bucket(n_buckets: int) -> int:
    """The reserved bucket for the corpus-scalar row: one past the
    term-hash range [0, n_buckets), so it can never collide with a
    term row and stays non-negative (negative keys belong to the
    compaction sentinel)."""
    return n_buckets


def corpus_stats_increments(
    batch_df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = DEFAULT_TERM_BUCKETS,
) -> DataFrame:
    """One batch's statistics delta: (bkt, term, df, tf).

    Term rows carry the batch's per-term document frequency and total
    term frequency; ONE scalar row (bkt = n_buckets, term NULL)
    carries (df = document count, tf = token count). Documents with
    empty/whitespace text are excluded — the same filter the batch
    BM25 query applies, so maintained n_docs/avgdl match it exactly.

    Pure deterministic function of the batch (exact integer counts,
    frozen tokenizer), which is what the structural exactly-once
    commit requires. The one-shot build over the full corpus IS this
    function (`corpus_stats_build`), making chunked-replay parity
    exact.
    """
    from real_time_data_pipeline_spark.operators.similarity import _fan_out
    from real_time_data_pipeline_spark.operators.text import token_count_ws, words

    docs = batch_df.select(
        F.col(id_col).alias("__id"), F.col(text_col).alias("__text")
    ).where(F.length(F.trim("__text")) > 0)
    tok = _fan_out(docs, "__id").select(
        "__id", F.explode(words("__text")).alias("term")
    )
    term_rows = (
        tok.groupBy("term")
        .agg(
            F.count_distinct(F.col("__id")).alias("df"),
            F.count(F.lit(1)).alias("tf"),
        )
        .select(
            F.pmod(F.xxhash64("term"), F.lit(n_buckets)).cast("bigint").alias("bkt"),
            "term",
            F.col("df").cast("bigint"),
            F.col("tf").cast("bigint"),
        )
    )
    scalar_row = docs.agg(
        F.lit(_scalars_bucket(n_buckets)).cast("bigint").alias("bkt"),
        F.lit(None).cast("string").alias("term"),
        F.count(F.lit(1)).cast("bigint").alias("df"),
        F.coalesce(F.sum(token_count_ws("__text")), F.lit(0)).cast("bigint").alias("tf"),
    )
    return term_rows.unionByName(scalar_row)


def corpus_stats_build(
    corpus: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = DEFAULT_TERM_BUCKETS,
) -> DataFrame:
    """The batch twin: whole-corpus statistics in one pass — the frame
    any chunked streaming replay must sum to."""
    return corpus_stats_increments(corpus, id_col, text_col, n_buckets)


def merge_corpus_stats_batch(
    batch_df: DataFrame,
    state_path: str,
    batch_id: int,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = DEFAULT_TERM_BUCKETS,
) -> bool:
    """Commit one micro-batch's statistics delta as its
    src_batch=batch_id directory (one bkt partition per touched
    bucket) via the shared structural-idempotency commit: a retry
    REPLACES its own batch with
    byte-identical rows; a checkpoint reset fails loudly.

    The retry window that is FATAL for additive state — a same-id
    redelivery arriving after compaction folded the batch's delta
    partitions into src_batch = -1, where a rewrite would ADD the
    batch on top of the fold that already contains it — is guarded
    inside `sinks.commit_partitioned_batch` itself since r12
    (ADVICE r11 #1 moved this module's original guard into the shared
    commit so the row-preserving index twins get it too)."""
    inc = corpus_stats_increments(batch_df, id_col, text_col, n_buckets)
    return commit_partitioned_batch(inc, state_path, batch_id, key_col="bkt")


def read_term_stats(spark: SparkSession, state_path: str) -> DataFrame:
    """The maintained per-term statistics: (term, df, tf), deltas
    summed at read time (one row per term after compaction; one per
    (term, touched batch) before — the sum is the same)."""
    return (
        read_partitioned_state(spark, state_path, key_col="bkt")
        .where(F.col("term").isNotNull())
        .groupBy("term")
        .agg(F.sum("df").alias("df"), F.sum("tf").alias("tf"))
    )


def read_corpus_scalars(spark: SparkSession, state_path: str) -> DataFrame:
    """The maintained corpus scalars: ONE row (n_docs, n_tokens,
    avgdl). avgdl = n_tokens / n_docs is exactly the batch query's
    avg(dl) (Spark's avg divides the same sum by the same count);
    NULL — like avg over zero rows — when the corpus holds no
    non-blank document yet (ANSI guard on the data-dependent
    denominator)."""
    return (
        read_partitioned_state(spark, state_path, key_col="bkt")
        .where(F.col("term").isNull())
        .agg(
            F.sum("df").alias("n_docs"),
            F.sum("tf").alias("n_tokens"),
        )
        .select(
            "n_docs",
            "n_tokens",
            F.when(
                F.col("n_docs") > 0,
                F.col("n_tokens").cast("double") / F.col("n_docs"),
            ).alias("avgdl"),
        )
    )


def compact_corpus_stats(spark: SparkSession, state_path: str) -> None:
    """Maintenance-window compaction, ADDITIVE form (stream PAUSED
    with its final batch committed): the shared sentinel-preserving
    crash-safe compaction with this twin's merge algebra passed as
    the fold — sum every per-batch delta into one row per (bkt, term)
    (the scalar rows fold the same way: same bkt, NULL term), so the
    state returns to exactly vocabulary size."""
    compact_partitioned_state(
        spark,
        state_path,
        key_col="bkt",
        fold=lambda live: live.groupBy("bkt", "term").agg(
            F.sum("df").alias("df"), F.sum("tf").alias("tf")
        ),
    )


def _term_buckets(
    spark: SparkSession, terms: "tuple[str, ...]", n_buckets: int
) -> "list[int]":
    """The state buckets the given terms hash into — ONE driver-side
    row over literals (bounded by |terms|, no table scan), so probe
    reads can partition-prune to exactly those buckets."""
    row = (
        spark.range(1)
        .select(
            *[
                F.pmod(F.xxhash64(F.lit(t)), F.lit(n_buckets))
                .cast("bigint")
                .alias(f"b{i}")
                for i, t in enumerate(terms)
            ]
        )
        .collect()[0]
    )
    return sorted({int(v) for v in row})


def bm25_probe_state(
    spark: SparkSession,
    state_path: str,
    corpus: DataFrame,
    query_terms: "tuple[str, ...]",
    k: int = 20,
    k1: float = 1.2,
    b: float = 0.75,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = DEFAULT_TERM_BUCKETS,
) -> DataFrame:
    """BM25 top-k served FROM the maintained statistics: candidate
    documents' term frequencies and lengths come from ``corpus`` (the
    accepted documents — per-doc tf is document-local, not state),
    while df / n_docs / avgdl come from the state. The scoring
    composition IS `operators.text.bm25_scored` — the same single
    copy `queries/text.py::q_bm25_ranking` calls (the fold this
    module promised in r11; same tokenizer, filter, k1/b constants,
    rounding, tie order) — so replaying a corpus into the state and
    probing it reproduces the oracle-checked registry ranking by
    construction of everything except the statistics source.

    Scale shape: term filter BEFORE the tf aggregation; the state scan
    partition-prunes to the |query_terms| buckets the terms hash into
    plus the scalar bucket (`_term_buckets` — this pruning is what the
    bkt partitioning exists for, mirroring `ivf_probe_state`'s probed-
    list pruning, and is plan-audited in tests/test_plans.py);
    statistics enter as broadcast joins (df rows = |query_terms|,
    scalars = 1 row); the final top-k is a per-partition heap
    (TakeOrderedAndProject) then a window over only the k survivors.
    ``n_buckets`` must match the value the state was written with.
    """
    scored = bm25_scored_from_state(
        spark, state_path, corpus, query_terms,
        k1=k1, b=b, id_col=id_col, text_col=text_col, n_buckets=n_buckets,
    )
    order = [F.desc("bm25"), F.asc("doc_id")]
    top = scored.orderBy(*order).limit(k)
    return (
        top.withColumn("rk", F.row_number().over(Window.orderBy(*order)))
        .select("doc_id", "bm25", "rk")
    )


def bm25_scored_from_state(
    spark: SparkSession,
    state_path: str,
    corpus: DataFrame,
    query_terms: "tuple[str, ...]",
    k1: float = 1.2,
    b: float = 0.75,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = DEFAULT_TERM_BUCKETS,
) -> DataFrame:
    """(doc_id, bm25) with df / n_docs / avgdl from the MAINTAINED
    statistics — the scored frame `bm25_probe_state` tops and
    `hybrid_rrf_probe_state` fuses. Identical to the batch query's
    `_bm25_corpus_scored` in everything but the statistics source
    (both call the one `operators.text.bm25_scored` composition)."""
    if not query_terms:
        # Contract error, raised plainly (ADVICE r11 #2): zero-arg
        # isin() and an empty _term_buckets projection both fail with
        # obscure internal exceptions otherwise.
        raise ValueError("query_terms must be non-empty")
    from real_time_data_pipeline_spark.operators.similarity import _fan_out
    from real_time_data_pipeline_spark.operators.text import (
        bm25_scored,
        token_count_ws,
        words,
    )

    docs = corpus.select(
        F.col(id_col).alias("doc_id"), F.col(text_col).alias("__text")
    ).where(F.length(F.trim("__text")) > 0)
    d = docs.select("doc_id", token_count_ws("__text").alias("dl"))
    tf = (
        _fan_out(docs, "doc_id")
        .select("doc_id", F.explode(words("__text")).alias("term"))
        .where(F.col("term").isin(*query_terms))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    pruned = read_partitioned_state(spark, state_path, key_col="bkt").where(
        F.col("bkt").isin(
            [*_term_buckets(spark, query_terms, n_buckets),
             _scalars_bucket(n_buckets)]
        )
    )
    dfreq = (
        pruned.where(F.col("term").isin(*query_terms))
        .groupBy("term")
        .agg(F.sum("df").alias("df"))
    )
    stats = (
        pruned.where(F.col("term").isNull())
        .agg(F.sum("df").alias("n_docs"), F.sum("tf").alias("n_tokens"))
        .select(
            "n_docs",
            F.when(
                F.col("n_docs") > 0,
                F.col("n_tokens").cast("double") / F.col("n_docs"),
            ).alias("avgdl"),
        )
    )
    return bm25_scored(tf, d, dfreq, stats, k1=k1, b=b, term_col="term")


def hybrid_rrf_probe_state(
    spark: SparkSession,
    state_path: str,
    corpus: DataFrame,
    embeddings: DataFrame,
    query_terms: "tuple[str, ...]",
    k1: float = 1.2,
    b: float = 0.75,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = DEFAULT_TERM_BUCKETS,
) -> DataFrame:
    """Hybrid reciprocal-rank fusion served with the LEXICAL side's
    statistics from the maintained state: the twin of the
    `retrieval_hybrid_rrf` registry query, reproducing it row-for-row
    when the state was built from ``corpus`` (the fusion composition
    is the shared `queries.text.rrf_fused`; the dense side stays the
    exact-cosine ranking over ``embeddings`` — the IVF twins'
    quantized probes trade exactly that rank-exactness for footprint,
    so a maintained-dense variant composes `ivf_probe_state` instead
    and is recall-checked, not row-pinned).

    Scale shape: identical to the registry query except the df/avgdl
    lookups are partition-pruned state reads instead of corpus
    aggregates — the probe never rescans the corpus for statistics.
    """
    from real_time_data_pipeline_spark.queries.text import rrf_fused

    return rrf_fused(
        bm25_scored_from_state(
            spark, state_path, corpus, query_terms,
            k1=k1, b=b, id_col=id_col, text_col=text_col,
            n_buckets=n_buckets,
        ),
        embeddings,
    )


def hybrid_rrf_probe_ivf(
    spark: SparkSession,
    stats_path: str,
    ivf_state_path: str,
    corpus: DataFrame,
    queries_df: DataFrame,
    centroids: DataFrame,
    query_terms: "tuple[str, ...]",
    nprobe: int = 3,
    k1: float = 1.2,
    b: float = 0.75,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = DEFAULT_TERM_BUCKETS,
) -> DataFrame:
    """Hybrid RRF with BOTH sides served from maintained state: the
    lexical ranks from the corpus-stats state, the dense ranks from
    the IVF twin's partition-pruned quantized probe
    (`ivf_ingest.ivf_probe_state`) — the full production shape, where
    neither retriever rescans its corpus.

    This variant is RECALL-CHECKED against the exact fusion, not
    row-pinned: quantized IVF cosine ranks can differ from exact
    ranks (that footprint-for-exactness trade is the IVF tier's
    reason to exist), so the right contract is overlap@k against
    `hybrid_rrf_probe_state`/`retrieval_hybrid_rrf`, asserted in
    tests with the measured bound. The fusion itself is the shared
    `rrf_fuse_ranked`, so only the dense list's CONTENT differs.

    ``queries_df`` must contain the single query vector row (vec_id =
    the fixed fusion query); the probe's depth comes from
    `queries.text.RRF_DEPTH` so the two variants fuse equally-deep
    lists.
    """
    from real_time_data_pipeline_spark.queries.text import (
        RRF_DEPTH,
        rrf_fuse_ranked,
        rrf_lex_ranked,
    )
    from real_time_data_pipeline_spark.streaming.ivf_ingest import (
        ivf_probe_state,
    )

    lex = rrf_lex_ranked(
        bm25_scored_from_state(
            spark, stats_path, corpus, query_terms,
            k1=k1, b=b, id_col=id_col, text_col=text_col,
            n_buckets=n_buckets,
        )
    )
    dense = ivf_probe_state(
        spark, ivf_state_path, queries_df, centroids,
        k=RRF_DEPTH, nprobe=nprobe,
    ).select(
        F.col("neighbor_id").alias("doc_id"),
        F.col("rk").cast("long").alias("vec_rank"),
    )
    return rrf_fuse_ranked(lex, dense)

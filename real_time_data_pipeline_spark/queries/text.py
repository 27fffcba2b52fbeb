"""Text-analysis queries over the `documents` table.

Each query pairs a column-expression operator from operators/text.py
with a DuckDB oracle. Several oracles are generated from the same
Python constants (stopword lists) that drive the Spark expressions, so
the two sides can never drift.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from real_time_data_pipeline_spark.operators.materialize import (
    persist_tracked,
    reliable_materialize,
)
from real_time_data_pipeline_spark.operators.text import (
    LANG_STOPWORDS,
    hash60,
    lang_id,
    lang_scores,
    quality_features,
    token_count_bpe_ish,
    token_count_ws,
    word_shingles,
    words,
)
from real_time_data_pipeline_spark.queries.registry import query
from real_time_data_pipeline_spark.sources.tables import load_table


def _sql_hits(lang: str) -> str:
    """DuckDB expression: stopword hit count for one language."""
    return " + ".join(
        f"len(regexp_extract_all(lower(text), '\\b{w}\\b'))" for w in LANG_STOPWORDS[lang]
    )


def _sql_stop_ratio() -> str:
    """DuckDB expression: English stopword share of the tokens in ``w``.

    Hits are capped at the token count, as in ``quality_features``: a
    whitespace token such as ``a:a`` holds two stopword runs."""
    return f"round(least({_sql_hits('en')}, len(w)) / greatest(len(w), 1.0), 6)"


@query(
    "text_token_counts",
    oracle="""
    SELECT
      doc_id,
      n_chars,
      CAST(length(text) AS BIGINT) AS n_chars_actual,
      CAST(CASE WHEN length(trim(text)) = 0 THEN 0
           ELSE len(string_split_regex(trim(text), '\\s+')) END AS BIGINT) AS n_ws_tokens,
      CAST(len(regexp_extract_all(text, '[A-Za-z0-9]+|[^A-Za-z0-9\\s]')) AS BIGINT)
        AS n_bpe_tokens
    FROM documents
    """,
)
def q_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting: whitespace and BPE-ish pre-tokenization.

    Pure regexp intrinsics — a 100 TB corpus tokenizes inside
    whole-stage codegen with zero Python.
    """
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        "n_chars",
        F.length("text").cast("long").alias("n_chars_actual"),
        token_count_ws("text").alias("n_ws_tokens"),
        token_count_bpe_ish("text").alias("n_bpe_tokens"),
    )


_COMPOSITION_ORACLE = """
    WITH per AS (
      SELECT lang, source, count(*) AS n_docs,
             CAST(sum(CASE WHEN length(trim(text)) = 0 THEN 0
                  ELSE len(string_split_regex(trim(text), '\\s+')) END) AS BIGINT)
               AS n_tokens
      FROM documents GROUP BY 1, 2
    )
    SELECT lang, source, n_docs, n_tokens,
           round(n_tokens * 1.0 / sum(n_tokens) OVER (), 6) AS token_share
    FROM per
"""


@query("corpus_composition", oracle=_COMPOSITION_ORACLE)
def q_corpus_composition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus composition report: docs, tokens, and token share per
    (language x source) cell — the mixture table every training-data
    pipeline publishes before sampling weights are chosen. One partial
    aggregate over the corpus; the share is a window over the tiny
    aggregated cell set, not a second corpus pass."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    per = docs.groupBy("lang", "source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(token_count_ws("text")).cast("long").alias("n_tokens"),
    )
    share = F.round(
        F.col("n_tokens") / F.sum("n_tokens").over(Window.partitionBy()), 6
    )
    return per.withColumn("token_share", share)


_QUALITY_ORACLE = f"""
    WITH base AS (
      SELECT doc_id, text,
             CASE WHEN length(trim(text)) = 0 THEN []::VARCHAR[]
                  ELSE string_split_regex(trim(text), '\\s+') END AS w
      FROM documents
    )
    SELECT
      doc_id,
      CAST(length(text) AS BIGINT) AS n_chars,
      CAST(len(w) AS BIGINT) AS n_tokens,
      round(list_sum(list_transform(w, x -> CAST(length(x) AS BIGINT)))
            / greatest(len(w), 1), 6) AS avg_token_len,
      round(len(regexp_extract_all(text, '[.,!?;:]')) / greatest(length(text), 1.0), 6)
        AS punct_ratio,
      round(len(regexp_extract_all(text, '[0-9]')) / greatest(length(text), 1.0), 6)
        AS digit_ratio,
      round(len(regexp_extract_all(text, '[A-Z]')) / greatest(length(text), 1.0), 6)
        AS upper_ratio,
      {_sql_stop_ratio()} AS stopword_ratio
    FROM base
"""


@query("text_quality_scores", oracle=_QUALITY_ORACLE)
def q_quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic quality features: the cheap pre-filters every training
    corpus runs before model-based scoring."""
    docs = load_table(spark, sf_dir, "documents")
    feats = quality_features("text")
    return docs.select("doc_id", *[expr.alias(name) for name, expr in feats.items()])


_LANGS = list(LANG_STOPWORDS)
_LANG_ID_ORACLE = (
    """
    WITH scored AS (
      SELECT doc_id, lang,
    """
    + ",\n".join(f"         CAST({_sql_hits(lg)} AS BIGINT) AS hits_{lg}" for lg in _LANGS)
    + f"""
      FROM documents
    ), best AS (
      SELECT *, greatest({", ".join("hits_" + lg for lg in _LANGS)}) AS mx FROM scored
    )
    SELECT doc_id, lang AS lang_declared,
      CASE
    """
    + "\n".join(f"    WHEN mx > 0 AND hits_{lg} = mx THEN '{lg}'" for lg in _LANGS)
    + """
        ELSE 'und' END AS lang_pred,
      CAST(mx AS BIGINT) AS evidence
    FROM best
    """
)


@query("text_lang_id", oracle=_LANG_ID_ORACLE)
def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language ID by stopword-evidence argmax (deterministic
    tie-break), alongside the declared lang column."""
    docs = load_table(spark, sf_dir, "documents")
    scores = lang_scores("text")
    return docs.select(
        "doc_id",
        F.col("lang").alias("lang_declared"),
        lang_id("text").alias("lang_pred"),
        F.greatest(*[scores[lg] for lg in _LANGS]).alias("evidence"),
    )


@query(
    "text_fingerprint",
    oracle="""
    SELECT
      doc_id,
      md5(text) AS content_md5,
      CAST(('0x' || substr(md5(text), 1, 15)) AS BIGINT) AS fp60,
      md5(lower(regexp_replace(trim(text), '\\s+', ' ', 'g'))) AS normalized_md5
    FROM documents
    """,
)
def q_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprinting: raw + whitespace/case-normalized
    content hashes, and a 60-bit integer fingerprint for compact
    join keys."""
    docs = load_table(spark, sf_dir, "documents")
    normalized = F.lower(F.regexp_replace(F.trim(F.col("text")), r"\s+", " "))
    return docs.select(
        "doc_id",
        F.md5(F.col("text")).alias("content_md5"),
        hash60("text").alias("fp60"),
        F.md5(normalized).alias("normalized_md5"),
    )


@query(
    "text_top_ngrams",
    oracle="""
    WITH words AS (
      SELECT doc_id, string_split_regex(trim(text), '\\s+') AS w
      FROM documents WHERE length(trim(text)) > 0
    ), idx AS (
      SELECT doc_id, w, unnest(range(1, greatest(len(w) - 1, 1))) AS i FROM words
    )
    SELECT array_to_string(w[i:i+2], ' ') AS ngram, count(*) AS n
    FROM idx
    GROUP BY 1
    HAVING count(*) >= 3
    """,
)
def q_top_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide frequent word-3-grams (explode → count → having).

    The n-gram array is built per-row with sequence/transform (no
    UDF); the explode feeds a two-phase count, so the shuffle carries
    one row per distinct n-gram per task — corpus-size independent.
    """
    docs = load_table(spark, sf_dir, "documents")
    par = spark.sparkContext.defaultParallelism
    return (
        docs.repartition(par)
        .select(F.explode(word_shingles("text", 3)).alias("ngram"))
        .groupBy("ngram")
        .agg(F.count(F.lit(1)).alias("n"))
        .where(F.col("n") >= 3)
    )


@query(
    "multimodal_binary_stats",
    oracle="""
    SELECT
      doc_id,
      CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
      md5(text) AS content_md5,
      substr(md5(text), 1, 8) AS magic
    FROM documents
    """,
)
def q_binary_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Opaque-binary column plumbing (multimodal pattern): payload byte
    length + content hash + header prefix, all on a `binary` column.

    Real image/audio payloads would flow through the same schema; the
    decode/feature stage lives in operators/multimodal.py as an
    Arrow-batched mapInPandas (stubbed deterministically — codec libs
    are not in this container)."""
    docs = load_table(spark, sf_dir, "documents")
    payload = F.encode(F.col("text"), "UTF-8")
    return docs.select(
        "doc_id",
        F.length(payload).cast("long").alias("n_bytes"),
        F.md5(F.col("text")).alias("content_md5"),
        F.substring(F.md5(F.col("text")), 1, 8).alias("magic"),
    )


# --------------------------------------------------------------------------
# Training-data preparation: deterministic splits, chunking, redaction
# --------------------------------------------------------------------------

from real_time_data_pipeline_spark.operators.sampling import (  # noqa: E402
    hash_split,
    sql_hash_bucket,
)
from real_time_data_pipeline_spark.operators.text import (  # noqa: E402
    REDACT_PATTERNS,
    chunk_documents,
    redact,
    redaction_counts,
)

_SPLIT_BUCKET = sql_hash_bucket("doc_id", "split", 100)

_SPLIT_ORACLE = f"""
    SELECT split, lang, count(*) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS sum_chars
    FROM (
      SELECT lang, n_chars,
             CASE WHEN {_SPLIT_BUCKET} < 80 THEN 'train'
                  WHEN {_SPLIT_BUCKET} < 90 THEN 'val'
                  ELSE 'test' END AS split
      FROM documents
    )
    GROUP BY split, lang
"""


@query("data_hash_split", oracle=_SPLIT_ORACLE)
def q_hash_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 80/10/10 train/val/test assignment by
    md5(doc_id) bucket, summarized per split × language.

    The split is a pure column expression (no shuffle, no RNG): new
    documents never move old ones between splits, and any engine with
    md5 reproduces the assignment bit-for-bit — the property that
    keeps eval sets uncontaminated across dataset versions.
    """
    docs = load_table(spark, sf_dir, "documents")
    return (
        hash_split(docs, "doc_id", salt="split", train=80, val=10)
        .groupBy("split", "lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").cast("long").alias("sum_chars"),
        )
    )


_CHUNK_ORACLE = """
    WITH ex AS (
      SELECT doc_id, text,
             unnest(range(0, CAST(floor((length(text) - 1) / 150) AS BIGINT) + 1))
               AS chunk_idx
      FROM documents WHERE length(text) > 0
    )
    SELECT doc_id,
           CAST(chunk_idx AS INTEGER) AS chunk_idx,
           substring(md5(substring(text, CAST(chunk_idx * 150 + 1 AS INTEGER), 200)), 1, 8)
             AS chunk_md5,
           CAST(length(substring(text, CAST(chunk_idx * 150 + 1 AS INTEGER), 200)) AS BIGINT)
             AS chunk_len
    FROM ex
"""


@query("doc_chunking", oracle=_CHUNK_ORACLE)
def q_doc_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping 200-char / 150-stride chunking of every document
    (context-window prep). Checked by per-chunk md5 so the oracle
    verifies chunk CONTENT, not just counts."""
    docs = load_table(spark, sf_dir, "documents")
    chunks = chunk_documents(docs, "doc_id", "text", size=200, stride=150)
    return chunks.select(
        "doc_id",
        "chunk_idx",
        F.substring(F.md5("chunk_text"), 1, 8).alias("chunk_md5"),
        "chunk_len",
    )


_EMAIL_PAT = REDACT_PATTERNS["email"]
_NUM_PAT = REDACT_PATTERNS["long_number"]

_REDACT_ORACLE = f"""
    WITH aug AS (
      SELECT doc_id,
             text || ' contact user' || CAST(doc_id AS VARCHAR)
                  || '@example.com ref ' || CAST(doc_id * 7919 + 100000 AS VARCHAR) AS t
      FROM documents
    ), red AS (
      SELECT doc_id, t,
             regexp_replace(
               regexp_replace(t, '{_EMAIL_PAT}', '[REDACTED]', 'g'),
               '{_NUM_PAT}', '[REDACTED]', 'g') AS r
      FROM aug
    )
    SELECT doc_id,
           CAST(len(regexp_extract_all(t, '{_EMAIL_PAT}')) AS BIGINT) AS n_email,
           CAST(len(regexp_extract_all(t, '{_NUM_PAT}')) AS BIGINT) AS n_long_number,
           CAST(length(r) AS BIGINT) AS redacted_len,
           substring(md5(r), 1, 8) AS redacted_md5
    FROM red
"""


@query("text_redact_pii", oracle=_REDACT_ORACLE)
def q_redact_pii(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction (emails, long digit runs) with per-pattern audit
    counts. Documents are augmented with a synthetic email + reference
    number derived from doc_id (identically in the oracle) so the
    patterns actually fire; redacted content is md5-verified.

    Pure regexp_replace/regexp_count — whole-stage codegen, no Python
    on the 100 TB path. Patterns use the portable regex subset that
    behaves identically under Java regex and RE2.
    """
    docs = load_table(spark, sf_dir, "documents")
    aug = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com ref "),
            (F.col("doc_id") * 7919 + 100000).cast("string"),
        ).alias("t"),
    )
    counts = redaction_counts("t")
    red = redact("t")
    return aug.select(
        "doc_id",
        counts["n_email"].alias("n_email"),
        counts["n_long_number"].alias("n_long_number"),
        F.length(red).cast("long").alias("redacted_len"),
        F.substring(F.md5(red), 1, 8).alias("redacted_md5"),
    )


_MM_FEATURE_ORACLE = """
    SELECT doc_id AS media_id, 'text/plain' AS mime,
           CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
           list_aggregate(
             list_transform(range(8),
               i -> substr(md5(text), CAST(i * 2 + 1 AS INTEGER), 2)),
             'string_agg', ',') AS feature_bytes
    FROM documents
"""


@query("multimodal_feature_extract", oracle=_MM_FEATURE_ORACLE)
def q_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full multimodal decode path — binary payload → Arrow batch
    → Python decode → declared-schema features — value-checked end to
    end: the deterministic-fake decoder derives features from the
    payload md5, which the oracle replays in pure SQL.

    This is the one Python-UDF stage in the registry, and exactly the
    shape a real image/audio decoder drops into: only `decode_stub`'s
    body changes, never the plumbing (schema, batching, partition
    flow). Features re-quantize to their source bytes (hex, to dodge
    float32-vs-double hashing) for the comparison.
    """
    from real_time_data_pipeline_spark.operators.multimodal import (
        documents_as_media,
        extract_features,
    )

    docs = load_table(spark, sf_dir, "documents")
    feats = extract_features(documents_as_media(docs), deterministic_fake=True)
    byte_hex = F.transform(
        F.col("feature"),
        lambda x: F.lower(F.lpad(F.hex(F.round(x * 255).cast("int")), 2, "0")),
    )
    return feats.select(
        "media_id",
        "mime",
        "n_bytes",
        F.array_join(byte_hex, ",").alias("feature_bytes"),
    )


# --------------------------------------------------------------------------
# Corpus hygiene: decontamination, repetition, packing
# --------------------------------------------------------------------------

_CONTAM_ORACLE = """
    WITH words AS (
      SELECT doc_id, string_split_regex(trim(text), '\\s+') AS w
      FROM documents WHERE length(trim(text)) > 0
    ), grams AS (
      SELECT DISTINCT doc_id,
             array_to_string(w[i:i+4], ' ') AS g
      FROM words, unnest(range(1, greatest(len(w) - 4, 0) + 1)) AS t(i)
      WHERE len(w) >= 5
    ), bench AS (
      SELECT DISTINCT g FROM grams WHERE doc_id < 20
    ), hits AS (
      SELECT DISTINCT gr.doc_id
      FROM grams gr JOIN bench b ON gr.g = b.g
      WHERE gr.doc_id >= 20
    )
    SELECT count(*) AS n_contaminated FROM hits
    """


@query("contamination_check", oracle=_CONTAM_ORACLE)
def q_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: corpus documents sharing any word
    5-gram with the benchmark set (docs 0–19 as stand-in) are flagged.

    Plan at scale: the benchmark's gram set is tiny → broadcast
    LEFT SEMI into the corpus grams (inverted-index semantics, no
    pair blowup, no shuffle of the corpus side); distinct-per-doc
    before the count. This is the n-gram-overlap decontamination used
    by public LLM training pipelines, as one semi join.
    """
    docs = load_table(spark, sf_dir, "documents")
    par = spark.sparkContext.defaultParallelism
    grams = (
        docs.where(F.length(F.trim(F.col("text"))) > 0)
        .repartition(par)  # fan out BEFORE the explode (one input file otherwise serializes it)
        .select("doc_id", F.explode(word_shingles("text", 5)).alias("g"))
    )
    bench = grams.where(F.col("doc_id") < 20).select("g").distinct()
    hits = (
        grams.where(F.col("doc_id") >= 20)
        .join(F.broadcast(bench), "g", "left_semi")
        .select("doc_id")
        .distinct()
    )
    return hits.agg(F.count(F.lit(1)).alias("n_contaminated"))


_REPETITION_ORACLE = """
    WITH words AS (
      SELECT doc_id, string_split_regex(trim(text), '\\s+') AS w
      FROM documents WHERE length(trim(text)) > 0
    ), grams AS (
      SELECT doc_id, array_to_string(w[i:i+1], ' ') AS g
      FROM words, unnest(range(1, greatest(len(w) - 1, 0) + 1)) AS t(i)
      WHERE len(w) >= 2
    ), freq AS (
      SELECT doc_id, g, count(*) AS c FROM grams GROUP BY 1, 2
    )
    SELECT doc_id,
           CAST(max(c) AS BIGINT) AS top_bigram_count,
           CAST(sum(c) AS BIGINT) AS n_bigrams,
           round(max(c) * 1.0 / sum(c), 6) AS top_bigram_ratio
    FROM freq GROUP BY doc_id
    """


@query("text_repetition_ratio", oracle=_REPETITION_ORACLE)
def q_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition filter signal: the share of a document
    occupied by its most frequent bigram (high ⇒ boilerplate/spam).

    Two-level aggregation — (doc, gram) counts, then per-doc max/sum
    — both with map-side partials; the gram explode is the only row
    growth and it re-collapses immediately.
    """
    docs = load_table(spark, sf_dir, "documents")
    par = spark.sparkContext.defaultParallelism
    grams = (
        docs.where(F.length(F.trim(F.col("text"))) > 0)
        .repartition(par)  # fan out BEFORE the explode
        .select("doc_id", F.explode(word_shingles("text", 2)).alias("g"))
    )
    freq = grams.groupBy("doc_id", "g").agg(F.count(F.lit(1)).alias("c"))
    return freq.groupBy("doc_id").agg(
        F.max("c").cast("long").alias("top_bigram_count"),
        F.sum("c").cast("long").alias("n_bigrams"),
        F.round(F.max("c") * 1.0 / F.sum("c"), 6).alias("top_bigram_ratio"),
    )


_PACKING_ORACLE = """
    WITH toks AS (
      SELECT doc_id,
             CAST(CASE WHEN length(trim(text)) = 0 THEN 0
                  ELSE len(string_split_regex(trim(text), '\\s+')) END AS BIGINT)
               AS n_tokens
      FROM documents
    ), planned AS (
      SELECT doc_id, n_tokens,
             CAST(floor((sum(n_tokens) OVER (
               ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) - 1) / 512) AS BIGINT) AS pack_id
      FROM toks
    )
    SELECT pack_id, count(*) AS n_docs, CAST(sum(n_tokens) AS BIGINT) AS pack_tokens
    FROM planned GROUP BY pack_id
    """


@query("sequence_packing_plan", oracle=_PACKING_ORACLE)
def q_sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic sequence-packing plan: documents in stable id
    order are assigned to 512-token packs by running-token-count
    division — the shuffle-light way to plan fixed-budget training
    sequences (vs. greedy bin packing, which is inherently serial).

    The running token total comes from the scalable exact prefix sum
    (operators/ranking.global_prefix_sums: range repartition +
    per-partition running sums + broadcast offsets), so the global
    packing order costs one range shuffle and no stage ever windows
    more than one partition's rows — bit-identical to the ordered-
    window oracle at any scale.
    """
    from real_time_data_pipeline_spark.operators.ranking import global_prefix_sums

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", token_count_ws("text").alias("n_tokens"))
    planned = global_prefix_sums(
        toks, [F.asc("doc_id")], ["n_tokens"], ["_run"]
    ).withColumn("pack_id", F.floor((F.col("_run") - 1) / 512).cast("long"))
    return planned.groupBy("pack_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("pack_tokens"),
    )


_FILTER_ORACLE = f"""
    WITH base AS (
      SELECT doc_id, text,
             CASE WHEN length(trim(text)) = 0 THEN []::VARCHAR[]
                  ELSE string_split_regex(trim(text), '\\s+') END AS w
      FROM documents
    ), feats AS (
      SELECT doc_id,
             CAST(len(w) AS BIGINT) AS n_tokens,
             list_sum(list_transform(w, x -> CAST(length(x) AS BIGINT)))
               / greatest(len(w), 1) AS avg_token_len,
             {_sql_stop_ratio()} AS stopword_ratio,
    """ + ",\n".join(
        f"         CAST({_sql_hits(lg)} AS BIGINT) AS hits_{lg}" for lg in LANG_STOPWORDS
    ) + f"""
      FROM base
    ), pred AS (
      SELECT *, greatest({", ".join("hits_" + lg for lg in LANG_STOPWORDS)}) AS mx
      FROM feats
    )
    SELECT doc_id, n_tokens, stopword_ratio
    FROM pred
    WHERE n_tokens >= 20
      AND avg_token_len BETWEEN 2 AND 10
      AND stopword_ratio >= 0.02
      AND mx > 0 AND hits_en = mx
"""


@query("corpus_quality_filter", oracle=_FILTER_ORACLE)
def q_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """END-to-end C4/Gopher-style corpus filter: the survivors of the
    cheap quality gates (length, mean token length, stopword density,
    language-ID = English) — the doc set a training pipeline would
    actually pass to tokenization. All rules are the same column
    expressions the individual feature queries expose, composed into
    one codegen scan-and-filter (no shuffle at all)."""
    docs = load_table(spark, sf_dir, "documents")
    feats = quality_features("text")
    return (
        docs.select(
            "doc_id",
            feats["n_tokens"].alias("n_tokens"),
            feats["avg_token_len"].alias("avg_token_len"),
            feats["stopword_ratio"].alias("stopword_ratio"),
            lang_id("text").alias("lang_pred"),
        )
        .where(
            (F.col("n_tokens") >= 20)
            & F.col("avg_token_len").between(2, 10)
            & (F.col("stopword_ratio") >= 0.02)
            & (F.col("lang_pred") == "en")
        )
        .select("doc_id", "n_tokens", "stopword_ratio")
    )


_STRAT_RATES = {"en": 0.3, "zh": 0.5}  # downsample dominant langs; keep the rest

_STRAT_ORACLE = f"""
    SELECT lang, count(*) AS n_docs, min(doc_id) AS min_id, max(doc_id) AS max_id
    FROM documents
    WHERE {sql_hash_bucket("doc_id", "strat", 1_000_000)} <
          CASE lang WHEN 'en' THEN {int(0.3 * 1_000_000)}
                    WHEN 'zh' THEN {int(0.5 * 1_000_000)}
                    ELSE 1000000 END
    GROUP BY lang
"""


@query("data_stratified_sample", oracle=_STRAT_ORACLE)
def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus re-balancing: deterministic per-language down-sampling
    (keep 30% of English, 50% of Chinese, all of the rest) summarized
    per language. The keep/drop decision is pure md5 arithmetic — no
    RNG, no shuffle, rows never flip when the corpus grows, and the
    oracle replays it bit-for-bit."""
    from real_time_data_pipeline_spark.operators.sampling import stratified_sample

    docs = load_table(spark, sf_dir, "documents")
    kept = stratified_sample(docs, "doc_id", "lang", _STRAT_RATES, salt="strat")
    return kept.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.min("doc_id").alias("min_id"),
        F.max("doc_id").alias("max_id"),
    )


_DECONTAM_ORACLE = """
    WITH words AS (
      SELECT doc_id, string_split_regex(trim(text), '\\s+') AS w
      FROM documents WHERE length(trim(text)) > 0
    ), grams AS (
      SELECT DISTINCT doc_id,
             array_to_string(w[i:i+4], ' ') AS g
      FROM words, unnest(range(1, greatest(len(w) - 4, 0) + 1)) AS t(i)
      WHERE len(w) >= 5
    ), bench AS (
      SELECT DISTINCT g FROM grams WHERE doc_id < 20
    ), hits AS (
      SELECT DISTINCT gr.doc_id
      FROM grams gr JOIN bench b ON gr.g = b.g
      WHERE gr.doc_id >= 20
    )
    SELECT d.doc_id FROM documents d
    LEFT JOIN hits h ON d.doc_id = h.doc_id
    WHERE d.doc_id >= 20 AND h.doc_id IS NULL
"""


@query("corpus_decontaminated", oracle=_DECONTAM_ORACLE)
def q_decontaminated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """END of the decontamination path: the corpus docs SHIPPED after
    removing benchmark overlaps — broadcast LEFT ANTI of the corpus
    grams against the benchmark gram set (docs 0-19 as stand-in),
    then doc-level anti. Pairs with contamination_check (which counts
    the removed docs)."""
    docs = load_table(spark, sf_dir, "documents")
    par = spark.sparkContext.defaultParallelism
    grams = (
        docs.where(F.length(F.trim(F.col("text"))) > 0)
        .repartition(par)
        .select("doc_id", F.explode(word_shingles("text", 5)).alias("g"))
    )
    bench = grams.where(F.col("doc_id") < 20).select("g").distinct()
    contaminated = (
        grams.where(F.col("doc_id") >= 20)
        .join(F.broadcast(bench), "g", "left_semi")
        .select("doc_id")
        .distinct()
    )
    return (
        docs.where(F.col("doc_id") >= 20)
        .join(contaminated, "doc_id", "left_anti")
        .select("doc_id")
    )


# Sentence-level duplication (Lee et al., "Deduplicating Training Data
# Makes Language Models Better" — the bucketable span-level proxy for
# suffix-array substring dedup). Portable split: no lookbehind (RE2).
SENT_SPLIT = r"[.!?]\s+"
SENT_MIN_CHARS = 15

_DUP_SENT_ORACLE = f"""
    WITH sents AS (
      SELECT DISTINCT doc_id, md5(lower(trim(s))) AS h
      FROM (SELECT doc_id, unnest(string_split_regex(text, '{SENT_SPLIT}')) AS s
            FROM documents)
      WHERE length(trim(s)) >= {SENT_MIN_CHARS}
    ), buckets AS (
      SELECT h, count(*) AS df FROM sents GROUP BY h
    )
    SELECT doc_id, count(*) AS n_sents,
           CAST(sum(CASE WHEN df >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_sents,
           round(sum(CASE WHEN df >= 2 THEN 1 ELSE 0 END) * 1.0 / count(*), 6) AS dup_ratio
    FROM sents JOIN buckets USING (h)
    GROUP BY doc_id
"""


@query("text_dup_sentence_ratio", oracle=_DUP_SENT_ORACLE)
def q_dup_sentence_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span-level duplication per doc: the share of a doc's distinct
    normalized sentences that also appear in ANOTHER doc (or twice —
    df counts distinct docs, so df>=2 means cross-doc duplication).
    The scalable proxy for suffix-array substring dedup: distinct
    postings, a count per sentence hash, and a postings-to-counts join
    — deliberately NOT the collect-ids-per-bucket shape the Jaccard
    family uses, because a boilerplate sentence shared by millions of
    docs would materialize a multi-million-element array in one row;
    here the hottest hash is just a large join group, which AQE skew
    handling splits."""
    from real_time_data_pipeline_spark.operators.similarity import _fan_out

    docs = load_table(spark, sf_dir, "documents")
    sents = (
        _fan_out(docs.select("doc_id", "text"), "doc_id")
        .select(F.col("doc_id"), F.explode(F.split(F.col("text"), SENT_SPLIT)).alias("s"))
        .where(F.length(F.trim(F.col("s"))) >= SENT_MIN_CHARS)
        .select("doc_id", F.md5(F.lower(F.trim(F.col("s")))).alias("h"))
        .distinct()
        .transform(persist_tracked)  # feeds both the df count and the join back (lazy persist, r15)
    )
    dfreq = sents.groupBy("h").agg(F.count(F.lit(1)).alias("df"))
    per = sents.join(dfreq, "h").select("doc_id", "df")
    dup = F.sum(F.when(F.col("df") >= 2, 1).otherwise(0))
    return per.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_sents"),
        dup.cast("long").alias("n_dup_sents"),
        F.round(dup / F.count(F.lit(1)), 6).alias("dup_ratio"),
    )


# Temperature-weighted mixture sampling (the multilingual-corpus
# balancing rule: weight ∝ share^τ). τ = 0.5 exactly, so the power is
# sqrt — correctly-rounded IEEE on both engines, keeping the oracle
# hash stable where a general pow() might differ in the last ulp.
_MIXTURE_ORACLE = """
    WITH per AS (
      SELECT lang, source, count(*) AS n_docs,
             CAST(sum(CASE WHEN length(trim(text)) = 0 THEN 0
                  ELSE len(string_split_regex(trim(text), '\\s+')) END) AS BIGINT)
               AS n_tokens
      FROM documents GROUP BY 1, 2
    ), shares AS (
      SELECT lang, source, n_docs, n_tokens,
             n_tokens * 1.0 / sum(n_tokens) OVER () AS p,
             sqrt(n_tokens * 1.0 / sum(n_tokens) OVER ()) AS pw
      FROM per
    )
    SELECT lang, source, n_docs, n_tokens,
           round(pw / sum(pw) OVER (), 6) AS weight,
           round(pw / sum(pw) OVER () / p, 6) AS epochs
    FROM shares
"""


@query("corpus_mixture_weights", oracle=_MIXTURE_ORACLE)
def q_mixture_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-τ=0.5 sampling weights per (lang, source) cell:
    weight ∝ sqrt(token share), plus the implied epochs multiplier
    (weight/share — how many times the cell is traversed relative to
    proportional sampling at a fixed token budget). One corpus pass;
    the windows run over the tiny aggregated cell set."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    per = docs.groupBy("lang", "source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(token_count_ws("text")).cast("long").alias("n_tokens"),
    )
    wall = Window.partitionBy()
    p = F.col("n_tokens") / F.sum("n_tokens").over(wall)
    shares = per.select("lang", "source", "n_docs", "n_tokens", p.alias("p"), F.sqrt(p).alias("pw"))
    wgt = F.col("pw") / F.sum("pw").over(wall)
    return shares.select(
        "lang",
        "source",
        "n_docs",
        "n_tokens",
        F.round(wgt, 6).alias("weight"),
        F.round(wgt / F.col("p"), 6).alias("epochs"),
    )


def _ready_oracle() -> str:
    """Full-pipeline oracle: dedup clusters (recursive CTE) -> keep-one
    -> quality gates -> benchmark decontamination -> hash split ->
    per-split summary. Assembled from the same SQL fragments the
    stage-level queries use, so the composition cannot drift from its
    parts."""
    from real_time_data_pipeline_spark.operators.sampling import sql_hash_bucket
    from real_time_data_pipeline_spark.queries.similarity import _CLUSTERS_ORACLE

    bucket = sql_hash_bucket("q.doc_id", "split")
    hits_cols = ",\n".join(
        f"             CAST({_sql_hits(lg)} AS BIGINT) AS hits_{lg}"
        for lg in LANG_STOPWORDS
    )
    mx = ", ".join("hits_" + lg for lg in LANG_STOPWORDS)
    tail = f"""clusters AS (
      SELECT node, min(r) AS cluster_id FROM reach GROUP BY node
    ), survivors AS (
      SELECT d.doc_id, d.text, d.n_chars
      FROM documents d LEFT JOIN clusters c ON d.doc_id = c.node
      WHERE c.node IS NULL OR c.cluster_id = d.doc_id
    ), qbase AS (
      SELECT doc_id, text, n_chars,
             CASE WHEN length(trim(text)) = 0 THEN []::VARCHAR[]
                  ELSE string_split_regex(trim(text), '\\s+') END AS w
      FROM survivors
    ), qfeats AS (
      SELECT doc_id, text, n_chars,
             CAST(len(w) AS BIGINT) AS n_tokens,
             list_sum(list_transform(w, x -> CAST(length(x) AS BIGINT)))
               / greatest(len(w), 1) AS avg_token_len,
             {_sql_stop_ratio()} AS stopword_ratio,
{hits_cols}
      FROM qbase
    ), qual AS (
      SELECT doc_id, text, n_chars, n_tokens
      FROM (SELECT *, greatest({mx}) AS mx FROM qfeats)
      WHERE n_tokens >= 20 AND avg_token_len BETWEEN 2 AND 10
        AND stopword_ratio >= 0.02 AND mx > 0 AND hits_en = mx
    ), bwords AS (
      SELECT string_split_regex(trim(text), '\\s+') AS w
      FROM documents WHERE length(trim(text)) > 0 AND doc_id < 20
    ), bgrams AS (
      SELECT DISTINCT array_to_string(w[i:i+4], ' ') AS g
      FROM bwords, unnest(range(1, greatest(len(w) - 4, 0) + 1)) AS t(i)
      WHERE len(w) >= 5
    ), cwords AS (
      SELECT doc_id, string_split_regex(trim(text), '\\s+') AS w
      FROM qual WHERE length(trim(text)) > 0 AND doc_id >= 20
    ), cgrams AS (
      SELECT DISTINCT doc_id, array_to_string(w[i:i+4], ' ') AS g
      FROM cwords, unnest(range(1, greatest(len(w) - 4, 0) + 1)) AS t(i)
      WHERE len(w) >= 5
    ), contaminated AS (
      SELECT DISTINCT cg.doc_id FROM cgrams cg JOIN bgrams b ON cg.g = b.g
    ), ready AS (
      SELECT q.doc_id, q.n_chars, q.n_tokens,
             CASE WHEN {bucket} < 80 THEN 'train'
                  WHEN {bucket} < 90 THEN 'val'
                  ELSE 'test' END AS split
      FROM qual q LEFT JOIN contaminated x ON q.doc_id = x.doc_id
      WHERE q.doc_id >= 20 AND x.doc_id IS NULL
    )
    SELECT split, count(*) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS sum_chars,
           CAST(sum(n_tokens) AS BIGINT) AS sum_tokens,
           bit_xor(doc_id) AS id_xor,
           min(doc_id) AS min_id, max(doc_id) AS max_id
    FROM ready GROUP BY split"""
    return _CLUSTERS_ORACLE.replace(
        "SELECT node AS id_a, min(r) AS cluster_id FROM reach GROUP BY node", tail
    ).replace("    )\n    clusters AS", "    ), clusters AS")


@query("corpus_training_ready", oracle=_ready_oracle())
def q_training_ready(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THE pipeline, end to end, as one plan: near-dup dedup (Jaccard
    pairs -> connected components -> keep canonical) -> C4-style
    quality gates -> benchmark decontamination (5-gram overlap with
    the held-out set) -> leak-proof hash split -> per-split corpus
    summary (docs, chars, tokens, and a bit_xor membership signature
    that pins the EXACT surviving doc set). What a user runs to turn
    a raw crawl into a training corpus; every stage is the same
    operator the stage-level queries check individually."""
    from real_time_data_pipeline_spark.operators.sampling import hash_bucket
    from real_time_data_pipeline_spark.operators.similarity import _fan_out
    from real_time_data_pipeline_spark.queries.similarity import (
        _dedup_clusters_shared,
    )

    docs = load_table(spark, sf_dir, "documents")
    # session-shared dedup graph components — identical pair set and
    # algorithm as dedup_cluster_assignment (built once per snapshot)
    clusters = _dedup_clusters_shared(spark, sf_dir)
    surv = (
        docs.join(clusters, docs["doc_id"] == clusters["id_a"], "left")
        .where(F.col("cluster_id").isNull() | (F.col("cluster_id") == F.col("doc_id")))
        .select("doc_id", "text", "n_chars")
    )
    feats = quality_features("text")
    # Materialized once: the dedup pipeline above feeds BOTH the
    # decontamination gram branch and the final split (Catalyst does
    # not reuse subplans across branches).
    qual = (
        surv.select(
            "doc_id",
            "text",
            "n_chars",
            feats["n_tokens"].alias("n_tokens"),
            feats["avg_token_len"].alias("__atl"),
            feats["stopword_ratio"].alias("__sr"),
            lang_id("text").alias("__lang"),
        )
        .where(
            (F.col("n_tokens") >= 20)
            & F.col("__atl").between(2, 10)
            & (F.col("__sr") >= 0.02)
            & (F.col("__lang") == "en")
        )
        .select("doc_id", "text", "n_chars", "n_tokens")
        .transform(persist_tracked)  # reused by two branches, never iterated (r15)
    )
    bench = (
        _fan_out(docs.where((F.col("doc_id") < 20) & (F.length(F.trim("text")) > 0)))
        .select(F.explode(word_shingles("text", 5)).alias("g"))
        .distinct()
    )
    contaminated = (
        _fan_out(qual.where(F.col("doc_id") >= 20), "doc_id")
        .select("doc_id", F.explode(word_shingles("text", 5)).alias("g"))
        .join(F.broadcast(bench), "g", "left_semi")
        .select("doc_id")
        .distinct()
    )
    b = hash_bucket(F.col("doc_id"), "split", 100)
    ready = (
        qual.where(F.col("doc_id") >= 20)
        .join(contaminated, "doc_id", "left_anti")
        .withColumn(
            "split",
            F.when(b < 80, "train").when(b < 90, "val").otherwise("test"),
        )
    )
    return ready.groupBy("split").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").cast("long").alias("sum_chars"),
        F.sum("n_tokens").cast("long").alias("sum_tokens"),
        F.bit_xor("doc_id").alias("id_xor"),
        F.min("doc_id").alias("min_id"),
        F.max("doc_id").alias("max_id"),
    )


_FRAME_SAMPLE_ORACLE = """
    SELECT media_id,
           CAST(i AS DOUBLE) AS sample_t_s,
           CAST(floor(i * fps) AS BIGINT) AS frame_idx
    FROM (
      SELECT doc_id AS media_id,
             n_chars / 100.0 AS duration_s,
             24.0 + (doc_id % 2) * 6 AS fps
      FROM documents
    ), unnest(range(0, CAST(floor(duration_s) AS BIGINT) + 1)) AS t(i)
"""


@query("multimodal_frame_sample", oracle=_FRAME_SAMPLE_ORACLE)
def q_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video frame-sampling plan: one row per frame to decode, from
    typed METADATA only (duration, fps — derived deterministically
    from the documents table as a stand-in for real video metadata).
    The 100 TB shape: plan rows are pure JVM column arithmetic;
    payload bytes are only fetched afterwards by the Arrow-batched
    decode over exactly the selected frames."""
    from real_time_data_pipeline_spark.operators.multimodal import frame_sample_plan

    docs = load_table(spark, sf_dir, "documents")
    meta = docs.select(
        F.col("doc_id").alias("media_id"),
        (F.col("n_chars") / 100.0).alias("duration_s"),
        (F.lit(24.0) + (F.col("doc_id") % 2) * 6).alias("fps"),
    )
    plan = frame_sample_plan(meta, every_s=1.0)
    return plan.select("media_id", "sample_t_s", "frame_idx")


_ENTROPY_ORACLE = """
    WITH w AS (
      SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS word
      FROM documents WHERE length(trim(text)) > 0
    ), wc AS (
      SELECT doc_id, word, count(*) AS c FROM w GROUP BY 1, 2
    ), tot AS (
      SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
             CAST(count(*) AS BIGINT) AS n_distinct
      FROM wc GROUP BY 1
    )
    SELECT wc.doc_id, t.n_tokens, t.n_distinct,
           round(0.0 - sum((c * 1.0 / t.n_tokens) * log2(c * 1.0 / t.n_tokens)), 6)
             AS word_entropy,
           round(t.n_distinct * 1.0 / t.n_tokens, 6) AS ttr
    FROM wc JOIN tot t USING (doc_id)
    GROUP BY 1, 2, 3
"""


@query("text_word_entropy", oracle=_ENTROPY_ORACLE)
def q_word_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lexical-diversity quality signals: word-unigram Shannon entropy
    and type-token ratio per doc — the standard cheap discriminators
    between natural text and keyword stuffing / boilerplate loops.
    Two aggregates sharing one doc-keyed exchange (the per-word counts
    reshuffle once to doc_id; the window totals and the entropy fold
    ride the same partitioning)."""
    from real_time_data_pipeline_spark.operators.similarity import _fan_out

    docs = load_table(spark, sf_dir, "documents")
    wc = (
        _fan_out(docs.where(F.length(F.trim("text")) > 0), "doc_id")
        .select("doc_id", F.explode(words("text")).alias("word"))
        .groupBy("doc_id", "word")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    per_doc = Window.partitionBy("doc_id")
    n_tok = F.sum("c").over(per_doc)
    n_dis = F.count(F.lit(1)).over(per_doc)
    p = F.col("c") / F.col("n_tokens")
    return (
        wc.select(
            "doc_id",
            "c",
            n_tok.cast("long").alias("n_tokens"),
            n_dis.cast("long").alias("n_distinct"),
        )
        .groupBy("doc_id", "n_tokens", "n_distinct")
        .agg(
            F.round(F.lit(0.0) - F.sum(p * F.log2(p)), 6).alias("word_entropy"),
            F.round(
                F.col("n_distinct").cast("double") / F.col("n_tokens"), 6
            ).alias("ttr"),
        )
    )


N_SHARDS = 16

_SHARD_ORACLE = f"""
    SELECT {sql_hash_bucket("doc_id", "shard", N_SHARDS)} AS shard,
           count(*) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS sum_chars,
           CAST(sum(CASE WHEN length(trim(text)) = 0 THEN 0
                ELSE len(string_split_regex(trim(text), '\\s+')) END) AS BIGINT)
             AS sum_tokens,
           bit_xor(doc_id) AS id_xor
    FROM documents
    GROUP BY 1
"""


@query("data_shard_manifest", oracle=_SHARD_ORACLE)
def q_shard_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-output sharding manifest: every doc lands in a
    deterministic md5 shard (same salt-namespaced bucket arithmetic as
    the split/sample family — adding docs never moves existing ones),
    summarized per shard with doc/char/token totals and a bit_xor
    membership signature. The manifest a downstream loader checks
    shards against; the assignment is pure column arithmetic, so the
    only exchange is the final aggregation."""
    from real_time_data_pipeline_spark.operators.sampling import hash_bucket

    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.withColumn("shard", hash_bucket(F.col("doc_id"), "shard", N_SHARDS))
        .groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").cast("long").alias("sum_chars"),
            F.sum(token_count_ws("text")).cast("long").alias("sum_tokens"),
            F.bit_xor("doc_id").alias("id_xor"),
        )
    )


_SURPRISAL_ORACLE = """
    WITH w AS (
      SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS word
      FROM documents WHERE length(trim(text)) > 0
    ), wc AS (
      SELECT doc_id, word, count(*) AS c FROM w GROUP BY 1, 2
    ), freq AS (
      SELECT word, CAST(sum(c) AS BIGINT) AS f FROM wc GROUP BY 1
    ), tot AS (
      SELECT CAST(sum(f) AS BIGINT) AS t FROM freq
    )
    SELECT wc.doc_id,
           CAST(sum(c) AS BIGINT) AS n_tokens,
           round(sum(c * (0.0 - log2(f * 1.0 / t))) / sum(c), 6) AS avg_surprisal
    FROM wc JOIN freq USING (word), tot
    GROUP BY 1
"""


@query("text_unigram_surprisal", oracle=_SURPRISAL_ORACLE)
def q_unigram_surprisal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-model quality filtering, CCNet-style, with the corpus
    itself as the model: train a unigram LM (global word frequencies)
    and score every doc by its average per-token surprisal
    -log2 p(word). Outlier docs (gibberish: high; boilerplate loops:
    low) are what perplexity filtering removes before training.
    One token pass materialized once feeds both the model build and
    the scoring join; the corpus-total is a 1-row broadcast.

    Known scale trade (stated after the r14 broadcast sweep, NOT
    changed — this query is a frozen family canary and its plan must
    stay fixed): the scoring join broadcasts the unigram LM `freq`,
    which is VOCABULARY-grain. Whitespace-token vocabularies grow
    sublinearly (Heaps' law) and a unigram LM table of even 10M words
    broadcasts fine, but a 100 TB web corpus with unbounded junk
    tokens can push it past broadcast range — the deployment lever is
    a min-count floor on the LM (standard practice: rare words get a
    smoothed floor probability), which caps the broadcast at the
    vocabulary head. The equivalent shuffle-join form needs no code
    change beyond a shuffle_hash hint on `freq`."""
    from real_time_data_pipeline_spark.operators.similarity import _fan_out

    docs = load_table(spark, sf_dir, "documents")
    wc = (
        _fan_out(docs.where(F.length(F.trim("text")) > 0), "doc_id")
        .select("doc_id", F.explode(words("text")).alias("word"))
        .groupBy("doc_id", "word")
        .agg(F.count(F.lit(1)).alias("c"))
        .transform(reliable_materialize)  # feeds the LM build AND the scoring join
    )
    freq = wc.groupBy("word").agg(F.sum("c").cast("long").alias("f"))
    tot = freq.agg(F.sum("f").cast("long").alias("t"))
    surprisal = F.lit(0.0) - F.log2(F.col("f") / F.col("t"))
    return (
        wc.join(freq, "word")
        .crossJoin(F.broadcast(tot))
        .groupBy("doc_id")
        .agg(
            F.sum("c").cast("long").alias("n_tokens"),
            F.round(F.sum(F.col("c") * surprisal) / F.sum("c"), 6).alias(
                "avg_surprisal"
            ),
        )
    )


_NOVELTY_ORACLE = """
    WITH grams AS (
      SELECT DISTINCT doc_id, array_to_string(w[i:i+2], ' ') AS g
      FROM (SELECT doc_id, w, unnest(range(1, greatest(len(w) - 1, 1))) AS i
            FROM (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS w
                  FROM documents WHERE length(trim(text)) > 0))
      WHERE len(w) >= 3
    ), firsts AS (
      SELECT g, min(doc_id) AS first_id FROM grams GROUP BY g
    )
    SELECT grams.doc_id,
           CAST(count(*) AS BIGINT) AS n_grams,
           CAST(sum(CASE WHEN first_id = grams.doc_id THEN 1 ELSE 0 END) AS BIGINT)
             AS n_novel,
           round(sum(CASE WHEN first_id = grams.doc_id THEN 1 ELSE 0 END) * 1.0
                 / count(*), 6) AS novelty
    FROM grams JOIN firsts USING (g)
    GROUP BY 1
"""


def _novelty_attributed_shared(spark, sf_dir):
    """Session-shared FIRST-OWNER ATTRIBUTION of the 3-gram postings:
    (doc_id, g, first_id) — each distinct (doc, gram) posting joined
    with the gram's lowest owning doc_id. One postings build + one
    min-aggregate + one join, memoized per corpus snapshot (r9);
    consumed by the per-doc novelty curve AND the per-source novelty
    rollup — two reports off one attribution index, the same shape as
    the dedup-graph and k-means artifacts.

    Footprint note (r10): unlike the other artifacts this one is
    POSTINGS-sized — one row per distinct (doc, 3-gram), i.e. corpus
    token scale, not dimension scale (see the footprint paragraph in
    artifacts.py). The build deliberately does NOT materialize the
    intermediate ``grams`` frame: it runs exactly once per snapshot
    (the memo's outer reliable_materialize pins only the final joined
    result), so the double-read of the shingle scan is a one-time
    cost, whereas an inner materialization would pin a second
    postings-sized block set that nothing ever reads again."""
    from real_time_data_pipeline_spark.queries.artifacts import _shared_artifact
    from real_time_data_pipeline_spark.operators.similarity import shingle_postings

    def build():
        docs = load_table(spark, sf_dir, "documents")
        grams = shingle_postings(docs, "doc_id", "text", 3).withColumnRenamed(
            "shingle", "g"
        )
        firsts = grams.groupBy("g").agg(F.min("doc_id").alias("first_id"))
        return grams.join(firsts, "g")

    return _shared_artifact(spark, sf_dir, "novelty_first_owner_v1", build)


@query("text_ngram_novelty", oracle=_NOVELTY_ORACLE)
def q_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc novelty under arrival order: the share of a doc's
    distinct 3-grams that no LOWER-id doc contains — the curation
    curve that shows marginal new content decaying as a corpus grows
    (novelty 1.0 = all fresh; near 0 = the doc restates the corpus).
    Same scale shape as the sentence-dup query: distinct postings, a
    min-id owner per gram, and a postings-to-owners join — no
    per-bucket id arrays anywhere; the attributed postings are the
    session-shared `_novelty_attributed_shared` artifact (r9), also
    read by the per-source rollup."""
    novel = F.sum(F.when(F.col("first_id") == F.col("doc_id"), 1).otherwise(0))
    return (
        _novelty_attributed_shared(spark, sf_dir)
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            novel.cast("long").alias("n_novel"),
            F.round(novel / F.count(F.lit(1)), 6).alias("novelty"),
        )
    )


_TFIDF_ORACLE = """
    WITH w AS (
      SELECT source, unnest(string_split_regex(trim(text), '\\s+')) AS word
      FROM documents WHERE length(trim(text)) > 0
    ), tf AS (
      SELECT source, word, count(*) AS tf FROM w GROUP BY 1, 2
    ), dfreq AS (
      SELECT word, count(*) AS df FROM tf GROUP BY 1
    ), nsrc AS (
      SELECT count(DISTINCT source) AS n FROM tf
    ), scored AS (
      SELECT tf.source, tf.word, tf.tf,
             round(tf.tf * ln(nsrc.n * 1.0 / dfreq.df), 6) AS tfidf
      FROM tf JOIN dfreq USING (word) CROSS JOIN nsrc
    )
    SELECT source, word, tf, tfidf, rk
    FROM (
      SELECT *, row_number() OVER (
               ORDER BY tfidf DESC, word, source) AS rk
      FROM scored
    )
    WHERE rk <= 50
"""


@query("text_tfidf_top_terms", oracle=_TFIDF_ORACLE)
def q_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide TF-IDF hot list treating each SOURCE as one giant
    pseudo-document — the curation view that surfaces which terms
    characterize a slice of the corpus rather than the whole mix.

    Scale shape: one (source, word) shuffle for tf, a word-keyed agg
    for df (vocabulary-sized, zipf-bounded — orders of magnitude
    smaller than the corpus), the source count as a 1-row broadcast,
    and a heap top-50. The word join is PINNED shuffle_hash (r14):
    the materialized `tf` is an ExistingRDD with no stats, so the
    static planner would broadcast the vocabulary-grain df table at
    ANY true vocabulary size — the hint makes the degrade-at-scale
    claim true by construction, and AQE still converts to broadcast
    at runtime when the measured size is genuinely small. Neither
    path touches raw text twice.
    """
    from real_time_data_pipeline_spark.operators.similarity import _fan_out

    docs = load_table(spark, sf_dir, "documents")
    tf = (
        _fan_out(docs.where(F.length(F.trim("text")) > 0), "doc_id")
        .select("source", F.explode(words("text")).alias("word"))
        .groupBy("source", "word")
        .agg(F.count(F.lit(1)).alias("tf"))
        .transform(persist_tracked)  # feeds df-agg, n-src agg, and the score join (lazy persist, r15)
    )
    dfreq = tf.groupBy("word").agg(F.count(F.lit(1)).alias("df"))
    nsrc = tf.agg(F.count_distinct("source").alias("n"))
    scored = (
        tf.join(dfreq.hint("shuffle_hash"), "word")
        .crossJoin(F.broadcast(nsrc))
        .select(
            "source",
            "word",
            "tf",
            F.round(
                F.col("tf") * F.log(F.col("n").cast("double") / F.col("df")), 6
            ).alias("tfidf"),
        )
    )
    order = [F.desc("tfidf"), F.asc("word"), F.asc("source")]
    # Heap top-k (TakeOrderedAndProject) then rank the 50 survivors:
    # the window input is bounded by the limit, not the vocabulary.
    top = scored.orderBy(*order).limit(50)
    return (
        top.withColumn("rk", F.row_number().over(Window.orderBy(*order)))
        .select("source", "word", "tf", "tfidf", "rk")
    )


# BM25 retrieval constants (Robertson/Sparck-Jones defaults) and a
# fixed query-term set drawn from the synthetic corpus vocabulary.
BM25_K1 = 1.2
BM25_B = 0.75
BM25_QUERY_TERMS = ("spark", "join", "window")

_BM25_ORACLE = f"""
    WITH d AS (
      SELECT doc_id, len(string_split_regex(trim(text), '\\s+')) AS dl
      FROM documents WHERE length(trim(text)) > 0
    ), stats AS (
      SELECT count(*) AS n_docs, avg(dl * 1.0) AS avgdl FROM d
    ), w AS (
      SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS word
      FROM documents WHERE length(trim(text)) > 0
    ), tf AS (
      SELECT doc_id, word, count(*) AS tf FROM w
      WHERE word IN {BM25_QUERY_TERMS!r}
      GROUP BY 1, 2
    ), dfreq AS (
      SELECT word, count(*) AS df FROM tf GROUP BY 1
    ), scored AS (
      SELECT tf.doc_id,
             sum(ln(1 + (stats.n_docs - dfreq.df + 0.5) / (dfreq.df + 0.5))
                 * tf.tf * ({BM25_K1} + 1)
                 / (tf.tf + {BM25_K1} * (1 - {BM25_B} + {BM25_B} * d.dl / stats.avgdl))
             ) AS raw
      FROM tf
      JOIN dfreq USING (word)
      JOIN d USING (doc_id)
      CROSS JOIN stats
      GROUP BY 1
    )
    SELECT doc_id, round(raw, 6) AS bm25, rk
    FROM (
      SELECT *, row_number() OVER (ORDER BY round(raw, 6) DESC, doc_id) AS rk
      FROM scored
    )
    WHERE rk <= 20
"""


@query("text_bm25_ranking", oracle=_BM25_ORACLE)
def q_bm25_ranking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-20 documents for a fixed query-term set — the lexical
    retrieval baseline every RAG/data-curation stack keeps next to its
    embedding index.

    Scale shape: term filter BEFORE the tf aggregation (postings exist
    only for query terms, so the shuffle carries |q| × matching docs,
    not the corpus vocabulary), df and corpus stats are tiny broadcast
    aggregates, and the final top-20 is a per-partition heap
    (TakeOrderedAndProject) over docs that matched at least one term.

    Since r12 the scoring composition is the shared
    `operators.text.bm25_scored` — one copy of the idf/saturation
    formula serving this query, the streaming corpus-stats probe
    (`streaming/corpusstats_ingest.py::bm25_probe_state`, which
    replaces only the dfreq/stats inputs with maintained state), and
    the hybrid-retrieval fusion query.
    """
    scored = _bm25_corpus_scored(spark, sf_dir)
    order = [F.desc("bm25"), F.asc("doc_id")]
    # Heap top-k (TakeOrderedAndProject) then rank the 20 survivors:
    # the window input is bounded by the limit, not the match set.
    top = scored.orderBy(*order).limit(20)
    return (
        top.withColumn("rk", F.row_number().over(Window.orderBy(*order)))
        .select("doc_id", "bm25", "rk")
    )


def _bm25_corpus_scored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, bm25) for BM25_QUERY_TERMS with every statistic from
    the corpus itself — the sufficient-statistics assembly shared by
    `text_bm25_ranking` and `retrieval_hybrid_rrf`, memoized as a
    session-shared artifact (two registry queries consume the
    identical match-set-sized frame; the corpus scan + tf aggregation
    runs once per session, per the repo's index-build convention)."""
    from real_time_data_pipeline_spark.queries.artifacts import _shared_artifact

    return _shared_artifact(
        spark, sf_dir, "bm25_scored_default",
        lambda: _bm25_corpus_scored_build(spark, sf_dir),
    )


def _bm25_corpus_scored_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    from real_time_data_pipeline_spark.operators.similarity import _fan_out
    from real_time_data_pipeline_spark.operators.text import bm25_scored

    docs = load_table(spark, sf_dir, "documents").where(F.length(F.trim("text")) > 0)
    d = docs.select("doc_id", token_count_ws("text").alias("dl"))
    stats = d.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.avg(F.col("dl").cast("double")).alias("avgdl"),
    )
    tf = (
        _fan_out(docs, "doc_id")
        .select("doc_id", F.explode(words("text")).alias("word"))
        .where(F.col("word").isin(*BM25_QUERY_TERMS))
        .groupBy("doc_id", "word")
        .agg(F.count(F.lit(1)).alias("tf"))
        .transform(persist_tracked)  # feeds both df-agg and the score join (lazy persist, r15)
    )
    dfreq = tf.groupBy("word").agg(F.count(F.lit(1)).alias("df"))
    return bm25_scored(
        tf, d, dfreq, stats, k1=BM25_K1, b=BM25_B, term_col="word"
    )


# Reciprocal-rank-fusion constants: the standard k=60 damping
# (Cormack/Clarke/Buettcher), list depth 50 per retriever, and a fixed
# query — BM25_QUERY_TERMS on the lexical side, vector 0's embedding on
# the dense side (documents.doc_id and embeddings.vec_id share the id
# space in the driver tables).
RRF_K = 60
RRF_DEPTH = 50
RRF_QUERY_VEC_ID = 0

_RRF_ORACLE = f"""
    WITH d AS (
      SELECT doc_id, len(string_split_regex(trim(text), '\\s+')) AS dl
      FROM documents WHERE length(trim(text)) > 0
    ), stats AS (
      SELECT count(*) AS n_docs, avg(dl * 1.0) AS avgdl FROM d
    ), w AS (
      SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS word
      FROM documents WHERE length(trim(text)) > 0
    ), tf AS (
      SELECT doc_id, word, count(*) AS tf FROM w
      WHERE word IN {BM25_QUERY_TERMS!r}
      GROUP BY 1, 2
    ), dfreq AS (
      SELECT word, count(*) AS df FROM tf GROUP BY 1
    ), bm AS (
      SELECT tf.doc_id,
             round(sum(ln(1 + (stats.n_docs - dfreq.df + 0.5) / (dfreq.df + 0.5))
                 * tf.tf * ({BM25_K1} + 1)
                 / (tf.tf + {BM25_K1}
                    * (1 - {BM25_B} + {BM25_B} * d.dl / stats.avgdl))
             ), 6) AS bm25
      FROM tf JOIN dfreq USING (word) JOIN d USING (doc_id) CROSS JOIN stats
      GROUP BY 1
    ), bmrank AS (
      SELECT doc_id, r FROM (
        SELECT doc_id,
               row_number() OVER (ORDER BY bm25 DESC, doc_id) AS r
        FROM bm
      ) WHERE r <= {RRF_DEPTH}
    ), q AS (
      SELECT embedding::DOUBLE[] AS qv FROM embeddings
      WHERE vec_id = {RRF_QUERY_VEC_ID}
    ), cosrank AS (
      SELECT doc_id, r FROM (
        SELECT c.vec_id AS doc_id,
               row_number() OVER (
                 ORDER BY round(
                   list_cosine_similarity(c.embedding::DOUBLE[], q.qv), 6)
                          DESC, c.vec_id
               ) AS r
        FROM embeddings c CROSS JOIN q
        WHERE c.vec_id <> {RRF_QUERY_VEC_ID}
      ) WHERE r <= {RRF_DEPTH}
    ), fused AS (
      SELECT coalesce(b.doc_id, c.doc_id) AS doc_id,
             round(coalesce(1.0 / ({RRF_K} + b.r), 0)
                   + coalesce(1.0 / ({RRF_K} + c.r), 0), 6) AS rrf,
             b.r AS lex_rank, c.r AS vec_rank
      FROM bmrank b FULL OUTER JOIN cosrank c ON b.doc_id = c.doc_id
    )
    SELECT doc_id, rrf, lex_rank, vec_rank, rk FROM (
      SELECT *, row_number() OVER (ORDER BY rrf DESC, doc_id) AS rk
      FROM fused
    ) WHERE rk <= 20
"""


@query("retrieval_hybrid_rrf", oracle=_RRF_ORACLE)
def q_hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval via reciprocal-rank fusion: the BM25 lexical
    ranking and the exact-cosine dense ranking for one fixed query,
    fused as sum(1 / (60 + rank)) over the lists that retrieved each
    document — the standard way a RAG/data-curation stack combines a
    term index and an embedding index without score calibration
    (ranks are scale-free, so no per-retriever normalization).
    New r12: composes the shared `bm25_scored` operator (lexical
    side) with the `ann_brute_topk`-style broadcast cosine (dense
    side).

    Scale shape: each retriever contributes only its TOP-``RRF_DEPTH``
    list via a per-partition heap (TakeOrderedAndProject) — the rank
    windows and the full-outer fusion join run over <= 2·depth rows,
    never the corpus; the corpus-sized work is exactly the two
    retrievers' own scans (term-filtered postings, one broadcast-query
    vector pass). At production scale the dense side swaps to the
    IVF/PQ probes without touching the fusion.

    Output: (doc_id, rrf, lex_rank, vec_rank, rk) top-20; NULL rank
    means that retriever did not surface the doc within depth.
    """
    return rrf_fused(
        _bm25_corpus_scored(spark, sf_dir),
        load_table(spark, sf_dir, "embeddings"),
    )


def rrf_fused(bm_scored: DataFrame, emb: DataFrame) -> DataFrame:
    """The fusion composition shared by `retrieval_hybrid_rrf` and the
    maintained-state probe (`streaming/corpusstats_ingest.py::
    hybrid_rrf_probe_state`, which swaps only the source of
    ``bm_scored``): rank each retriever's heap top-``RRF_DEPTH``,
    full-outer join the two bounded lists, score sum(1/(RRF_K+rank)),
    emit the top-20 with ranks."""
    from real_time_data_pipeline_spark.operators.similarity import dot, norm

    qv = (
        emb.where(F.col("vec_id") == RRF_QUERY_VEC_ID)
        .select(F.col("embedding").cast("array<double>").alias("qv"))
        .withColumn("nq", norm(F.col("qv")))
    )
    cand = emb.where(F.col("vec_id") != RRF_QUERY_VEC_ID).select(
        F.col("vec_id").alias("doc_id"),
        F.col("embedding").cast("array<double>").alias("cv"),
    )
    # Rank on the cosine ROUNDED to 6 decimals (matching the bm25
    # convention): the oracle ranks via DuckDB's
    # list_cosine_similarity, and ulp-level cross-engine differences
    # between two near-equal cosines could otherwise flip adjacent
    # ranks at list boundaries — rounding makes batch/oracle
    # tie-breaking deterministic by construction (ADVICE r12 #1).
    cos = F.round(
        dot(F.col("qv"), F.col("cv")) / (F.col("nq") * norm(F.col("cv"))), 6
    )
    cos_order = [F.desc("cos"), F.asc("doc_id")]
    vecrank = (
        cand.crossJoin(F.broadcast(qv))
        .select("doc_id", cos.alias("cos"))
        .orderBy(*cos_order)
        .limit(RRF_DEPTH)
        .withColumn("vec_rank", F.row_number().over(Window.orderBy(*cos_order)))
        .select("doc_id", F.col("vec_rank").cast("long").alias("vec_rank"))
    )
    return rrf_fuse_ranked(rrf_lex_ranked(bm_scored), vecrank)


_RERANK_ORACLE = _RRF_ORACLE.replace(
    "SELECT doc_id, rrf, lex_rank, vec_rank, rk FROM (",
    """, top20 AS (
      SELECT doc_id, rrf FROM (""",
).replace(
    ") WHERE rk <= 20",
    f""") WHERE rk <= 20
    ), rer AS (
      SELECT t.doc_id, t.rrf,
             round(list_cosine_similarity(c.embedding::DOUBLE[], q.qv), 6)
               AS cos
      FROM top20 t
        LEFT JOIN embeddings c ON c.vec_id = t.doc_id
                                  AND c.vec_id <> {RRF_QUERY_VEC_ID}
        CROSS JOIN q
    )
    SELECT doc_id, rrf, cos,
           CAST(row_number() OVER (ORDER BY cos DESC NULLS LAST, doc_id)
                AS BIGINT) AS rerank
    FROM rer""",
)


@query("retrieval_rerank_cosine", oracle=_RERANK_ORACLE)
def q_rerank_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage retrieval with a rerank pass (r13): the hybrid-RRF
    top-20 is the CANDIDATE GENERATION stage; each candidate is then
    re-scored by exact query-document cosine and re-ranked on the
    fresh score. This is the standard cross-encoder serving shape
    with the expensive scorer slot filled by an embedding dot product
    — the candidate list is rank-bounded (20 rows), so ANY per-pair
    scorer fits in the rerank slot at production scale; the plumbing
    (bounded candidate frame, broadcast rerank join, NULL policy for
    unscorable candidates) is what this query pins.

    Candidates the dense index cannot score (no embedding row — the
    lexical retriever surfaces docs outside the embedded subset) keep
    cos = NULL and sort after every scored candidate
    (desc_nulls_last), tie-broken by doc_id on both engines.

    Scale shape: candidate generation is the audited hybrid fusion
    (heap top-k per retriever), materialized as a 20-row frame; the
    corpus is then scanned ONCE, semi-filtered by that broadcast
    20-row list (BuildRight — a broadcast hint on the PRESERVED side
    of an outer join is unhonorable, so the outer join happens only
    between the two bounded frames), and the <=20 matched vectors
    broadcast back onto the candidate list. The final rank window
    runs over exactly 20 rows.
    """
    from real_time_data_pipeline_spark.operators.similarity import dot, norm

    emb = load_table(spark, sf_dir, "embeddings")
    # persist_tracked, NOT reliable_materialize: both truncate the
    # double-consumption (the 20-row candidate list feeds the corpus
    # semi-filter AND the final left join), but a checkpoint REPLACES
    # the plan with an opaque RDD scan — hiding the fusion's
    # TakeOrderedAndProject heaps from the bounded-window plan audit
    # that proves this query's rank window safe. The persisted plan
    # keeps the cached child visible, so the boundedness proof stays
    # machine-checkable.
    cand = persist_tracked(
        rrf_fused(_bm25_corpus_scored(spark, sf_dir), emb).select("doc_id", "rrf")
    )
    qv = (
        emb.where(F.col("vec_id") == RRF_QUERY_VEC_ID)
        .select(F.col("embedding").cast("array<double>").alias("qv"))
        .withColumn("nq", norm(F.col("qv")))
    )
    vecs = emb.where(F.col("vec_id") != RRF_QUERY_VEC_ID).select(
        F.col("vec_id").alias("doc_id"),
        F.col("embedding").cast("array<double>").alias("cv"),
    )
    cos = F.round(
        dot(F.col("qv"), F.col("cv")) / (F.col("nq") * norm(F.col("cv"))), 6
    )
    # <=20 vector rows: the corpus-sized side is consumed exactly once,
    # inner-joined against the broadcast candidate list; candidates
    # without an embedding drop here and re-enter with cos=NULL via
    # the bounded left join below.
    matched = vecs.join(F.broadcast(cand.select("doc_id")), "doc_id")
    scored = (
        cand.join(F.broadcast(matched), "doc_id", "left")
        .crossJoin(F.broadcast(qv))
        .select(
            "doc_id",
            "rrf",
            F.when(F.col("cv").isNotNull(), cos).alias("cos"),
        )
    )
    order = [F.desc_nulls_last("cos"), F.asc("doc_id")]
    return scored.withColumn(
        "rerank", F.row_number().over(Window.orderBy(*order)).cast("long")
    ).select("doc_id", "rrf", "cos", "rerank")


def rrf_lex_ranked(bm_scored: DataFrame) -> DataFrame:
    """(doc_id, lex_rank) — the lexical retriever's heap
    top-``RRF_DEPTH`` list from a (doc_id, bm25) scored frame."""
    bm_order = [F.desc("bm25"), F.asc("doc_id")]
    return (
        bm_scored.orderBy(*bm_order)
        .limit(RRF_DEPTH)
        .withColumn("lex_rank", F.row_number().over(Window.orderBy(*bm_order)))
        .select("doc_id", F.col("lex_rank").cast("long").alias("lex_rank"))
    )


def rrf_fuse_ranked(bmrank: DataFrame, vecrank: DataFrame) -> DataFrame:
    """Fuse two bounded ranked lists — (doc_id, lex_rank) and
    (doc_id, vec_rank) — by reciprocal-rank sum. Retriever-agnostic:
    the exact-cosine query, the maintained-state probe, and the
    IVF-served variant all end here, so swapping a retriever can
    never change the fusion semantics."""
    rrf = F.round(
        F.coalesce(F.lit(1.0) / (F.lit(RRF_K) + F.col("lex_rank")), F.lit(0.0))
        + F.coalesce(F.lit(1.0) / (F.lit(RRF_K) + F.col("vec_rank")), F.lit(0.0)),
        6,
    )
    fused = bmrank.join(vecrank, "doc_id", "full_outer").select(
        "doc_id", rrf.alias("rrf"), "lex_rank", "vec_rank"
    )
    out_order = [F.desc("rrf"), F.asc("doc_id")]
    top = fused.orderBy(*out_order).limit(20)
    return top.withColumn(
        "rk", F.row_number().over(Window.orderBy(*out_order))
    ).select("doc_id", "rrf", "lex_rank", "vec_rank", "rk")


_ZIPF_ORACLE = """
    WITH w AS (
      SELECT unnest(string_split_regex(trim(text), '\\s+')) AS word
      FROM documents WHERE length(trim(text)) > 0
    ), freq AS (
      SELECT word, count(*) AS c FROM w GROUP BY 1
    ), ranked AS (
      SELECT word, c,
             row_number() OVER (ORDER BY c DESC, word) AS rnk
      FROM freq
    )
    SELECT CAST(count(*) AS BIGINT) AS n_terms,
           CAST(sum(c) AS BIGINT) AS n_tokens,
           round(regr_slope(ln(c * 1.0), ln(rnk * 1.0)), 4) AS zipf_slope,
           round(regr_r2(ln(c * 1.0), ln(rnk * 1.0)), 4) AS zipf_r2
    FROM ranked
"""


@query("text_zipf_slope", oracle=_ZIPF_ORACLE)
def q_zipf_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf rank-frequency fit over the corpus vocabulary: the
    log-log regression slope (natural text ≈ −1) and its R² — a
    one-row corpus-health indicator that flags synthetic or
    boilerplate-heavy corpora whose term distribution goes flat or
    cliff-shaped.

    Scale shape: one word-keyed aggregate (vocabulary-sized output),
    a global rank window over the vocab — zipf-bounded, orders of
    magnitude smaller than the corpus — and a single-row regression
    aggregate. The raw corpus is scanned exactly once.
    """
    from real_time_data_pipeline_spark.operators.similarity import _fan_out

    docs = load_table(spark, sf_dir, "documents")
    freq = (
        _fan_out(docs.where(F.length(F.trim("text")) > 0), "doc_id")
        .select(F.explode(words("text")).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    from real_time_data_pipeline_spark.operators.ranking import grouped_row_number

    # rank EVERY vocabulary term scalably (a web-scale corpus has
    # billions of distinct tokens — no single-partition window)
    ranked = grouped_row_number(freq, [], [F.desc("c"), F.asc("word")], rn_col="rnk")
    ln_c = F.log(F.col("c").cast("double"))
    ln_r = F.log(F.col("rnk").cast("double"))
    return ranked.agg(
        F.count(F.lit(1)).alias("n_terms"),
        F.sum("c").alias("n_tokens"),
        F.round(F.regr_slope(ln_c, ln_r), 4).alias("zipf_slope"),
        F.round(F.regr_r2(ln_c, ln_r), 4).alias("zipf_r2"),
    )


_CONFUSION_ORACLE = (
    """
    WITH scored AS (
      SELECT doc_id, lang,
    """
    + ",\n".join(f"         CAST({_sql_hits(lg)} AS BIGINT) AS hits_{lg}" for lg in _LANGS)
    + f"""
      FROM documents
    ), best AS (
      SELECT *, greatest({", ".join("hits_" + lg for lg in _LANGS)}) AS mx FROM scored
    ), pred AS (
      SELECT lang AS lang_declared,
        CASE
    """
    + "\n".join(f"    WHEN mx > 0 AND hits_{lg} = mx THEN '{lg}'" for lg in _LANGS)
    + """
          ELSE 'und' END AS lang_pred
      FROM best
    )
    SELECT lang_declared, lang_pred, count(*) AS n_docs,
           round(count(*) * 1.0 / sum(count(*)) OVER (PARTITION BY lang_declared), 6)
             AS share_of_declared
    FROM pred
    GROUP BY 1, 2
"""
)


@query("text_langid_confusion", oracle=_CONFUSION_ORACLE)
def q_langid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID confusion matrix: declared vs detected language
    with per-declared-language shares — the accuracy dashboard for the
    stopword classifier, and the template for evaluating ANY cheap
    heuristic against a labeled column at corpus scale.

    Scale shape: the detection is pure codegen column arithmetic on
    the single corpus scan; the matrix is a tiny two-key aggregate
    (|langs|² rows) plus a window over it.
    """
    docs = load_table(spark, sf_dir, "documents")
    pred = docs.select(
        F.col("lang").alias("lang_declared"), lang_id("text").alias("lang_pred")
    )
    counts = pred.groupBy("lang_declared", "lang_pred").agg(
        F.count(F.lit(1)).alias("n_docs")
    )
    per_declared = Window.partitionBy("lang_declared")
    return counts.select(
        "lang_declared",
        "lang_pred",
        "n_docs",
        F.round(
            F.col("n_docs") / F.sum("n_docs").over(per_declared), 6
        ).alias("share_of_declared"),
    )


def _cross_source_oracle() -> str:
    # Near-dup pairs reuse the EXACT oracle of dedup_ngram_jaccard_pairs
    # as a nested CTE, so the matrix can never drift from the pair
    # definition it aggregates.
    from real_time_data_pipeline_spark.queries.similarity import (
        _CAPPED_JACCARD_ORACLE,
    )

    return f"""
    WITH p AS ({_CAPPED_JACCARD_ORACLE}),
    labeled AS (
      SELECT least(da.source, db.source) AS source_a,
             greatest(da.source, db.source) AS source_b,
             (da.source <> db.source) AS cross_source
      FROM p
        JOIN documents da ON p.id_a = da.doc_id
        JOIN documents db ON p.id_b = db.doc_id
    )
    SELECT source_a, source_b, cross_source, count(*) AS n_dup_pairs
    FROM labeled GROUP BY 1, 2, 3
    """


@query("corpus_cross_source_dup", oracle=_cross_source_oracle())
def q_cross_source_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source contamination matrix: near-duplicate pairs (3-gram
    Jaccard, same capped inverted-index definition as
    `dedup_ngram_jaccard_pairs`) rolled up by ORDERED source pair with
    a cross-source flag — the curation view that shows which feeds are
    re-crawls or mirrors of each other (within-source dups are handled
    by keep-one; cross-source dups decide which SOURCE to drop or
    down-weight).

    Scale shape: inherits the capped-bucket pair generator (no
    all-pairs join); the source lookup joins the pair list — tiny
    relative to the corpus — back to the documents table on doc_id,
    and the final matrix is at most |sources|² rows.
    """
    from real_time_data_pipeline_spark.queries.similarity import (
        _jaccard_pairs_shared,
    )

    docs = load_table(spark, sf_dir, "documents")
    pairs = _jaccard_pairs_shared(spark, sf_dir)
    src = docs.select("doc_id", "source")
    labeled = (
        pairs.join(src.withColumnsRenamed({"doc_id": "id_a", "source": "sa"}), "id_a")
        .join(src.withColumnsRenamed({"doc_id": "id_b", "source": "sb"}), "id_b")
        .select(
            F.least("sa", "sb").alias("source_a"),
            F.greatest("sa", "sb").alias("source_b"),
            (F.col("sa") != F.col("sb")).alias("cross_source"),
        )
    )
    return labeled.groupBy("source_a", "source_b", "cross_source").agg(
        F.count(F.lit(1)).alias("n_dup_pairs")
    )


# Count-Min sketch geometry: depth 3 salted hash rows, width 256
# buckets. Small by design so the sketch error is visible in the
# output; production widens w to ~1/epsilon.
CM_SALTS = ("cm0", "cm1", "cm2")
CM_WIDTH = 256
CM_TOPK = 10


def _cm_bucket_sql(salt: str) -> str:
    return f"CAST(('0x' || substr(md5('{salt}' || word), 1, 8)) AS BIGINT) % {CM_WIDTH}"


_CM_ORACLE = (
    """
    WITH w AS (
      SELECT unnest(string_split_regex(trim(text), '\\s+')) AS word
      FROM documents WHERE length(trim(text)) > 0
    ), exact AS (
      SELECT word, count(*) AS c FROM w GROUP BY 1
    ), rows_ AS (
    """
    + "\nUNION ALL\n".join(
        f"SELECT {i} AS salt_id, {_cm_bucket_sql(s)} AS bucket, count(*) AS bc "
        f"FROM w GROUP BY 2"
        for i, s in enumerate(CM_SALTS)
    )
    + f"""
    ), topk AS (
      SELECT word, c, row_number() OVER (ORDER BY c DESC, word) AS rk
      FROM exact QUALIFY rk <= {CM_TOPK}
    )
    SELECT t.word, t.c AS exact_count,
           CAST(min(r.bc) AS BIGINT) AS cm_estimate, t.rk
    FROM topk t
    JOIN rows_ r ON r.bucket = CASE r.salt_id
    """
    + "".join(
        f" WHEN {i} THEN {_cm_bucket_sql(s).replace('word', 't.word')}"
        for i, s in enumerate(CM_SALTS)
    )
    + """
      END
    GROUP BY 1, 2, 4
"""
)


@query("text_countmin_heavy_hitters", oracle=_CM_ORACLE)
def q_countmin_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min sketch heavy hitters: the exact top-10 words next to
    their sketch estimate (min over 3 salted hash rows of 256
    buckets) — the constant-memory frequency structure a streaming
    pipeline keeps when the vocabulary itself is too big to hold. The
    sketch never undercounts (estimate ≥ exact, by construction, and
    the driver hash-checks the estimates value-for-value).

    Scale shape: the sketch build is depth × one bucket-keyed
    aggregate of at most `width` rows each — constant output size
    regardless of corpus size — and the top-k probe joins those
    constant-size rows. The corpus is scanned once into word counts;
    nothing else scales with input.
    """
    from real_time_data_pipeline_spark.operators.similarity import _fan_out
    from real_time_data_pipeline_spark.operators.text import hash32

    docs = load_table(spark, sf_dir, "documents")
    w = (
        _fan_out(docs.where(F.length(F.trim("text")) > 0), "doc_id")
        .select(F.explode(words("text")).alias("word"))
        .transform(persist_tracked)  # feeds exact counts AND all sketch rows (lazy persist, r15)
    )

    def bucket(word_col, salt: str):
        return (hash32(F.concat(F.lit(salt), word_col)) % CM_WIDTH).alias("bucket")

    sketch = None
    for i, s in enumerate(CM_SALTS):
        row = (
            w.select(F.lit(i).alias("salt_id"), bucket(F.col("word"), s))
            .groupBy("salt_id", "bucket")
            .agg(F.count(F.lit(1)).alias("bc"))
        )
        sketch = row if sketch is None else sketch.unionAll(row)
    exact = w.groupBy("word").agg(F.count(F.lit(1)).alias("c"))
    # heap top-k over the vocabulary (TakeOrderedAndProject), then
    # rank only the k survivors — no vocabulary-wide window
    cm_order = [F.desc("c"), F.asc("word")]
    topk = (
        exact.orderBy(*cm_order)
        .limit(CM_TOPK)
        .withColumn("rk", F.row_number().over(Window.orderBy(*cm_order)))
    )
    probe = None
    for i, s in enumerate(CM_SALTS):
        p = topk.select(
            "word", F.col("c"), "rk", F.lit(i).alias("salt_id"),
            bucket(F.col("word"), s),
        )
        probe = p if probe is None else probe.unionAll(p)
    return (
        probe.join(F.broadcast(sketch), ["salt_id", "bucket"])
        .groupBy("word", F.col("c").alias("exact_count"), "rk")
        .agg(F.min("bc").cast("long").alias("cm_estimate"))
        .select("word", "exact_count", "cm_estimate", "rk")
    )


# Bloom geometry: 3 salted hash functions into 2^14 bit positions.
BLOOM_SALTS = ("b0", "b1", "b2")
BLOOM_BITS = 16384


def _bloom_pos_sql(salt: str, expr: str = "g") -> str:
    return f"CAST(('0x' || substr(md5('{salt}' || {expr}), 1, 8)) AS BIGINT) % {BLOOM_BITS}"


_BLOOM_ORACLE = (
    f"""
    WITH words AS (
      SELECT doc_id, string_split_regex(trim(text), '\\s+') AS w
      FROM documents WHERE length(trim(text)) > 0
    ), grams AS (
      SELECT DISTINCT doc_id, array_to_string(w[i:i+4], ' ') AS g
      FROM (SELECT doc_id, w, unnest(range(1, greatest(len(w) - 3, 1))) AS i
            FROM words)
      WHERE len(w) >= 5
    ), bench AS (
      SELECT DISTINCT g FROM grams WHERE doc_id < 20
    ), cand AS (
      SELECT DISTINCT g FROM grams WHERE doc_id >= 20
    ), bits AS (
    """
    + " UNION ".join(f"SELECT DISTINCT {_bloom_pos_sql(s)} AS pos FROM bench" for s in BLOOM_SALTS)
    + """
    ), hits AS (
      SELECT c.g,
    """
    + " AND ".join(
        f"EXISTS (SELECT 1 FROM bits WHERE pos = {_bloom_pos_sql(s, 'c.g')})"
        for s in BLOOM_SALTS
    )
    + """
             AS bloom_maybe,
           EXISTS (SELECT 1 FROM bench b WHERE b.g = c.g) AS true_hit
      FROM cand c
    )
    SELECT count(*) AS n_candidate_grams,
           CAST(sum(CASE WHEN bloom_maybe THEN 1 ELSE 0 END) AS BIGINT) AS n_bloom_maybe,
           CAST(sum(CASE WHEN true_hit THEN 1 ELSE 0 END) AS BIGINT) AS n_true_hits,
           CAST(sum(CASE WHEN bloom_maybe AND NOT true_hit THEN 1 ELSE 0 END) AS BIGINT)
             AS n_false_positives,
           CAST(sum(CASE WHEN true_hit AND NOT bloom_maybe THEN 1 ELSE 0 END) AS BIGINT)
             AS n_false_negatives
    FROM hits
"""
)


@query("contamination_bloom_prefilter", oracle=_BLOOM_ORACLE)
def q_bloom_prefilter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter decontamination prefilter, measured against exact
    membership: benchmark 5-grams (docs < 20) populate a 16 Ki-bit /
    3-hash Bloom; candidate corpus grams test against it. The one-row
    summary pins candidate volume, Bloom pass-throughs, true hits,
    false positives — and a false-negative count the oracle proves is
    structurally ZERO (a Bloom filter never misses a real member).

    The 100 TB shape this models: the bit array (2 KiB here, a few
    hundred MB in production) broadcasts to every executor, filters
    the full corpus scan down to the tiny maybe-set, and only THAT
    set pays the exact verification join — same prefilter-then-verify
    architecture as the LSH families. Positions are deterministic
    salted md5, so both engines build bit-identical filters.

    CONSTRUCTION-TIME EAGERNESS (ADVICE r15 #2): unlike the other q_*
    builders this function runs a Spark job (the bounded
    bench-position collect that builds the bit literal) when the
    DataFrame is BUILT, not when it is executed — plan-only callers
    (explain, plan dumps) pay that job. Accepted per the repo's
    bounded-metadata-collect pattern; the filter build is the
    prefilter's point.
    """
    from real_time_data_pipeline_spark.operators.similarity import _fan_out
    from real_time_data_pipeline_spark.operators.text import hash32

    docs = load_table(spark, sf_dir, "documents")
    # ONE gram-grain aggregate (r15 optimization) replaces the old
    # doc-grain postings distinct + checkpoint + per-side gram
    # distincts + exact-membership broadcast join: each distinct gram
    # carries which side(s) it appears on, so `true_hit` for a
    # candidate gram is just its bench flag — same distinct-gram
    # semantics (the oracle's bench/cand CTEs), one shuffle instead of
    # four and no disk round-trip, at any corpus size.
    gstats = (
        _fan_out(docs.where(F.length(F.trim("text")) > 0), "doc_id")
        .select(
            (F.col("doc_id") < 20).alias("is_bench"),
            F.explode(word_shingles("text", 5)).alias("g"),
        )
        .groupBy("g")
        .agg(
            F.max("is_bench").alias("in_bench"),
            F.max(~F.col("is_bench")).alias("in_cand"),
        )
        .transform(persist_tracked)  # feeds the bits build + the cand flag chain
    )
    bench = gstats.where(F.col("in_bench")).select("g")

    def pos(col, salt: str):
        return (hash32(F.concat(F.lit(salt), col)) % BLOOM_BITS)

    # Build the bit array ON THE DRIVER and ship it as a literal — the
    # guide §3.2 Bloom pattern (r15 optimization). The array is BOUNDED
    # BY CONSTRUCTION at BLOOM_BITS bits (2 KiB here; a few hundred MB
    # in production it would move to a broadcast variable) regardless
    # of corpus size, exactly like the registry's other bounded-
    # metadata collects. This removes the per-salt semi-join chain and
    # its broadcast builds: membership tests become one row-local
    # substring per salt inside the same codegen stage as the flags.
    set_positions = {
        r["pos"]
        for r in bench.select(
            F.explode(
                F.array(*[pos(F.col("g"), s) for s in BLOOM_SALTS])
            ).alias("pos")
        )
        .distinct()
        .collect()
    }
    bitstr = "".join(
        "1" if i in set_positions else "0" for i in range(BLOOM_BITS)
    )
    bloom_maybe = None
    for s in BLOOM_SALTS:
        hit = (
            F.substring(F.lit(bitstr), (pos(F.col("g"), s) + 1).cast("int"), 1)
            == "1"
        )
        bloom_maybe = hit if bloom_maybe is None else (bloom_maybe & hit)
    hits = gstats.where(F.col("in_cand")).select(
        bloom_maybe.alias("bloom_maybe"),
        F.col("in_bench").alias("true_hit"),
    )
    t, f_ = F.col("bloom_maybe"), F.col("true_hit")
    return hits.agg(
        F.count(F.lit(1)).alias("n_candidate_grams"),
        F.sum(t.cast("long")).alias("n_bloom_maybe"),
        F.sum(f_.cast("long")).alias("n_true_hits"),
        F.sum((t & ~f_).cast("long")).alias("n_false_positives"),
        F.sum((f_ & ~t).cast("long")).alias("n_false_negatives"),
    )


@query(
    "corpus_length_terciles_by_lang",
    oracle="""
    WITH scored AS (
      SELECT lang, n_chars,
             ntile(3) OVER (PARTITION BY lang ORDER BY n_chars, doc_id) AS tercile
      FROM documents
    )
    SELECT lang, tercile,
           count(*) AS n_docs,
           min(n_chars) AS min_chars,
           max(n_chars) AS max_chars,
           CAST(sum(n_chars) AS BIGINT) AS total_chars
    FROM scored GROUP BY 1, 2
    """,
)
def q_length_terciles_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style per-language bucketing (here by document length;
    swap in any per-doc quality score): exact terciles WITHIN each
    language, rolled up to bucket stats — the head/middle/tail split
    every corpus-curation pipeline runs before choosing what to keep.

    Scale shape: `ntile() OVER (PARTITION BY lang)` funnels each
    language through ONE task — and a web corpus puts billions of
    docs in 'en'. The terciles instead come from
    operators/ranking.grouped_exact_ntile: one range shuffle on
    (lang, length, id) so a language spans a contiguous RUN of
    partitions, per-(partition, lang) local ranks, and
    per-(lang, partition) broadcast offsets. Bit-identical to the
    windowed oracle."""
    from real_time_data_pipeline_spark.operators.ranking import grouped_exact_ntile

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    scored = grouped_exact_ntile(
        docs, 3, ["lang"], [F.asc("n_chars"), F.asc("doc_id")], "tercile"
    )
    return scored.groupBy("lang", "tercile").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.min("n_chars").alias("min_chars"),
        F.max("n_chars").alias("max_chars"),
        F.sum("n_chars").alias("total_chars"),
    )


_MULTI_QUINTILE_ORACLE = """
    WITH d AS (
      SELECT doc_id, lang, n_chars,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
      FROM documents
      WHERE doc_id IS NOT NULL AND text IS NOT NULL
        AND n_chars IS NOT NULL
    ), q AS (
      SELECT lang, n_chars,
             ntile(5) OVER (PARTITION BY lang ORDER BY n_chars, doc_id)
               AS len_quintile,
             ntile(5) OVER (PARTITION BY lang ORDER BY n_tokens, doc_id)
               AS tok_quintile
      FROM d
    )
    SELECT lang,
           CAST(len_quintile AS BIGINT) AS len_quintile,
           CAST(tok_quintile AS BIGINT) AS tok_quintile,
           count(*) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS total_chars
    FROM q GROUP BY 1, 2, 3
"""


@query("corpus_multi_quintiles_by_lang", oracle=_MULTI_QUINTILE_ORACLE)
def q_multi_quintiles_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language length × token-count quintile grid — the
    two-metric CCNet-style cut (`corpus_length_terciles_by_lang` is
    the one-metric form): every document scored into a within-language
    quintile on BOTH raw length and whitespace token count, rolled up
    to the ≤25-cell-per-language grid. The off-diagonal cells are the
    curation signal (long docs with few tokens = markup/binary junk;
    short docs with many tokens = fragment spam).

    Scale shape: both quintile assignments come from ONE range
    exchange via `grouped_multi_metric_ntiles` (the motivating shape
    in its docstring) — the frame explodes into (lang, metric_id,
    value) rows, one grouped row_number ranks every (lang, metric)
    partition run, and the closed-form ANSI bucket arithmetic gives
    each quintile; chained `grouped_exact_ntile` calls would pay one
    range shuffle PER metric over the same corpus. Bit-identical to
    the two windowed oracles (doc_id tie-break); mega-languages span
    a RUN of partitions, never one task.

    NULL discipline: rows with NULL doc_id/text/n_chars are excluded
    on BOTH sides — the multi-metric operator's contract is non-NULL
    metrics (Spark ranks NULLs first, a DuckDB oracle last, so a NULL
    metric can never hash-match), and a NULL tie-break id would make
    the assignment non-deterministic. NULL lang needs no filter:
    grouped ranking gives it its own partition on both engines.
    """
    from real_time_data_pipeline_spark.operators.ranking import (
        grouped_multi_metric_ntiles,
    )

    docs = (
        load_table(spark, sf_dir, "documents")
        .where(
            F.col("doc_id").isNotNull()
            & F.col("text").isNotNull()
            & F.col("n_chars").isNotNull()
        )
        .select(
            "doc_id",
            "lang",
            "n_chars",
            F.size(F.split("text", " ")).alias("n_tokens"),
        )
    )
    q = grouped_multi_metric_ntiles(
        docs,
        5,
        [F.col("n_chars"), F.col("n_tokens")],
        ["lang"],
        "doc_id",
        ["len_quintile", "tok_quintile"],
        carry=["n_chars"],
    )
    return q.groupBy(
        "lang",
        F.col("len_quintile").cast("long").alias("len_quintile"),
        F.col("tok_quintile").cast("long").alias("tok_quintile"),
    ).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
    )


@query(
    "multimodal_shard_plan",
    oracle="""
    WITH p AS (
      SELECT doc_id, CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
             sum(CAST(octet_length(encode(text)) AS BIGINT))
               OVER (ORDER BY doc_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      FROM documents
    )
    SELECT CAST((cum - n_bytes) // 65536 AS BIGINT) AS shard_id,
           count(*) AS n_docs,
           CAST(sum(n_bytes) AS BIGINT) AS shard_bytes,
           min(doc_id) AS first_doc,
           max(doc_id) AS last_doc
    FROM p GROUP BY 1
    """,
)
def q_multimodal_shard_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WebDataset-style shard packing plan for binary payloads: docs in
    id order are packed into ~64 KiB shards by START OFFSET (a doc
    whose payload straddles a boundary belongs to the shard its first
    byte falls in), with per-shard doc count, bytes, and the
    contiguous id range a tar writer needs. The multimodal twin of
    `sequence_packing_plan` — bytes instead of tokens.

    Scale shape: the running byte offset is operators/ranking's
    `global_prefix_sums` (range repartition + per-partition running sum
    + broadcast offsets) — bit-identical to the ANSI running-sum
    window the oracle uses, with no single-partition window — and the
    shard rollup is one hash aggregate on the shard id.
    """
    from real_time_data_pipeline_spark.operators.ranking import global_prefix_sums

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.length(F.encode(F.col("text"), "UTF-8")).cast("long").alias("n_bytes"),
    )
    cum = global_prefix_sums(docs, [F.asc("doc_id")], ["n_bytes"], ["cum"])
    return (
        cum.withColumn(
            "shard_id",
            F.expr("CAST((cum - n_bytes) div 65536 AS BIGINT)"),
        )
        .groupBy("shard_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_bytes").alias("shard_bytes"),
            F.min("doc_id").alias("first_doc"),
            F.max("doc_id").alias("last_doc"),
        )
    )


# --- r8: staged curation funnel ---------------------------------------

_FUNNEL_ORACLE = f"""
    WITH base AS (
      SELECT doc_id, text,
             CASE WHEN length(trim(text)) = 0 THEN []::VARCHAR[]
                  ELSE string_split_regex(trim(text), '\\s+') END AS w
      FROM documents
    ), feats AS (
      SELECT doc_id, text,
             CAST(len(w) AS BIGINT) AS n_tokens,
             list_sum(list_transform(w, x -> CAST(length(x) AS BIGINT)))
               / greatest(len(w), 1) AS avg_token_len,
             {_sql_stop_ratio()}
               AS stopword_ratio,
    """ + ",\n".join(
    f"         CAST({_sql_hits(lg)} AS BIGINT) AS hits_{lg}"
    for lg in LANG_STOPWORDS
) + f"""
      FROM base
    ), flags AS (
      SELECT doc_id, text,
             n_tokens >= 20 AS f1,
             n_tokens >= 20 AND avg_token_len BETWEEN 2 AND 10 AS f2,
             n_tokens >= 20 AND avg_token_len BETWEEN 2 AND 10
               AND stopword_ratio >= 0.02 AS f3,
             n_tokens >= 20 AND avg_token_len BETWEEN 2 AND 10
               AND stopword_ratio >= 0.02
               AND greatest({", ".join("hits_" + lg for lg in LANG_STOPWORDS)}) > 0
               AND hits_en = greatest(
                     {", ".join("hits_" + lg for lg in LANG_STOPWORDS)})
               AS f4
      FROM feats
    ), c AS (
      SELECT CAST(count(*) AS BIGINT) AS n0,
             CAST(sum(CASE WHEN f1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
             CAST(sum(CASE WHEN f2 THEN 1 ELSE 0 END) AS BIGINT) AS n2,
             CAST(sum(CASE WHEN f3 THEN 1 ELSE 0 END) AS BIGINT) AS n3,
             CAST(sum(CASE WHEN f4 THEN 1 ELSE 0 END) AS BIGINT) AS n4,
             CAST(count(DISTINCT CASE WHEN f4 THEN md5(text) END) AS BIGINT)
               AS n5
      FROM flags
    )
    SELECT * FROM (
      SELECT 1 AS stage, 'min_length' AS gate, n0 AS n_in, n1 AS n_out,
             round(n1 * 1.0 / greatest(n0, 1), 6) AS retained FROM c
      UNION ALL SELECT 2, 'token_shape', n1, n2,
             round(n2 * 1.0 / greatest(n1, 1), 6) FROM c
      UNION ALL SELECT 3, 'stopword_density', n2, n3,
             round(n3 * 1.0 / greatest(n2, 1), 6) FROM c
      UNION ALL SELECT 4, 'lang_en', n3, n4,
             round(n4 * 1.0 / greatest(n3, 1), 6) FROM c
      UNION ALL SELECT 5, 'exact_dedup', n4, n5,
             round(n5 * 1.0 / greatest(n4, 1), 6) FROM c
    )
"""


@query("corpus_filter_funnel", oracle=_FUNNEL_ORACLE)
def q_corpus_filter_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-stage survivor accounting for the curation pipeline: the
    quality gates of `corpus_quality_filter` plus an exact-dedup
    stage, reported as a funnel (stage, n_in, n_out, retained) — the
    report a data owner reads to see WHICH gate is eating the corpus
    before re-tuning thresholds. Stage expressions are the SAME
    column expressions the filter query uses, so the funnel's stage-4
    output count always equals the filter's survivor count.

    Scale shape: ONE codegen scan computes every stage flag
    cumulatively (a row's stage-k flag implies its stage-(k-1) flag),
    a single hash aggregate folds them into six conditional counts
    (exact-dedup survivors = distinct content hash among final-gate
    rows — keep-one keeps exactly one per group), and the 5-row
    funnel is driver-side literal assembly from that one aggregate
    row. No joins, no windows, no second pass at any corpus size.
    """
    docs = load_table(spark, sf_dir, "documents")
    feats = quality_features("text")
    f1 = feats["n_tokens"] >= 20
    f2 = f1 & feats["avg_token_len"].between(2, 10)
    f3 = f2 & (feats["stopword_ratio"] >= 0.02)
    f4 = f3 & (lang_id("text") == "en")
    c = docs.agg(
        F.count(F.lit(1)).alias("n0"),
        F.sum(f1.cast("long")).alias("n1"),
        F.sum(f2.cast("long")).alias("n2"),
        F.sum(f3.cast("long")).alias("n3"),
        F.sum(f4.cast("long")).alias("n4"),
        F.count_distinct(F.when(f4, F.md5("text"))).alias("n5"),
    )
    gates = ["min_length", "token_shape", "stopword_density", "lang_en", "exact_dedup"]
    return c.selectExpr(
        "inline(array("
        + ", ".join(
            # CAST ... AS DOUBLE, not "* 1.0": a 1.0 literal is
            # DECIMAL in Spark SQL, and a decimal output column
            # stringifies as "1.000000" where the oracle's float64
            # hashes "1.0" — rows match, external value-hash doesn't
            f"struct({i + 1} AS stage, '{g}' AS gate, n{i} AS n_in, "
            f"n{i + 1} AS n_out, "
            f"round(n{i + 1} / CAST(greatest(n{i}, 1) AS DOUBLE), 6) AS retained)"
            for i, g in enumerate(gates)
        )
        + "))"
    )


# --- r8: cross-split duplicate leakage --------------------------------

_LEAKAGE_ORACLE = f"""
    WITH lab AS (
      SELECT md5(text) AS h,
             CASE WHEN {_SPLIT_BUCKET} < 80 THEN 'train'
                  WHEN {_SPLIT_BUCKET} < 90 THEN 'val'
                  ELSE 'test' END AS split
      FROM documents
    ), g AS (
      SELECT h,
             CAST(sum(CASE WHEN split = 'train' THEN 1 ELSE 0 END) AS BIGINT)
               AS c_tr,
             CAST(sum(CASE WHEN split = 'val' THEN 1 ELSE 0 END) AS BIGINT)
               AS c_va,
             CAST(sum(CASE WHEN split = 'test' THEN 1 ELSE 0 END) AS BIGINT)
               AS c_te
      FROM lab GROUP BY h
    )
    SELECT CAST(sum(CASE WHEN c_tr + c_va + c_te > 1 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_dup_groups,
           CAST(sum(c_tr * c_va) AS BIGINT) AS pairs_train_val,
           CAST(sum(c_tr * c_te) AS BIGINT) AS pairs_train_test,
           CAST(sum(c_va * c_te) AS BIGINT) AS pairs_val_test,
           CAST(sum((c_tr * (c_tr - 1) + c_va * (c_va - 1)
                     + c_te * (c_te - 1)) // 2) AS BIGINT) AS pairs_intra
    FROM g
"""


@query("data_cross_split_leakage", oracle=_LEAKAGE_ORACLE)
def q_cross_split_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """How much eval contamination a NAIVE per-document hash split
    causes: exact-duplicate pairs whose members land in different
    splits (a test doc whose twin is in train is a leaked answer).
    The diagnostic read before adopting `data_leakage_safe_split`,
    which closes exactly this hole by splitting on the content group.

    Scale shape: one content-hash aggregate folds each duplicate
    group into three per-split counts; every pair count is then pure
    arithmetic on group sizes (c_tr·c_va cross pairs, n·(n−1)/2
    intra) summed in a second 1-row aggregate — duplicate PAIRS are
    never materialized, so a million-copy swarm costs one row, not
    10^12 pairs.
    """
    from real_time_data_pipeline_spark.operators.sampling import hash_split

    docs = hash_split(load_table(spark, sf_dir, "documents"), "doc_id")
    g = (
        docs.select(F.md5("text").alias("h"), "split")
        .groupBy("h")
        .agg(
            F.sum((F.col("split") == "train").cast("long")).alias("c_tr"),
            F.sum((F.col("split") == "val").cast("long")).alias("c_va"),
            F.sum((F.col("split") == "test").cast("long")).alias("c_te"),
        )
    )
    size = F.col("c_tr") + F.col("c_va") + F.col("c_te")
    intra = (
        F.col("c_tr") * (F.col("c_tr") - 1)
        + F.col("c_va") * (F.col("c_va") - 1)
        + F.col("c_te") * (F.col("c_te") - 1)
    )
    return g.agg(
        F.sum((size > 1).cast("long")).alias("n_dup_groups"),
        F.sum(F.col("c_tr") * F.col("c_va")).alias("pairs_train_val"),
        F.sum(F.col("c_tr") * F.col("c_te")).alias("pairs_train_test"),
        F.sum(F.col("c_va") * F.col("c_te")).alias("pairs_val_test"),
        F.sum(F.floor(intra / 2)).alias("pairs_intra"),
    )


# --- r8: deterministic k-fold assignment ------------------------------

_KFOLD_BUCKET = sql_hash_bucket("doc_id", "kfold", 5)

_KFOLD_ORACLE = f"""
    SELECT CAST({_KFOLD_BUCKET} AS INT) AS fold,
           count(*) AS n_docs,
           CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT)
             AS n_en,
           CAST(sum(n_chars) AS BIGINT) AS sum_chars,
           round(avg(n_chars), 6) AS avg_chars,
           min(doc_id) AS min_id
    FROM documents
    GROUP BY 1
"""


@query("data_kfold_folds", oracle=_KFOLD_ORACLE)
def q_kfold_folds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 5-fold cross-validation assignment with per-fold
    balance stats (size, language share, char mass) — the check that
    hash-based folds are exchangeable before training k models. Same
    md5 bucket arithmetic as `data_hash_split` (fold membership never
    moves when the corpus grows), different salt so folds are
    independent of the train/val/test cut.

    Scale shape: the fold id is a per-row md5 expression inside one
    codegen scan; the report is a single 5-group hash aggregate. No
    shuffle wider than 5 groups ever exists.
    """
    from real_time_data_pipeline_spark.operators.sampling import hash_bucket

    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.withColumn("fold", hash_bucket("doc_id", "kfold", 5).cast("int"))
        .groupBy("fold")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum((F.col("lang") == "en").cast("long")).alias("n_en"),
            F.sum("n_chars").alias("sum_chars"),
            F.round(F.avg("n_chars"), 6).alias("avg_chars"),
            F.min("doc_id").alias("min_id"),
        )
    )


# --- r8: payload-level storage dedup report ---------------------------

_PAYLOAD_DEDUP_ORACLE = """
    WITH g AS (
      SELECT md5(text) AS h,
             count(*) AS n,
             CAST(min(octet_length(encode(text))) AS BIGINT) AS b
      FROM documents GROUP BY 1
    )
    SELECT count(*) AS n_unique_payloads,
           CAST(sum(n) AS BIGINT) AS n_payloads,
           round(1.0 - count(*) * 1.0 / sum(n), 6) AS dup_ratio,
           CAST(sum(n * b) AS BIGINT) AS bytes_total,
           CAST(sum(b) AS BIGINT) AS bytes_after_dedup,
           CAST(sum((n - 1) * b) AS BIGINT) AS bytes_saved
    FROM g
"""


@query("multimodal_payload_dedup", oracle=_PAYLOAD_DEDUP_ORACLE)
def q_multimodal_payload_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-addressed storage accounting over the opaque BINARY
    payload column (the multimodal pattern: dedup by payload hash
    before feature extraction — decoding the same image twice is the
    classic waste in a crawl-scale media pipeline). Reports unique
    payload count, duplicate ratio, and the exact bytes a
    hash-addressed store saves.

    Scale shape: one hash aggregate on the 128-bit content hash
    (uniform keys — no skew) carrying (count, payload bytes); the
    report is a second 1-row aggregate of pure arithmetic. Payload
    BYTES never shuffle — only hashes and lengths do.
    """
    from real_time_data_pipeline_spark.operators.multimodal import (
        documents_as_media,
    )

    media = documents_as_media(load_table(spark, sf_dir, "documents"))
    g = (
        media.select(
            F.md5("payload").alias("h"), F.length("payload").cast("long").alias("nb")
        )
        .groupBy("h")
        .agg(F.count(F.lit(1)).alias("n"), F.min("nb").alias("b"))
    )
    return g.agg(
        F.count(F.lit(1)).alias("n_unique_payloads"),
        F.sum("n").alias("n_payloads"),
        F.round(1.0 - F.count(F.lit(1)) / F.sum("n"), 6).alias("dup_ratio"),
        F.sum(F.col("n") * F.col("b")).alias("bytes_total"),
        F.sum("b").alias("bytes_after_dedup"),
        F.sum((F.col("n") - 1) * F.col("b")).alias("bytes_saved"),
    )


# --- r8: vocabulary coverage curve ------------------------------------

_VOCAB_KS = (100, 500, 2000)

_VOCAB_COVERAGE_ORACLE = f"""
    WITH tok AS (
      SELECT unnest(string_split_regex(trim(text), '\\s+')) AS word
      FROM documents WHERE length(trim(text)) > 0
    ), counts AS (
      SELECT word, count(*) AS n FROM tok GROUP BY 1
    ), ranked AS (
      SELECT n, row_number() OVER (ORDER BY n DESC, word) AS rk FROM counts
    ), tot AS (
      SELECT CAST(sum(n) AS BIGINT) AS total_tokens,
             CAST(count(*) AS BIGINT) AS n_types
      FROM counts
    )
    SELECT k, (SELECT n_types FROM tot) AS n_types,
           (SELECT total_tokens FROM tot) AS total_tokens,
           round(CAST(sum(CASE WHEN rk <= k THEN n ELSE 0 END) AS BIGINT)
                 * 1.0 / (SELECT total_tokens FROM tot), 6) AS coverage
    FROM ranked, (SELECT unnest([{", ".join(str(k) for k in _VOCAB_KS)}]) AS k)
    GROUP BY k
"""


@query("text_vocab_coverage_curve", oracle=_VOCAB_COVERAGE_ORACLE)
def q_vocab_coverage_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-occurrence coverage of the top-k vocabulary for k =
    {100, 500, 2000} — the curve a tokenizer owner reads to size the
    vocab (the Zipf mass above the OOV line). Deterministic rank:
    count desc, word asc.

    Scale shape: one word-count hash aggregate (vocab-sized, not
    corpus-sized), then `grouped_row_number`'s range shuffle ranks the
    vocabulary WITHOUT a single-partition window; coverage per k is a
    conditional sum against a 1-row broadcast total. The corpus text
    is scanned exactly once.
    """
    from real_time_data_pipeline_spark.operators.ranking import grouped_row_number
    from real_time_data_pipeline_spark.operators.text import words

    docs = load_table(spark, sf_dir, "documents")
    counts = (
        docs.where(F.length(F.trim("text")) > 0)
        .select(F.explode(words(F.col("text"))).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    ranked = grouped_row_number(counts, [], [F.desc("n"), F.asc("word")], rn_col="rk")
    tot = counts.agg(
        F.sum("n").alias("total_tokens"), F.count(F.lit(1)).alias("n_types")
    )
    ks = F.explode(F.array(*[F.lit(k) for k in _VOCAB_KS])).alias("k")
    per_k = ranked.select("n", "rk").crossJoin(
        F.broadcast(ranked.sparkSession.range(1).select(ks))
    )
    return (
        per_k.groupBy("k")
        .agg(F.sum(F.when(F.col("rk") <= F.col("k"), F.col("n")).otherwise(0)).alias("c"))
        .crossJoin(F.broadcast(tot))
        .select(
            F.col("k").cast("int").alias("k"),
            "n_types",
            "total_tokens",
            F.round(F.col("c") / F.col("total_tokens"), 6).alias("coverage"),
        )
    )


# --- r8: bigram conditional entropy -----------------------------------

_BIGRAM_ENTROPY_ORACLE = """
    WITH wlists AS (
      SELECT string_split_regex(trim(text), '\\s+') AS w
      FROM documents WHERE length(trim(text)) > 0
    ), bi AS (
      SELECT unnest(list_zip(w[1:len(w)-1], w[2:len(w)])) AS p
      FROM wlists WHERE len(w) >= 2
    ), bc AS (
      SELECT p[1] AS w1, p[2] AS w2, count(*) AS c
      FROM bi GROUP BY 1, 2
    ), uc AS (
      SELECT w1, CAST(sum(c) AS BIGINT) AS c1 FROM bc GROUP BY 1
    ), tot AS (
      SELECT CAST(sum(c) AS BIGINT) AS n FROM bc
    )
    SELECT (SELECT n FROM tot) AS n_bigrams,
           CAST(count(*) AS BIGINT) AS n_distinct_bigrams,
           round(sum((b.c * 1.0 / (SELECT n FROM tot))
                     * log2(u.c1 * 1.0 / b.c)), 6) AS cond_entropy_bits
    FROM bc b JOIN uc u ON b.w1 = u.w1
"""


@query("text_bigram_entropy", oracle=_BIGRAM_ENTROPY_ORACLE)
def q_text_bigram_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram conditional entropy H(w₂|w₁) of the corpus — the
    sequence-level counterpart of `text_word_entropy`: how predictable
    the next word is given the current one. A collapsing value under
    dedup iterations means the corpus is degenerating into templates;
    it is also the information-theoretic floor for a bigram LM's
    cross-entropy on this corpus.

    Scale shape: bigrams come from one in-row `arrays_zip` of two
    slices (codegen, no self-join), then two hash aggregates (bigram
    counts, then left-context marginals) and one join between them —
    all vocabulary-sized, not corpus-sized.
    """
    from real_time_data_pipeline_spark.operators.text import words

    docs = load_table(spark, sf_dir, "documents")
    w = words(F.col("text"))
    bi = (
        docs.where(F.length(F.trim("text")) > 0)
        .select(w.alias("w"))
        .where(F.size("w") >= 2)
        .select(
            F.explode(
                F.arrays_zip(
                    F.slice(F.col("w"), 1, F.size("w") - 1),
                    F.slice(F.col("w"), 2, F.size("w") - 1),
                )
            ).alias("p")
        )
        .select(F.col("p.0").alias("w1"), F.col("p.1").alias("w2"))
    )
    bc = bi.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c"))
    uc = bc.groupBy("w1").agg(F.sum("c").alias("c1"))
    tot = bc.agg(F.sum("c").alias("n"))
    return (
        bc.join(uc, "w1")
        .crossJoin(F.broadcast(tot))
        .agg(
            F.first("n").alias("n_bigrams"),
            F.count(F.lit(1)).alias("n_distinct_bigrams"),
            F.round(
                F.sum(
                    (F.col("c") / F.col("n"))
                    * F.log2(F.col("c1") / F.col("c"))
                ),
                6,
            ).alias("cond_entropy_bits"),
        )
    )


# --- r8: vocabulary divergence between sources ------------------------

_JS_DIVERGENCE_ORACLE = """
    WITH tok AS (
      SELECT source, unnest(string_split_regex(trim(text), '\\s+')) AS word
      FROM documents
      WHERE source IN ('src0', 'src1') AND length(trim(text)) > 0
    ), counts AS (
      SELECT word,
             CAST(sum(CASE WHEN source = 'src0' THEN 1 ELSE 0 END) AS BIGINT)
               AS ca,
             CAST(sum(CASE WHEN source = 'src1' THEN 1 ELSE 0 END) AS BIGINT)
               AS cb
      FROM tok GROUP BY word
    ), tot AS (
      SELECT CAST(sum(ca) AS BIGINT) AS na, CAST(sum(cb) AS BIGINT) AS nb
      FROM counts
    ), pq AS (
      SELECT ca * 1.0 / (SELECT na FROM tot) AS p,
             cb * 1.0 / (SELECT nb FROM tot) AS q
      FROM counts
    )
    SELECT (SELECT CAST(count(*) AS BIGINT) FROM counts) AS n_words_union,
           (SELECT CAST(count(*) AS BIGINT) FROM counts
            WHERE ca > 0 AND cb > 0) AS n_words_shared,
           round(0.5 * sum(CASE WHEN p > 0
                                THEN p * log2(p / ((p + q) / 2)) ELSE 0 END)
                 + 0.5 * sum(CASE WHEN q > 0
                                  THEN q * log2(q / ((p + q) / 2)) ELSE 0 END),
                 6) AS js_divergence_bits
    FROM pq
"""


@query("text_js_divergence_sources", oracle=_JS_DIVERGENCE_ORACLE)
def q_js_divergence_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jensen–Shannon divergence (bits) between the word distributions
    of two sources — the symmetric, bounded [0,1] distance used to
    decide whether two feeds are near-duplicates at the DISTRIBUTION
    level (merge their mixture cells) or genuinely different corpora
    (keep separate sampling weights). 0 = identical usage, 1 =
    disjoint vocabularies.

    Scale shape: one token explode filtered to the two sources, one
    vocabulary-sized conditional-count aggregate, then per-word
    arithmetic against a 1-row broadcast of the two totals. Exact
    integer counts feed every ratio.
    """
    from real_time_data_pipeline_spark.operators.text import words

    docs = load_table(spark, sf_dir, "documents")
    tok = (
        docs.where(
            F.col("source").isin("src0", "src1")
            & (F.length(F.trim("text")) > 0)
        )
        .select("source", F.explode(words(F.col("text"))).alias("word"))
    )
    counts = tok.groupBy("word").agg(
        F.sum((F.col("source") == "src0").cast("long")).alias("ca"),
        F.sum((F.col("source") == "src1").cast("long")).alias("cb"),
    )
    tot = counts.agg(F.sum("ca").alias("na"), F.sum("cb").alias("nb"))
    pq = counts.crossJoin(F.broadcast(tot)).select(
        (F.col("ca") / F.col("na")).alias("p"),
        (F.col("cb") / F.col("nb")).alias("q"),
        (F.col("ca") > 0).alias("ina"),
        (F.col("cb") > 0).alias("inb"),
    )
    m = (F.col("p") + F.col("q")) / 2
    return pq.agg(
        F.count(F.lit(1)).alias("n_words_union"),
        F.sum((F.col("ina") & F.col("inb")).cast("long")).alias("n_words_shared"),
        F.round(
            0.5 * F.sum(F.when(F.col("p") > 0, F.col("p") * F.log2(F.col("p") / m)).otherwise(0.0))
            + 0.5 * F.sum(F.when(F.col("q") > 0, F.col("q") * F.log2(F.col("q") / m)).otherwise(0.0)),
            6,
        ).alias("js_divergence_bits"),
    )


# --- r8: per-split feature parity -------------------------------------

_SPLIT_PARITY_ORACLE = f"""
    WITH lab AS (
      SELECT n_chars,
             CASE WHEN length(trim(text)) = 0 THEN 0
                  ELSE len(string_split_regex(trim(text), '\\s+')) END AS n_tok,
             CASE WHEN {_SPLIT_BUCKET} < 80 THEN 'train'
                  WHEN {_SPLIT_BUCKET} < 90 THEN 'val'
                  ELSE 'test' END AS split
      FROM documents
    )
    SELECT split,
           count(*) AS n_docs,
           round(avg(n_chars), 6) AS avg_chars,
           round(stddev(n_chars), 6) AS sd_chars,
           round(avg(n_tok), 6) AS avg_tokens,
           round(stddev(n_tok), 6) AS sd_tokens
    FROM lab GROUP BY split
"""


@query("data_split_feature_parity", oracle=_SPLIT_PARITY_ORACLE)
def q_split_feature_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature-moment parity across the train/val/test hash split:
    per-split mean and stddev of document length features — the check
    that an iid hash split actually produced exchangeable splits (a
    val set that skews long inflates eval loss for reasons that have
    nothing to do with the model).

    Scale shape: split label and both features are per-row
    expressions in one scan; the report is a 3-group aggregate of
    exact integer moments.
    """
    from real_time_data_pipeline_spark.operators.sampling import hash_split

    docs = hash_split(load_table(spark, sf_dir, "documents"), "doc_id")
    return (
        docs.select("split", "n_chars", token_count_ws("text").alias("n_tok"))
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(F.avg("n_chars"), 6).alias("avg_chars"),
            F.round(F.stddev_samp("n_chars"), 6).alias("sd_chars"),
            F.round(F.avg("n_tok"), 6).alias("avg_tokens"),
            F.round(F.stddev_samp("n_tok"), 6).alias("sd_tokens"),
        )
    )


# --- r9: document length bands ----------------------------------------

_LENGTH_BANDS_ORACLE = """
    WITH b AS (
      SELECT CASE WHEN n_chars < 200 THEN 1
                  WHEN n_chars < 1000 THEN 2
                  WHEN n_chars < 5000 THEN 3
                  ELSE 4 END AS band_ord,
             CASE WHEN n_chars < 200 THEN 'xs'
                  WHEN n_chars < 1000 THEN 'short'
                  WHEN n_chars < 5000 THEN 'medium'
                  ELSE 'long' END AS band,
             n_chars
      FROM documents
    ), tot AS (SELECT count(*) AS t FROM documents)
    SELECT band_ord, band,
           count(*) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS sum_chars,
           round(avg(n_chars), 6) AS avg_chars,
           round(count(*) * 1.0 / (SELECT t FROM tot), 6) AS share
    FROM b GROUP BY 1, 2
"""


@query("text_doc_length_bands", oracle=_LENGTH_BANDS_ORACLE)
def q_text_doc_length_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus length-band profile (xs / short / medium / long on
    character count) with counts, char mass, and corpus share — the
    first curation cut every training-data pipeline makes (too-short
    docs carry boilerplate; the long tail dominates token budget).
    Band edges are integer thresholds on the stored n_chars, so band
    membership can never flap between engines.

    Scale shape: a per-row CASE inside the scan reading ONLY n_chars
    (column-pruned), one 4-group aggregate, one 1-row broadcast
    total.
    """
    docs = load_table(spark, sf_dir, "documents").select("n_chars")
    band_ord = (
        F.when(F.col("n_chars") < 200, 1)
        .when(F.col("n_chars") < 1000, 2)
        .when(F.col("n_chars") < 5000, 3)
        .otherwise(4)
    )
    band = (
        F.when(F.col("n_chars") < 200, "xs")
        .when(F.col("n_chars") < 1000, "short")
        .when(F.col("n_chars") < 5000, "medium")
        .otherwise("long")
    )
    tot = docs.agg(F.count(F.lit(1)).alias("t"))
    return (
        docs.groupBy(band_ord.alias("band_ord"), band.alias("band"))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("sum_chars"),
            F.round(F.avg("n_chars"), 6).alias("avg_chars"),
        )
        .crossJoin(F.broadcast(tot))
        .select(
            "band_ord", "band", "n_docs", "sum_chars", "avg_chars",
            F.round(F.col("n_docs") / F.col("t"), 6).alias("share"),
        )
    )


# --- r9: trigram novelty by source ------------------------------------

_TRIGRAM_NOVELTY_ORACLE = """
    WITH words AS (
      SELECT doc_id, source, string_split_regex(trim(text), '\\s+') AS w
      FROM documents WHERE length(trim(text)) > 0
    ), idx AS (
      SELECT doc_id, source, w,
             unnest(range(1, greatest(len(w) - 1, 1))) AS i
      FROM words
    ), sh AS (
      SELECT DISTINCT doc_id, source, array_to_string(w[i:i+2], ' ') AS s
      FROM idx WHERE len(w) >= 3
    ), first_owner AS (
      SELECT s, min(doc_id) AS first_doc FROM sh GROUP BY 1
    ), per_doc AS (
      SELECT sh.doc_id, sh.source,
             count(*) AS total,
             CAST(sum(CASE WHEN sh.doc_id = f.first_doc THEN 1 ELSE 0 END)
                  AS BIGINT) AS novel
      FROM sh JOIN first_owner f USING (s)
      GROUP BY 1, 2
    )
    SELECT source,
           count(*) AS n_docs,
           CAST(sum(total) AS BIGINT) AS n_shingles,
           CAST(sum(novel) AS BIGINT) AS n_novel,
           round(sum(novel) * 1.0 / sum(total), 6) AS novelty_rate
    FROM per_doc GROUP BY source
"""


@query("text_trigram_novelty_by_source", oracle=_TRIGRAM_NOVELTY_ORACLE)
def q_text_trigram_novelty_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trigram novelty per source: of each document's distinct word
    3-grams, how many are seen here FIRST (first owner = lowest
    doc_id) — the saturation diagnostic for corpus growth ("is this
    source still contributing new n-grams, or re-crawling what we
    have?"). Low novelty on a new source is a stop-crawling signal
    before any token is spent training on it.

    Scale shape: reads the session-shared first-owner attribution
    (`_novelty_attributed_shared` — built once, also read by the
    per-doc `text_ngram_novelty` curve), rolls it up to doc grain,
    then joins the doc→source dimension and reduces to ≤|sources|
    groups. Nothing quadratic, nothing collected; ratios divide by
    each source's shingle mass (≥ 1 by construction of the group) —
    no ANSI guard needed. The doc→source join is pinned shuffle_hash
    (r14): `per_doc` aggregates the checkpointed (stats-less)
    attribution artifact, so the static planner would broadcast the
    DOC-GRAIN rollup at any true corpus size; with the hint both
    doc-grain sides shuffle on doc_id (AQE may still broadcast at
    runtime off real sizes).
    """
    src = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    per_doc = (
        _novelty_attributed_shared(spark, sf_dir)
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("total"),
            F.sum((F.col("doc_id") == F.col("first_id")).cast("long")).alias(
                "novel"
            ),
        )
    )
    return (
        per_doc.join(src.hint("shuffle_hash"), "doc_id")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("total").alias("n_shingles"),
            F.sum("novel").alias("n_novel"),
            F.round(F.sum("novel") / F.sum("total"), 6).alias("novelty_rate"),
        )
    )


# --- r9: multimodal feature-extraction profile ------------------------

_FEATURE_PROFILE_ORACLE = """
    WITH f AS (
      SELECT lang,
             octet_length(encode(text)) AS nb,
             CAST(((strpos('0123456789abcdef', substr(md5(text), 1, 1)) - 1) * 16
                   + strpos('0123456789abcdef', substr(md5(text), 2, 1)) - 1)
                  / 255.0 AS REAL) AS f0,
             CAST(((strpos('0123456789abcdef', substr(md5(text), 15, 1)) - 1) * 16
                   + strpos('0123456789abcdef', substr(md5(text), 16, 1)) - 1)
                  / 255.0 AS REAL) AS f7
      FROM documents
    )
    SELECT lang,
           count(*) AS n_media,
           CAST(sum(nb) AS BIGINT) AS bytes_total,
           round(avg(f0), 6) AS avg_f0,
           round(avg(f7), 6) AS avg_f7
    FROM f GROUP BY lang
"""


@query("multimodal_feature_extract_profile", oracle=_FEATURE_PROFILE_ORACLE)
def q_multimodal_feature_extract_profile(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """End-to-end check of the multimodal DECODE PATH: payloads run
    through the Arrow-batched `mapInPandas` feature extractor
    (deterministic-fake codec — md5-seeded 8-dim vector; the real
    codec is the documented environment gate), then a per-language
    profile of two feature components and byte mass. The oracle
    recomputes the fake features arithmetically from md5 hex in
    DuckDB, so the WHOLE Python stage — Arrow transfer, batch shape,
    float32 quantization of the feature array — is value-checked,
    not just smoke-tested. Both sides quantize to float32 before
    averaging (the array column is `array<float>`), so the compare is
    exact up to summation order.

    Scale shape: metadata derivation and the profile are JVM-side;
    only (payload → 8 floats) crosses into Python, Arrow-batched.
    The per-language rollup joins features to docs on the id key —
    at 100 TB the media table is the big side and the aggregate is
    ≤|langs| groups, map-side combined.
    """
    from real_time_data_pipeline_spark.operators.multimodal import (
        documents_as_media,
        extract_features,
    )

    docs = load_table(spark, sf_dir, "documents")
    media = documents_as_media(docs)
    feats = extract_features(media, deterministic_fake=True)
    lang = docs.select(F.col("doc_id").alias("media_id"), "lang")
    return (
        feats.join(lang, "media_id")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_media"),
            F.sum("n_bytes").alias("bytes_total"),
            F.round(F.avg(F.col("feature")[0]), 6).alias("avg_f0"),
            F.round(F.avg(F.col("feature")[7]), 6).alias("avg_f7"),
        )
    )

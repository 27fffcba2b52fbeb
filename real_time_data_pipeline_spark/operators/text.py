"""Text-analysis operators for LLM-training-data pipelines.

North-star extensions (BASELINE.json): language-ID, quality scoring,
token counting, document fingerprinting, shingling. All pure column
expressions — regexp/hash intrinsics evaluated JVM-side inside
whole-stage codegen, so a 100 TB corpus pays zero Python overhead.

Hash convention shared with the DuckDB oracles: ``md5(s)`` hex, with
integer views taken as the first 8/15 hex chars parsed base-16
(32/60-bit values — safely inside BIGINT for arithmetic on both
engines).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Word-boundary stopword probes per language. Tiny by design — the
# point is the operator shape (argmax over per-language evidence
# columns), not linguistic accuracy; swap in real frequency tables for
# production. Ties/zero evidence → 'und' (undetermined).
LANG_STOPWORDS: dict[str, list[str]] = {
    "en": ["the", "a", "is", "and", "of"],
    "es": ["el", "los", "una", "y", "que"],
    "de": ["der", "und", "das", "ein", "nicht"],
    "fr": ["le", "les", "une", "et", "dans"],
}

# BPE-ish pre-tokenization: word runs OR single non-word-non-space
# marks — the shape GPT-style byte-pair encoders split on first.
BPE_ISH_PATTERN = r"[A-Za-z0-9]+|[^A-Za-z0-9\s]"


def md5_hex(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.md5(c)


def hash32(col: Column | str) -> Column:
    """First 8 md5 hex chars as a 32-bit unsigned value in a long.

    Oracle twin: ``('0x' || substr(md5(s), 1, 8))::BIGINT``.
    """
    return F.conv(F.substring(md5_hex(col), 1, 8), 16, 10).cast("long")


def hash60(col: Column | str) -> Column:
    """First 15 md5 hex chars (60 bits) as a non-negative long."""
    return F.conv(F.substring(md5_hex(col), 1, 15), 16, 10).cast("long")


def words(col: Column | str) -> Column:
    """Whitespace tokenization of trimmed text ([] for empty text)."""
    c = F.col(col) if isinstance(col, str) else col
    t = F.trim(c)
    return F.when(F.length(t) == 0, F.array().cast("array<string>")).otherwise(
        F.split(t, r"\s+")
    )


def token_count_ws(col: Column | str) -> Column:
    """Whitespace token count."""
    return F.size(words(col)).cast("long")


def token_count_bpe_ish(col: Column | str) -> Column:
    """BPE-style pre-token count (word runs + punctuation marks)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_count(c, F.lit(BPE_ISH_PATTERN)).cast("long")


def word_shingles(col: Column | str, n: int = 3) -> Column:
    """Array of word n-grams (space-joined); [] when fewer than n words.

    Built as ``arrays_zip`` of n shifted slices, then a transform that
    only concatenates struct fields. The obvious
    ``transform(sequence, i -> concat(element_at(w, i+k)))`` form is
    ~2x slower at corpus scale: higher-order functions evaluate
    interpreted (no codegen, no common-subexpression elimination), so
    the inlined ``split`` underneath ``w`` re-runs per ELEMENT inside
    the lambda. Here every occurrence of ``w`` sits in a row-level
    argument, so the split cost is O(n) per row, and the lambda body
    touches only the zipped struct. No explode until the caller
    chooses to, so shingling composes with any downstream op.
    """
    w = words(col)
    m = F.greatest(F.size(w) - n + 1, F.lit(0))  # complete-gram count
    zipped = F.arrays_zip(*[F.slice(w, k + 1, m) for k in range(n)])
    gram = F.transform(
        zipped, lambda s: F.concat_ws(" ", *[s[str(k)] for k in range(n)])
    )
    return F.when(F.size(w) >= n, gram).otherwise(F.array().cast("array<string>"))


def stopword_hits(col: Column | str, stops: "list[str]") -> Column:
    """Total stopword occurrences in lowercased text — ONE regex pass.

    Counts matches of the alternation ``\\b(w1|w2|...)\\b``, which
    equals the sum of the per-word ``\\b{w}\\b`` counts exactly: every
    match of any single-word pattern is one whole maximal word run
    (both \\b anchors), distinct stopwords can never claim the same
    run, and the engine's backtracking tries every alternative at each
    run, so no per-word match is missed (shared prefixes included —
    pinned by tests/test_operators.py). One pass over the text instead
    of one per stopword: the N-regex form was the dominant per-row
    cost of the quality/lang queries (r15 optimization, guide §1.2
    "per-task work")."""
    c = F.col(col) if isinstance(col, str) else col
    # re.escape (ADVICE r15 #3): today's stopword lists are plain
    # ASCII words (escape is a no-op), but a future list entry holding
    # a regex metacharacter would silently corrupt the alternation.
    import re as _re

    pat = r"\b(" + "|".join(_re.escape(wd) for wd in stops) + r")\b"
    return F.regexp_count(F.lower(c), F.lit(pat)).cast("long")


def lang_scores(col: Column | str) -> dict[str, Column]:
    """Per-language stopword-hit counts over lowercased text."""
    return {
        lang: stopword_hits(col, stops)
        for lang, stops in LANG_STOPWORDS.items()
    }


def lang_id(col: Column | str) -> Column:
    """Argmax language over stopword evidence; 'und' when no evidence.

    Fixed priority order (en > es > de > fr) breaks ties
    deterministically — same CASE order as the SQL oracle.
    """
    scores = lang_scores(col)
    langs = list(LANG_STOPWORDS)
    best = None
    expr = None
    # best = max over langs with first-listed winning ties
    mx = F.greatest(*[scores[lg] for lg in langs]) if len(langs) > 1 else scores[langs[0]]
    for lg in langs:
        cond = (scores[lg] == mx) & (mx > 0)
        expr = F.when(cond, lg) if expr is None else expr.when(cond, lg)
    del best
    return expr.otherwise("und")


def quality_features(col: Column | str) -> dict[str, Column]:
    """Heuristic quality signals (ratios rounded to 6 dp).

    length, token count, mean token length, punctuation/digit/upper
    ratios, stopword ratio — the standard cheap pre-filters before
    expensive model-based scoring of a training corpus.
    """
    c = F.col(col) if isinstance(col, str) else col
    n_chars = F.length(c).cast("long")
    n_tok = token_count_ws(c)
    safe_chars = F.greatest(n_chars, F.lit(1)).cast("double")
    safe_tok = F.greatest(n_tok, F.lit(1)).cast("double")
    stop_hits = stopword_hits(c, LANG_STOPWORDS["en"])
    return {
        "n_chars": n_chars,
        "n_tokens": n_tok,
        # exact integer char-sum / token count → deterministic double.
        # Deliberately the fold over the split array, NOT
        # length(regexp_replace(text,'\s+','')): measured 2x faster in
        # the quality-filter context, where the split already exists
        # for n_tokens — the regexp form re-scans and re-allocates the
        # full text per row.
        "avg_token_len": F.round(
            F.aggregate(
                F.transform(words(c), lambda w: F.length(w).cast("long")),
                F.lit(0).cast("long"),
                lambda acc, x: acc + x,
            )
            / safe_tok,
            6,
        ),
        "punct_ratio": F.round(F.regexp_count(c, F.lit(r"[.,!?;:]")) / safe_chars, 6),
        "digit_ratio": F.round(F.regexp_count(c, F.lit(r"[0-9]")) / safe_chars, 6),
        "upper_ratio": F.round(F.regexp_count(c, F.lit(r"[A-Z]")) / safe_chars, 6),
        # hits count \b word runs, tokens split on whitespace: one
        # token can hold several runs ("a:a"), so cap hits at n_tokens
        # to keep the ratio a share of tokens in [0, 1]
        "stopword_ratio": F.round(F.least(stop_hits, n_tok) / safe_tok, 6),
    }


def chunk_documents(
    df: DataFrame,
    id_col: str,
    text_col: str,
    size: int = 200,
    stride: int = 150,
) -> DataFrame:
    """Overlapping fixed-size character chunks (context-window prep).

    Chunk i covers [i*stride, i*stride + size); the last chunk may be
    short, and every character belongs to ≥1 chunk. Implemented as a
    codegen `sequence` + `posexplode` — the explode multiplies rows by
    len/stride, but each output row is bounded by `size`, so partition
    sizes stay predictable at 100 TB (unlike exploding on raw
    sentences). Token-based chunking swaps `length` for a token count
    and substr for array slicing over the token array.

    Output: (<id>, chunk_idx: int, chunk_text, chunk_len: long).
    """
    c = F.col(text_col)
    n_chunks = (F.floor((F.length(c) - 1) / stride) + 1).cast("int")
    starts = F.sequence(F.lit(0), n_chunks - 1)
    exploded = df.where(F.length(c) > 0).select(
        F.col(id_col), c.alias("__t"), F.explode(starts).alias("chunk_idx")
    )
    chunk = F.col("__t").substr(F.col("chunk_idx") * stride + 1, F.lit(size))
    return exploded.select(
        F.col(id_col),
        F.col("chunk_idx"),
        chunk.alias("chunk_text"),
        F.length(chunk).cast("long").alias("chunk_len"),
    )


# PII-redaction patterns: portable regex subset (identical semantics in
# Java regex and RE2/DuckDB — character classes, +, bounded repetition).
REDACT_PATTERNS: dict[str, str] = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "long_number": r"[0-9]{6,}",
}


def redact(col: Column | str, replacement: str = "[REDACTED]") -> Column:
    """Replace every PII-pattern match with `replacement` (emails
    first so their digit runs don't double-match)."""
    c = F.col(col) if isinstance(col, str) else col
    out = c
    for pat in REDACT_PATTERNS.values():
        out = F.regexp_replace(out, pat, replacement)
    return out


def redaction_counts(col: Column | str) -> dict[str, Column]:
    """Per-pattern match counts (audit metric alongside `redact`)."""
    c = F.col(col) if isinstance(col, str) else col
    return {
        f"n_{name}": F.regexp_count(c, F.lit(pat)).cast("long")
        for name, pat in REDACT_PATTERNS.items()
    }


def bm25_scored(
    tf: "DataFrame",
    d: "DataFrame",
    dfreq: "DataFrame",
    stats: "DataFrame",
    k1: float = 1.2,
    b: float = 0.75,
    term_col: str = "term",
) -> "DataFrame":
    """One copy of the BM25 scoring composition (the fold the
    corpus-stats twin promised): per-document summed
    Robertson/Sparck-Jones idf x saturated tf, from the four
    sufficient-statistics frames the two call sites assemble
    differently —

    - ``tf``: (doc_id, <term_col>, tf) per-doc term frequencies of
      the QUERY terms only (filter-before-aggregate is the caller's
      scale obligation);
    - ``d``: (doc_id, dl) document lengths;
    - ``dfreq``: (<term_col>, df) document frequencies — from the
      corpus (batch query) or the maintained state (streaming probe);
    - ``stats``: one row (n_docs, avgdl) — same two sources.

    Returns (doc_id, bm25) with the score rounded to 6 (both callers
    rank on the rounded value, so batch/probe/oracle ties break
    identically). dfreq and stats enter as broadcast joins: |query
    terms| rows and 1 row — the shuffle is only the tf aggregation
    the caller already paid.
    """
    idf = F.log(
        F.lit(1)
        + (F.col("n_docs") - F.col("df") + F.lit(0.5)) / (F.col("df") + F.lit(0.5))
    )
    term = (
        idf
        * F.col("tf")
        * (k1 + 1)
        / (F.col("tf") + k1 * (1 - b + b * F.col("dl") / F.col("avgdl")))
    )
    return (
        tf.join(F.broadcast(dfreq), term_col)
        .join(d, "doc_id")
        .crossJoin(F.broadcast(stats))
        .groupBy("doc_id")
        .agg(F.round(F.sum(term), 6).alias("bm25"))
    )

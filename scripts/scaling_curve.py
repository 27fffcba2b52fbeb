#!/usr/bin/env python
"""Scaling-curve measurement for the five heaviest north-star queries
(VERDICT r12 #3): run each at 1x / 3x / 10x corpus scale and report
the runtime growth exponent against the query's documented complexity
bound, converting the repo's "this holds at 100 TB" plan arguments
into a measurement.

Corpus construction (deterministic, synthetic — the driver testdata
tops out at sf0.1, so larger scales are derived from it):

* ``documents`` at Nx = union of N shards. Shard 0 is the sf0.1 table
  verbatim (so 1x is a strict subset of every larger scale). Shard k
  offsets ``doc_id`` by k*10_000_000 and rewrites each whitespace
  token: a word becomes shard-private (``word_sK`` suffix) when
  ``xxhash64(word) % 3 == 0``, else stays shared across shards. The
  same ~1/3 of the vocabulary is suffixed in every shard, so a
  3-shingle survives as shard-shared iff all three words are shared
  (~(2/3)^3 = 30% of shingles) — those shingles' document frequency
  grows ~Nx while the rest of the shingle space grows the vocabulary
  ~Nx. That exercises BOTH axes of natural corpus growth: posting
  lists that deepen (df-cap territory) and a vocabulary that widens.
* ``embeddings`` at Nx: shard k offsets ``vec_id`` the same way and
  perturbs every coordinate with a deterministic hash-derived delta in
  [-5e-3, 5e-3) (plus the identity shard 0), so vectors are distinct
  but the space keeps its cluster structure.

Documented complexity bounds under test (from the query docstrings /
VERDICT r12 plan audit):

* dedup_lsh_swarm_guard — runs the banded pipeline TWICE (df-capped +
  uncapped value-proof arm). The CAPPED arm is ~linear in corpus; the
  uncapped arm is sum(df^2) over posting buckets, i.e. up to
  QUADRATIC in scale when posting lists deepen — by design, it is the
  proof that the cap changes nothing at the output, not a production
  path. Expect the measured exponent to sit between those arms.
* dedup_incremental_batch — four bucketed stages, each df-capped:
  ~linear.
* dedup_directional_containment — shared `_bucketed_pair_counts`
  core, df-capped buckets: ~linear (pair expansion bounded by
  df_cap * postings).
* embed_pq_adc_topk — one corpus scan, per-vector ADC distance in
  column expressions + heap top-k: linear. (The FIRST run of this
  harness measured the x3->x10 leg at exponent 1.31: stride seeding
  grew the codebook ~n/stride, so the assignment join was corpus x
  codebook = quadratic. Fixed by the CENTROID_K_MAX seed cap in
  operators/similarity.py — codebooks are now fixed-size at any
  corpus scale, restoring the linear bound this harness verifies.)
* contamination_bloom_prefilter — fixed benchmark set (doc_id < 20
  lives only in shard 0), growing candidate corpus, broadcast Bloom:
  linear in candidate grams.

Usage:
  python scripts/scaling_curve.py [--scales 1,3,10] [--runs 3] \
      [--out docs/bench/latest/scaling.json]

Each point is the median of --runs timed noop runs from
scripts/measure.py::noop_seconds (bench.py's loop: one untimed warm
run absorbs artifact builds and JIT, and tracked caches are drained
before every timed run, so a cached stage's corpus scan is measured on
every run; shared ARTIFACTS stay warm — production index-build
semantics).

Corpus parquet lands under $RTDP_SCALING_DIR (default
/tmp/rtdp_scaling) keyed by scale; regenerating is cheap and
deterministic, so the directory is disposable.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import sys

from measure import LATEST_DIR, SCALE_HEAP, noop_seconds, script_session

SF1_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
BASE_DIR = os.environ.get("RTDP_SCALING_DIR", "/tmp/rtdp_scaling")
ID_OFFSET = 10_000_000

TARGETS = {
    # query name -> documented bound (exponent the design argues for;
    # swarm_guard's uncapped proof arm is allowed up to 2.0)
    "dedup_lsh_swarm_guard": ("linear capped arm + quadratic uncapped proof arm", 2.0),
    "dedup_incremental_batch": ("linear (df-capped bucketed stages)", 1.0),
    # Exact pair counting over shared keys is inherently
    # sum(min(df, cap)^2) over posting keys: QUADRATIC in posting
    # depth while hot keys sit below the cap, corpus-linear (with a
    # cap-sized constant) once they saturate. r14 correction to the
    # r13 reading: the registry query's cap is JACCARD_MAX_DF=50 (not
    # the operator's 10k default), and the HOTTEST shard-shared
    # shingles already saturate it at 10x (1x max df 25 deepens ~Nx)
    # — cap_tradeoff.py measures what that does to the answer. The
    # BULK of the df mass stays below 50 through 30x, so the
    # measured window is still dominated by the quadratic regime —
    # the r13 methodology fix (persist caches released between timed
    # runs) surfaced it at a 1.23 leg where the earlier warm-cache
    # runs had read 0.86. The cap is the production lever: it is a
    # SIGNAL threshold (a shingle in >cap docs carries no near-dup
    # signal), tuned down as corpora grow; dedup_lsh_swarm_guard
    # value-proves capped == uncapped output at test scale, and
    # docs/bench/cap_tradeoff_r14.json measures the trade where the
    # cap BINDS. Bound set to the honest worst case.
    "dedup_directional_containment": (
        "sum(min(df,cap)^2) pair buckets: quadratic below cap saturation, corpus-linear at the cap",
        2.0,
    ),
    # The capped/production regime of the same operator, measured
    # separately (ADVICE r13 #2): relaxing the production query's gate
    # to the honest quadratic bound above means a regression that made
    # the df-CAPPED arm quadratic would pass unnoticed. This arm runs
    # the identical plan with max_df=32 — small enough that the
    # synthetic corpus's shared vocabulary saturates it already at 1x
    # — so sum(min(df,32)^2) grows only with the number of posting
    # keys: corpus-linear, gated tight. Not a registry query (the
    # oracle-checked query keeps the production cap); fn supplied via
    # EXTRA_FNS below.
    "dedup_directional_containment_cap32": (
        "corpus-linear: cap saturated at 1x, sum(min(df,32)^2) ~ #posting keys",
        1.0,
    ),
    "embed_pq_adc_topk": ("linear (scan + ADC + heap top-k)", 1.0),
    # r14: the heaviest embed driver cell of the r13 bench gets its
    # own measured exponent (the seed cap fixed its codebook size, so
    # assignment and probe work are corpus-linear by design).
    "embed_ann_ivf_topk": ("linear (capped codebook assignment + probed-list scan + heap top-k)", 1.0),
    "contamination_bloom_prefilter": ("linear (broadcast Bloom over candidate grams)", 1.0),
    # r13 retrieval additions beyond the VERDICT-named five: the
    # hybrid fusion claims corpus-linear retrievers + corpus-free
    # fusion (heap top-k lists, bounded windows), and the rerank's
    # join shape was rebuilt mid-round after review (corpus scanned
    # once against the broadcast candidate list) — both claims are
    # worth a measured exponent, not just a plan audit.
    "retrieval_hybrid_rrf": ("linear (two corpus-scan retrievers, bounded fusion)", 1.0),
    "retrieval_rerank_cosine": ("linear (fusion + one corpus scan vs broadcast 20-row list)", 1.0),
    # Relational/event fact-side targets: the first measured points
    # for the star-schema and event families (everything above scales
    # the documents/embeddings corpus only). Facts (lineitem, orders,
    # events) shard Nx while dimensions stay FIXED — the warehouse
    # growth shape where facts outrun dims. Sort-merge joins carry an
    # n log n sort, so "linear" legs may read slightly above 1.0;
    # the +0.15 gate margin covers the log factor over one decade.
    "tpch_q21_sole_late_supplier": ("linear + log-sort (orderkey SMJ chain, broadcast dims)", 1.0),
    "join_market_basket_pairs": ("linear (per-order pair expansion, constant basket size; heap top-k)", 1.0),
    "graph_pagerank_trade": ("linear edge derivation + fixed nation-grain iterations", 1.0),
    "data_profile_events": ("linear (one scan, one aggregate; exact distincts shuffle row-linear)", 1.0),
    "data_psi_drift": ("linear (range-shuffle deciles, broadcast edges, 10-key aggregate)", 1.0),
    # r15 (VERDICT r14 #2): the three queries whose plans changed in
    # the last two r14 commits AFTER that round's recorded sweep —
    # measured rows for the superseded entries, and standing targets
    # from here on.
    "dedup_exact_substring_pairs": (
        "sum(min(df,cap)^2) pair buckets (shared_gram_pairs core): "
        "quadratic below cap saturation, corpus-linear at the cap",
        2.0,
    ),
    "text_tfidf_top_terms": (
        "linear (postings aggregate + shuffle_hash vocabulary-grain df join, heap top-k)",
        1.0,
    ),
    "text_trigram_novelty_by_source": (
        "linear (postings-sized first-owner attribution + shuffle_hash doc-grain rollup join)",
        1.0,
    ),
}

# Tables copied verbatim into every Nx dir (fixed-dimension posture);
# facts are sharded like documents/embeddings.
DIM_TABLES = ("region", "nation", "customer", "supplier", "part")


def _containment_cap32(spark, sf_dir):
    """The production (cap-active) regime of directional containment:
    identical plan to the registry query, max_df forced low enough to
    saturate on this corpus — the tight-gated twin of the honest
    quadratic bound on the uncapped-regime registry entry."""
    from real_time_data_pipeline_spark.operators.similarity import (
        directional_containment_pairs,
    )
    from real_time_data_pipeline_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    return directional_containment_pairs(
        docs, "doc_id", "text", n=3, threshold=0.9, max_df=32
    )


# Measurement-only variants that are NOT registry queries (the
# registry keeps one oracle-checked production configuration; these
# re-run the same operator under a different regime).
EXTRA_FNS = {
    "dedup_directional_containment_cap32": _containment_cap32,
}


def _build_relational(spark, scale: int, out_dir: str) -> None:
    """Facts sharded Nx (keys offset per shard: orderkey on both
    sides of the orders/lineitem join identically, event/user ids on
    events so the user population widens while per-user series stay
    constant), dimensions copied verbatim.

    Measurement-design caveat (stated, not hidden): leaving
    l_partkey/l_suppkey/o_custkey verbatim means dim-keyed GROUP-KEY
    CARDINALITY stays fixed while per-key counts grow Nx — a
    best-case shape for aggregates whose cost is key-driven. The
    events user population DOES widen (user_id offset per shard), so
    the key-cardinality axis is exercised there."""
    from pyspark.sql import functions as F

    from real_time_data_pipeline_spark.sources.tables import load_table

    for t in DIM_TABLES:
        src = os.path.join(SF1_DIR, f"{t}.parquet")
        dst = os.path.join(out_dir, f"{t}.parquet")
        if os.path.exists(dst):
            continue
        # copy-then-rename so an interrupted copy can never leave a
        # truncated file that the exists() check would trust on rerun;
        # directory-layout tables (Spark-written) copy recursively
        tmp = dst + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        if os.path.isdir(src):
            shutil.copytree(src, tmp)
        else:
            shutil.copy(src, tmp)
        os.rename(tmp, dst)

    fact_shift = {
        "orders": {"o_orderkey": ID_OFFSET},
        "lineitem": {"l_orderkey": ID_OFFSET},
        "events": {"event_id": ID_OFFSET, "user_id": 1_000_000},
    }
    for t, shifts in fact_shift.items():
        dst = os.path.join(out_dir, f"{t}.parquet")
        if os.path.exists(os.path.join(dst, "_SUCCESS")):
            continue
        # load_table, not a raw read: events.ts has shipped as
        # TIMESTAMP(NANOS) in some rounds and only load_table sets the
        # nanosAsLong conf + normalizes the column
        base = load_table(spark, SF1_DIR, t)
        shards = [base]
        for k in range(1, scale):
            s = base
            for col, off in shifts.items():
                s = s.withColumn(col, F.col(col) + F.lit(k * off))
            shards.append(s)
        big = shards[0]
        for s in shards[1:]:
            big = big.unionByName(s)
        big.repartition(8).write.mode("overwrite").parquet(dst)


def build_corpus(spark, scale: int) -> str:
    """Materialize the Nx corpus dir: sharded documents/embeddings
    (below), sharded facts (lineitem/orders/events — ids offset per
    shard so join keys stay consistent; dates/values/dim foreign keys
    verbatim, so dim join fan-out grows Nx per dim row, the
    facts-outrun-dims warehouse shape), and verbatim-copied dimension
    tables. Each group is idempotent on its own _SUCCESS markers."""
    from pyspark.sql import functions as F

    out_dir = os.path.join(BASE_DIR, f"x{scale}")
    # Per-scale-dir stamp of the BASE dataset the shards derive from
    # (ADVICE r13 #3): the per-table idempotency markers below never
    # key on SPARK_GRAFT_SF_DIR, so pointing the harness at a
    # different base would otherwise silently reuse stale shards and
    # mix corpora within one measurement. A mismatched stamp rebuilds
    # the scale dir from scratch.
    stamp = os.path.join(out_dir, ".base_sf_dir")
    if os.path.isdir(out_dir):
        prev = None
        if os.path.exists(stamp):
            with open(stamp) as f:
                prev = f.read().strip()
        if prev != os.path.abspath(SF1_DIR):
            print(
                f"x{scale}: stale shards built from {prev!r}, "
                f"rebuilding from {SF1_DIR}",
                file=sys.stderr,
            )
            shutil.rmtree(out_dir)
    os.makedirs(out_dir, exist_ok=True)
    with open(stamp, "w") as f:
        f.write(os.path.abspath(SF1_DIR))
    _build_relational(spark, scale, out_dir)
    done = [
        os.path.join(out_dir, t, "_SUCCESS") for t in ("documents.parquet", "embeddings.parquet")
    ]
    if all(os.path.exists(p) for p in done):
        return out_dir

    docs = spark.read.parquet(os.path.join(SF1_DIR, "documents.parquet"))
    emb = spark.read.parquet(os.path.join(SF1_DIR, "embeddings.parquet"))

    doc_shards = [docs]  # shard 0 verbatim: 1x is a subset of Nx
    for k in range(1, scale):
        suffixed = F.array_join(
            F.transform(
                F.split(F.col("text"), r"\s+"),
                lambda w: F.when(
                    F.pmod(F.xxhash64(w), F.lit(3)) == 0,
                    F.concat(w, F.lit(f"_s{k}")),
                ).otherwise(w),
            ),
            " ",
        )
        doc_shards.append(
            docs.select(
                (F.col("doc_id") + F.lit(k * ID_OFFSET)).alias("doc_id"),
                suffixed.alias("text"),
                "lang",
                "source",
                F.length(suffixed).cast("long").alias("n_chars"),
            )
        )
    big_docs = doc_shards[0]
    for s in doc_shards[1:]:
        big_docs = big_docs.unionByName(s)

    emb_shards = [emb]
    for k in range(1, scale):
        perturbed = F.transform(
            F.col("embedding"),
            lambda x, i: (
                x.cast("double")
                + (
                    F.pmod(
                        F.xxhash64(
                            F.col("vec_id") * F.lit(1_000_003)
                            + i.cast("long") * F.lit(97)
                            + F.lit(k)
                        ),
                        F.lit(10_000),
                    ).cast("double")
                    - F.lit(5_000.0)
                )
                / F.lit(1_000_000.0)
            ).cast("float"),
        )
        emb_shards.append(
            emb.select(
                (F.col("vec_id") + F.lit(k * ID_OFFSET)).alias("vec_id"),
                perturbed.alias("embedding"),
                "label",
            )
        )
    big_emb = emb_shards[0]
    for s in emb_shards[1:]:
        big_emb = big_emb.unionByName(s)

    big_docs.repartition(8).write.mode("overwrite").parquet(
        os.path.join(out_dir, "documents.parquet")
    )
    big_emb.repartition(4).write.mode("overwrite").parquet(
        os.path.join(out_dir, "embeddings.parquet")
    )
    return out_dir


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--scales", default="1,3,10")
    ap.add_argument("--runs", type=int, default=3)
    ap.add_argument("--out", default=os.path.join(LATEST_DIR, "scaling.json"))
    ap.add_argument(
        "--queries",
        default=None,
        help="comma-separated subset of the TARGETS map (default: all) — "
        "lets a follow-up measurement extend the scale range for just "
        "the queries whose legs ran hottest without re-paying the rest",
    )
    args = ap.parse_args()
    scales = [int(s) for s in args.scales.split(",")]
    targets = dict(TARGETS)
    if args.queries:
        chosen = [q.strip() for q in args.queries.split(",") if q.strip()]
        unknown = [q for q in chosen if q not in targets]
        if unknown:
            ap.error(f"not in TARGETS: {unknown}")
        targets = {q: targets[q] for q in chosen}

    from real_time_data_pipeline_spark.queries import REGISTRY
    from real_time_data_pipeline_spark.queries.artifacts import (
        clear_shared_artifacts,
    )

    # local-mode driver heap defaults to 1g — 32 MB per local[32] task
    # slot, far below the repo's documented executor posture (size
    # partitions to fit executor memory). The 10x corpus legitimately
    # needs a real heap; a cluster deployment always sets this.
    spark = script_session("rtdp-scaling", SCALE_HEAP)

    dirs: dict[int, str] = {}
    counts: dict[int, dict[str, int]] = {}
    for s in scales:
        dirs[s] = SF1_DIR if s == 1 else build_corpus(spark, s)
        from real_time_data_pipeline_spark.sources.tables import load_table

        counts[s] = {
            t: load_table(spark, dirs[s], t).count()
            for t in ("documents", "embeddings", "lineitem", "orders", "events")
        }
        print(f"scale x{s}: {dirs[s]} {counts[s]}", file=sys.stderr)

    results: dict[str, dict] = {}
    for name, (bound_desc, bound_exp) in targets.items():
        fn = EXTRA_FNS[name] if name in EXTRA_FNS else REGISTRY[name].fn
        per_scale: dict[str, float] = {}
        for s in scales:
            runs = noop_seconds(lambda: fn(spark, dirs[s]), args.runs)
            per_scale[f"x{s}"] = sorted(runs)[len(runs) // 2]
            print(f"{name} x{s}: {per_scale[f'x{s}']}s (runs: {runs})", file=sys.stderr)
        lo, hi = scales[0], scales[-1]
        exponent = round(
            math.log(per_scale[f"x{hi}"] / per_scale[f"x{lo}"]) / math.log(hi / lo),
            3,
        )
        # Pairwise leg exponents: the low-end leg is dominated by
        # fixed per-query overhead (stage launch, planning) at these
        # corpus sizes, so the HIGH leg is the better asymptote read.
        legs = {
            f"x{a}_to_x{b}": round(
                math.log(per_scale[f"x{b}"] / per_scale[f"x{a}"]) / math.log(b / a),
                3,
            )
            for a, b in zip(scales, scales[1:])
        }
        # Gate on the WORST leg, not the overall exponent: a fixed
        # 1x-overhead floor dilutes the overall read, so a quadratic
        # emerging on the high leg can hide under it — exactly what
        # happened on this harness's first run (pq overall 0.77
        # "within bound" while the x3->x10 leg read 1.31).
        worst_leg = max(legs.values())
        results[name] = {
            "seconds": per_scale,
            f"exponent_x{lo}_to_x{hi}": exponent,
            "leg_exponents": legs,
            "worst_leg_exponent": worst_leg,
            "documented_bound": bound_desc,
            "documented_exponent_max": bound_exp,
            "within_bound": worst_leg <= bound_exp + 0.15,  # timing-noise margin
        }
        # Per-query artifact state must not leak across scales the
        # NEXT query also runs at — artifacts key on sf_dir, so they
        # don't collide, but dropping them bounds pinned blocks.
        clear_shared_artifacts()

    out = {
        "metric": "scaling_curve",
        "scales": scales,
        "base_sf_dir": SF1_DIR,
        "row_counts": {f"x{s}": counts[s] for s in scales},
        "runs_per_point": args.runs,
        "corpus_construction": (
            "shard 0 = sf0.1 verbatim; shard k offsets ids by k*1e7, "
            "suffixes words with xxhash64(word)%3==0 (shared/private "
            "vocabulary mix), perturbs embeddings by hash-derived "
            "deltas in [-5e-3, 5e-3); facts (lineitem/orders/events) "
            "shard with keys offset consistently on both join sides, "
            "dimension tables copied verbatim (facts outrun dims)"
        ),
        "queries": results,
    }
    print(json.dumps(out))
    if os.path.dirname(args.out):
        os.makedirs(os.path.dirname(args.out), exist_ok=True)
    with open(args.out, "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
    print(f"wrote {args.out}", file=sys.stderr)


if __name__ == "__main__":
    main()

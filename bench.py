#!/usr/bin/env python
"""Benchmark harness: every registry query at $SPARK_GRAFT_SF_DIR.

Prints ONE JSON line:
  {"metric": "total_query_seconds", "value": N, "unit": "sec",
   "queries": {name: sec, ...}, "sf": "<dir>"}

Each query executes to a `noop` sink — full computation of every
output column, zero driver-side collection — so timings reflect the
distributed plan, not toPandas serialization.

Every query is timed by scripts/measure.py::noop_seconds: one untimed
warm run, then tracked caches drained (blocking, outside the clock)
before each timed run, so a `persist_tracked`-bearing query pays full
computation from the parquet inputs instead of reading the warm run's
InMemoryRelation (the r16 honest-clock fix; r15 per-query numbers for
persist-bearing queries are cache-inflated, OPTIMIZATION_r16.md).
"""

from __future__ import annotations

import json
import os
import sys

from scripts.measure import noop_seconds, script_session

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# Drift canaries (VERDICT r7 #5): ten TPC-H queries whose PLANS have
# been frozen since r5 — never edited, spanning scan-agg, multi-join,
# outer-join, semi/anti-join, and top-k shapes. Their median-of-5
# timings land in a stable top-level "canaries" field so
# round-over-round normalization (this box drifts ±15% between
# rounds) is COMPUTED from identical work, not estimated from
# whichever queries happen to appear in both rounds' bench tails.
# Keep this list frozen: an edited canary stops being a canary.
CANARIES = (
    "tpch_q1_pricing_summary",
    "tpch_q3_shipping_priority",
    "tpch_q5_local_supplier_volume",
    "tpch_q6_forecast_revenue",
    "tpch_q9_product_profit",
    "tpch_q13_order_count_distribution",
    "tpch_q14_promo_revenue",
    "tpch_q18_large_orders",
    "tpch_q21_sole_late_supplier",
    "tpch_q22_dormant_customers",
)

# Per-family drift normalizers (VERDICT r10 #4): family totals swing
# ±20-50% with session position (registry rotation reorders the bench
# every round), and the TPC-H-only canary set cannot normalize that —
# TPC-H exercises joins/aggs, not the HOF/Arrow/artifact paths the
# dedup/embed/text families run. Three queries frozen as of r11;
# r12's dedup adjudication showed a single ~0.2 s canary swings ±20%
# round-to-round and cannot arbitrate a ±5% family drift (VERDICT r12
# #4), so r13 adds a SECOND frozen query per family (distinct code
# path, longer runtime) — cross-round family comparisons now have a
# two-point normalizer. Reported in "family_canaries" so
# "canaries"/"canary_total" keep their r8-r12 meaning unchanged.
# Additions only: an edited canary stops being a canary.
FAMILY_CANARIES = (
    "dedup_exact_groups",       # hash-aggregate dedup path (r11)
    "embed_ann_brute_topk",     # vector HOF + per-query top-k path (r11)
    "text_word_entropy",        # explode/word-stats path (r11)
    # Second canaries chosen ~1-2 s (5-10x the r11 trio): the whole
    # point of the second point is escaping the 0.2 s noise regime,
    # so a short query would re-create the problem it fixes.
    "dedup_simhash_hamming_histogram",  # simhash/Hamming pair path (r13)
    "embed_cosine_neardup_pairs",       # LSH-bucketed cosine pair path (r13)
    "text_unigram_surprisal",           # explode + surprisal join path (r13)
)


def main() -> None:
    from real_time_data_pipeline_spark.queries import REGISTRY

    # script_session sets a reliable checkpoint dir: bench times the
    # checkpoint path the cluster story relies on, not the
    # localCheckpoint fast path.
    spark = script_session("rtdp-bench")

    # Global warmup: absorb one-time JVM/codegen/scan initialization so
    # it doesn't land on whichever query happens to run first (each
    # query also gets its own untimed warm run below). load_table, not
    # a bare read — events needs the timestamp normalization it does.
    # Warmup and per-query failures are RECORDED, never fatal: one
    # environment drift (round 4: events.ts changed physical type)
    # must not zero out the bench signal for every other query.
    from real_time_data_pipeline_spark.sources.tables import load_table

    for t in ("lineitem", "documents", "embeddings", "events"):
        try:
            load_table(spark, SF_DIR, t).groupBy().count().write.format("noop").mode(
                "overwrite"
            ).save()
        except Exception as exc:  # noqa: BLE001 — report, keep benching
            print(f"warmup {t} failed: {exc}", file=sys.stderr)

    timings: dict[str, float] = {}
    errors: dict[str, str] = {}
    canaries: dict[str, float] = {}
    family_canaries: dict[str, float] = {}
    for name, spec in REGISTRY.items():
        canary = name in CANARIES or name in FAMILY_CANARIES
        try:
            # Canaries take the median of 5 timed runs (VERDICT r12
            # #4; was median-of-3 through r12): 3 runs of a 0.2 s
            # query left ±20% round-to-round noise on the canary.
            runs = noop_seconds(lambda: spec.fn(spark, SF_DIR), 5 if canary else 1)
            timings[name] = runs[0]
            if canary:
                target = canaries if name in CANARIES else family_canaries
                target[name] = sorted(runs)[2]
        except Exception as exc:  # noqa: BLE001 — report, keep benching
            errors[name] = str(exc).split("\n", 1)[0][:300]

    families: dict[str, float] = {}
    for name, sec in timings.items():
        families[name.split("_")[0]] = round(families.get(name.split("_")[0], 0.0) + sec, 3)

    from real_time_data_pipeline_spark.queries.artifacts import (
        shared_artifact_build_breakdown,
        shared_artifact_build_seconds,
    )

    out = {
        "metric": "total_query_seconds",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": timings,
        "families": families,
        "canaries": canaries,
        "canary_total": round(sum(canaries.values()), 3),
        # Per-family drift normalizers (median-of-5, frozen r11):
        # divide a family's cross-round delta by its canary's ratio
        # before calling it a regression.
        "family_canaries": family_canaries,
        # One-time shared-index builds happen during the UNTIMED warm
        # runs (each query is warmed before timing), so this cost sits
        # outside every per-query number; reported so round-over-round
        # family comparisons can see how much one-time work the session
        # did. Registry rotation reorders the bench every round, which
        # also shifts WHERE in the session each family runs — family
        # timings drift with session position; normalize with the
        # canaries, judge per-query.
        "artifact_build_s": round(shared_artifact_build_seconds(), 3),
        # Per-artifact attribution of the line above (VERDICT r12 #2):
        # growth in the aggregate names its artifact instead of
        # hiding behind "cold JIT vs new artifact vs drift".
        "artifact_build_breakdown": shared_artifact_build_breakdown(),
        "n_queries": len(timings),
        "sf": SF_DIR,
    }
    if errors:
        # The headline total covers only the successful subset — mark it
        # PARTIAL so round-over-round comparisons never read a smaller
        # total caused by failures as a speedup.
        out["partial"] = True
        out["errors"] = errors
        out["n_errors"] = len(errors)
    print(json.dumps(out))

    # Persist the FULL per-query JSON under docs/bench/ (VERDICT r11
    # #6): the round driver keeps only the last 2000 chars of stdout,
    # which has repeatedly truncated away realized per-query numbers.
    # Tagged runs (SPARK_GRAFT_BENCH_TAG, e.g. r13_own1) get their own
    # curated file; untagged/casual runs overwrite a single
    # gitignored latest.json instead of accumulating timestamp-named
    # clutter in the tracked directory (ADVICE r12 #3).
    try:
        bench_dir = os.path.join(
            os.path.dirname(os.path.abspath(__file__)), "docs", "bench"
        )
        os.makedirs(bench_dir, exist_ok=True)
        tag = os.environ.get("SPARK_GRAFT_BENCH_TAG") or "latest"
        path = os.path.join(bench_dir, f"{tag}.json")
        with open(path, "w") as f:
            json.dump(out, f, indent=1, sort_keys=True)
        print(f"full bench JSON: {path}", file=sys.stderr)
    except OSError as exc:  # never let bookkeeping fail the bench
        print(f"bench persist failed: {exc}", file=sys.stderr)


if __name__ == "__main__":
    main()

#!/usr/bin/env python
"""Value-prove the hot-shingle df cap at a scale where it BINDS
(VERDICT r13 #3).

The containment/Jaccard family's complexity is sum(min(df, cap)^2)
over posting keys, and its production lever is the cap: a shingle in
more than `cap` documents carries no near-dup signal, so dropping it
bounds in-bucket pair expansion. `dedup_lsh_swarm_guard` proves
capped == uncapped OUTPUT — but only at test scale, where the cap
never binds (max df 25 at sf0.1 vs JACCARD_MAX_DF=50). This script
measures BOTH sides of the trade where the cap is ACTIVE: on the 10x
(and one 30x) synthetic-shard corpus (scaling_curve's builder —
shard-shared shingles deepen df ~Nx, so df reaches ~250 at 10x),
run `directional_containment_pairs` across a cap sweep and record,
per cap, against the UNCAPPED ground truth:

* runtime (median of --runs timed by scripts/measure.py::noop_seconds,
  bench.py's loop: tracked caches drained before every timed run);
* detected-pair recall |capped ∩ uncapped| / |uncapped| and the
  capped-only extras (capping shrinks post-cap denominators, so the
  capped arm can also ADD pairs — both directions reported);
* keep-one SURVIVOR agreement: undirected edges -> connected
  components -> drop non-min members; the dedup outcome production
  actually acts on. Reported as dropped-set overlap and the count of
  docs whose keep/drop decision flips;
* df accounting (max df, #shingles over cap, sum(min(df,cap)^2)) —
  the lsh_oversize_stats-style "no silent caps" observability.

Usage:
  python scripts/cap_tradeoff.py [--scales 10,30] [--runs 3] \
      [--caps 16,50,200] [--out docs/bench/latest/cap_tradeoff.json]

The uncapped arm is the reference and always runs; at 30x it is
~900x the shard-0 shared-pair volume, so --skip-uncapped-at can
bound the wait by reusing a capped arm as reference there (recorded
in the JSON as reference_cap, never silently).
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys

from measure import LATEST_DIR, SCALE_HEAP, noop_seconds, script_session
from scaling_curve import SF1_DIR, build_corpus


def measure_scale(spark, sf_dir: str, caps: "list[int]", runs: int,
                  uncapped_reference: bool) -> dict:
    from pyspark.sql import functions as F

    from real_time_data_pipeline_spark.operators.materialize import (
        persist_tracked,
        release_caches,
    )
    from real_time_data_pipeline_spark.operators.similarity import (
        connected_components,
        directional_containment_pairs,
        shingle_postings,
    )
    from real_time_data_pipeline_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")

    # df accounting once per scale: the observability half.
    df_counts = persist_tracked(
        shingle_postings(docs, "doc_id", "text", 3)
        .groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("df"))
    )
    df_stats = {
        "n_shingles": df_counts.count(),
        "max_df": df_counts.agg(F.max("df")).first()[0],
    }
    for cap in caps:
        row = df_counts.agg(
            F.sum((F.col("df") > cap).cast("long")).alias("over"),
            F.sum(
                F.when(F.col("df") <= cap, F.col("df") * F.col("df")).otherwise(0)
            ).alias("work"),
        ).first()
        # shingles over the cap are DROPPED by max_df (not truncated),
        # so the work sum counts only surviving buckets
        df_stats[f"cap_{cap}"] = {
            "n_shingles_dropped": int(row["over"]),
            "pair_work_sum_df_sq": int(row["work"]),
        }
    df_stats["uncapped_pair_work_sum_df_sq"] = int(
        df_counts.agg(F.sum(F.col("df") * F.col("df"))).first()[0]
    )
    release_caches()

    def run(cap):
        return directional_containment_pairs(
            docs, "doc_id", "text", n=3, threshold=0.9, max_df=cap
        )

    arms: "dict[str, dict]" = {}
    pair_sets: "dict[str, object]" = {}
    for cap in [*caps, None] if uncapped_reference else caps:
        key = "uncapped" if cap is None else f"cap_{cap}"
        times = noop_seconds(lambda: run(cap), runs)
        pairs = persist_tracked(run(cap).select("src_id", "dst_id"))
        edges = (
            pairs.select(
                F.least("src_id", "dst_id").alias("id_a"),
                F.greatest("src_id", "dst_id").alias("id_b"),
            ).distinct()
        )
        labels = connected_components(edges, "id_a", "id_b")
        dropped = persist_tracked(
            labels.where(F.col("id_a") != F.col("cluster_id")).select(
                F.col("id_a").alias("node")
            )
        )
        arms[key] = {
            "cap": cap,
            "median_s": round(statistics.median(times), 3),
            "runs_s": times,
            "n_pairs": pairs.count(),
            "n_dropped_docs": dropped.count(),
        }
        pair_sets[key] = {"pairs": pairs, "dropped": dropped}

    ref_key = "uncapped" if uncapped_reference else f"cap_{max(caps)}"
    ref = pair_sets[ref_key]
    for key, arm in arms.items():
        if key == ref_key:
            arm["is_reference"] = True
            continue
        ps, ds = pair_sets[key]["pairs"], pair_sets[key]["dropped"]
        common = ps.join(ref["pairs"], ["src_id", "dst_id"]).count()
        arm["pair_recall_vs_ref"] = round(
            common / max(arms[ref_key]["n_pairs"], 1), 6
        )
        arm["n_pairs_only_in_this_arm"] = arm["n_pairs"] - common
        d_common = ds.join(ref["dropped"], "node").count()
        n_ref_drop = arms[ref_key]["n_dropped_docs"]
        arm["dropped_recall_vs_ref"] = round(d_common / max(n_ref_drop, 1), 6)
        # keep/drop decision flips in either direction — the outcome delta
        arm["n_keep_drop_flips"] = (
            (arm["n_dropped_docs"] - d_common) + (n_ref_drop - d_common)
        )
    release_caches()
    return {
        "reference": ref_key,
        "df_stats": df_stats,
        "arms": arms,
    }


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--scales", default="10,30")
    ap.add_argument("--runs", type=int, default=3)
    ap.add_argument("--caps", default="16,50,200")
    ap.add_argument(
        "--skip-uncapped-at",
        default="",
        help="comma-separated scales where the uncapped reference is too "
        "expensive; the largest capped arm becomes the reference there "
        "(recorded in the JSON, never silent)",
    )
    ap.add_argument("--out", default=os.path.join(LATEST_DIR, "cap_tradeoff.json"))
    args = ap.parse_args()
    scales = [int(s) for s in args.scales.split(",")]
    caps = [int(c) for c in args.caps.split(",")]
    skip_unc = {int(s) for s in args.skip_uncapped_at.split(",") if s.strip()}

    spark = script_session(
        "rtdp-cap-tradeoff",
        {
            **SCALE_HEAP,
            # Local-mode artifact: the driver doubles as the broadcast
            # builder, and at 30x an AQE broadcast build of the
            # post-cap per-doc counts tops the 1g default result cap.
            # A cluster driver configures this; raising it here keeps
            # the PLAN identical to production instead of disabling
            # auto-broadcast for the measurement.
            "spark.driver.maxResultSize": "8g",
        },
    )

    results = {}
    # Resume-merge: a rerun for one scale (e.g. a bigger heap for 30x
    # only) must not wipe the other scales' already-flushed results.
    if os.path.exists(args.out):
        with open(args.out) as f:
            prev = json.load(f)
        if prev.get("base_sf_dir") == SF1_DIR:
            results.update(prev.get("scales", {}))
    out = {
        "metric": "cap_tradeoff",
        "operator": "directional_containment_pairs(threshold=0.9, n=3)",
        "base_sf_dir": SF1_DIR,
        "production_cap": 50,
        "scales": results,
    }
    if os.path.dirname(args.out):
        os.makedirs(os.path.dirname(args.out), exist_ok=True)
    for s in scales:
        sf_dir = SF1_DIR if s == 1 else build_corpus(spark, s)
        print(f"== scale x{s}: {sf_dir}", file=sys.stderr)
        results[f"x{s}"] = measure_scale(
            spark, sf_dir, caps, args.runs, uncapped_reference=s not in skip_unc
        )
        print(json.dumps(results[f"x{s}"]["arms"], indent=1), file=sys.stderr)
        # flush after every scale: a crash at 30x must not lose the
        # completed 10x measurement
        with open(args.out, "w") as f:
            json.dump(out, f, indent=1, sort_keys=True)
    print(json.dumps(out))
    print(f"wrote {args.out}", file=sys.stderr)


if __name__ == "__main__":
    main()

#!/usr/bin/env python
"""Per-round scale gate (VERDICT r13 #4): the budgeted subset of the
r13 measurement harnesses, run as ONE command with a pass/fail exit
code, so the scaling-curve and twin-flatness gates are a round
invariant beside pytest rather than stale JSON.

Both component harnesses caught a real scale defect on their first
full run (the stride-seeded codebook quadratic; the market-basket
checkpoint pile-up) — this keeps that power cheap enough to re-run
every round:

* scaling_curve on the 5 heaviest north-star queries + the
  cap-saturated containment arm, at 1x/10x (the leg where both r13
  defects surfaced), worst-leg exponent gated per documented bound;
* twin_batch_cost on the heaviest index twin (IVF) at 20 batches,
  gated on last5/first5 flatness.

Usage:
  python scripts/round_scale_gate.py [--tag r14] [--full]

--full widens to every TARGETS query and all four twins at 40
batches (the r13-style full sweep); default stays within a few
minutes of wall-clock. Component JSONs land beside the combined
docs/bench/round_gate_<tag>.json (without --tag: the gitignored
docs/bench/latest/round_gate_latest.json); exit code 1 when any gate
fails.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

from measure import LATEST_DIR, REPO

HERE = os.path.dirname(os.path.abspath(__file__))

# The five most expensive registry queries by the r13 driver bench,
# plus the tight-gated capped-regime containment arm (ADVICE r13 #2).
GATE_QUERIES = [
    "dedup_lsh_swarm_guard",
    "dedup_incremental_batch",
    "embed_ann_ivf_topk",
    "embed_pq_adc_topk",
    "contamination_bloom_prefilter",
    "dedup_directional_containment_cap32",
]


def _run(cmd: "list[str]") -> None:
    print("+", " ".join(cmd), file=sys.stderr)
    subprocess.run(cmd, check=True, cwd=REPO)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--tag")
    ap.add_argument("--full", action="store_true")
    ap.add_argument("--runs", type=int, default=3)
    args = ap.parse_args()

    bench_dir = os.path.join(REPO, "docs", "bench") if args.tag else LATEST_DIR
    args.tag = args.tag or "latest"
    scaling_out = os.path.join(bench_dir, f"round_gate_scaling_{args.tag}.json")
    twin_out = os.path.join(bench_dir, f"round_gate_twin_{args.tag}.json")
    combined_out = os.path.join(bench_dir, f"round_gate_{args.tag}.json")

    scaling_cmd = [
        sys.executable, os.path.join(HERE, "scaling_curve.py"),
        "--scales", "1,10", "--runs", str(args.runs), "--out", scaling_out,
    ]
    if not args.full:
        scaling_cmd += ["--queries", ",".join(GATE_QUERIES)]
    _run(scaling_cmd)

    twin_cmd = [
        sys.executable, os.path.join(HERE, "twin_batch_cost.py"),
        "--batches", "40" if args.full else "20",
        "--twins", "ivf,corpus_stats,countmin,zonemap" if args.full else "ivf",
        "--out", twin_out,
    ]
    _run(twin_cmd)

    with open(scaling_out) as f:
        scaling = json.load(f)
    with open(twin_out) as f:
        twin = json.load(f)

    failures = []
    for name, row in scaling["queries"].items():
        if not row["within_bound"]:
            failures.append(
                f"scaling:{name} worst_leg {row['worst_leg_exponent']} > "
                f"bound {row['documented_exponent_max']} (+0.15 margin)"
            )
    for name, row in twin["twins"].items():
        if not row["flat_within_gate"]:
            failures.append(
                f"twin:{name} last5/first5 {row['last5_over_first5']} > gate"
            )

    out = {
        "metric": "round_scale_gate",
        "tag": args.tag,
        "passed": not failures,
        "failures": failures,
        "scaling_worst_legs": {
            n: r["worst_leg_exponent"] for n, r in scaling["queries"].items()
        },
        "twin_flatness": {
            n: r["last5_over_first5"] for n, r in twin["twins"].items()
        },
        "component_files": [
            os.path.relpath(scaling_out, REPO),
            os.path.relpath(twin_out, REPO),
        ],
    }
    with open(combined_out, "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
    print(json.dumps(out))
    print(f"wrote {combined_out}", file=sys.stderr)
    if failures:
        print("ROUND SCALE GATE: FAIL", file=sys.stderr)
        return 1
    print("ROUND SCALE GATE: PASS", file=sys.stderr)
    return 0


if __name__ == "__main__":
    sys.exit(main())

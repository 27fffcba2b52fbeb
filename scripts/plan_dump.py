#!/usr/bin/env python
"""Capture physical plans and isolated timings for registry queries.

For each named query (or --all), builds the frame exactly as bench.py
does, writes `.explain("formatted")` to <plan dir>/<query>_<tag>.txt,
and optionally times `noop`-sink executions with bench.py's loop
(scripts/measure.py::noop_seconds: one untimed warm run, then N timed
runs, each after a blocking drain of the tracked caches).

Usage:
  python scripts/plan_dump.py --tag before --queries a b c --runs 3
  python scripts/plan_dump.py --tag before --all            # plans only

Timings print as one JSON line per query on stdout. Plans land under
the committed plans/$SPARK_GRAFT_ROUND/ when that variable is set,
else under the gitignored docs/bench/latest/plans/. Uses get_spark()
(AQE, sized shuffle partitions) — the bench session, not the vanilla
driver-sim session, because these numbers guide optimization of
bench.py's measurements.
"""

from __future__ import annotations

import argparse
import json
import os

from measure import LATEST_DIR, REPO, noop_seconds, script_session

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
ROUND = os.environ.get("SPARK_GRAFT_ROUND")


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--queries", nargs="*", default=[])
    ap.add_argument("--all", action="store_true")
    ap.add_argument("--tag", default="before")
    ap.add_argument("--runs", type=int, default=0, help="timed noop runs (0 = plan only)")
    args = ap.parse_args()

    from real_time_data_pipeline_spark.queries import REGISTRY
    from real_time_data_pipeline_spark.operators.materialize import release_caches

    spark = script_session("rtdp-plan-dump")
    names = list(REGISTRY) if args.all else args.queries
    plan_dir = (
        os.path.join(REPO, "plans", ROUND) if ROUND else os.path.join(LATEST_DIR, "plans")
    )
    os.makedirs(plan_dir, exist_ok=True)

    for name in names:
        spec = REGISTRY.get(name)
        if spec is None:
            print(json.dumps({"query": name, "error": "unknown query"}))
            continue
        try:
            spark.sparkContext.setJobDescription(f"plan_dump:{name}")
            df = spec.fn(spark, SF_DIR)
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
            path = os.path.join(plan_dir, f"{name}_{args.tag}.txt")
            with open(path, "w") as f:
                f.write(plan)
            rec: dict = {"query": name, "plan": path}
            if args.runs:
                runs = noop_seconds(lambda: spec.fn(spark, SF_DIR), args.runs)
                rec["runs"] = runs
                rec["median"] = sorted(runs)[len(runs) // 2]
            print(json.dumps(rec), flush=True)
        except Exception as exc:  # noqa: BLE001 — keep dumping the rest
            print(json.dumps({"query": name, "error": str(exc).split("\n", 1)[0][:300]}), flush=True)
        finally:
            spark.sparkContext.setJobDescription(None)
            release_caches()  # the plan capture's own build registers persists


if __name__ == "__main__":
    main()

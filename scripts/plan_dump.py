#!/usr/bin/env python
"""Capture physical plans and isolated timings for registry queries.

For each named query (or --all), builds the frame exactly as bench.py
does, writes `.explain("formatted")` to plans/<round>/<query>_<tag>.txt,
and optionally times `noop`-sink executions (one untimed warm run, then
N timed runs — the bench methodology, guide §1.4). Since r16, tracked
caches are drained before EVERY timed run (bench.py's warm-run cache
hole, VERDICT r15 #1), so medians measure full recomputation.

Usage:
  python scripts/plan_dump.py --tag before --queries a b c --runs 3
  python scripts/plan_dump.py --tag before --all            # plans only

Timings print as one JSON line per query on stdout; plans land under
plans/$SPARK_GRAFT_ROUND (default r15). Uses get_spark() (AQE, sized
shuffle partitions) — the bench session, not the vanilla driver-sim
session, because these numbers guide optimization of bench.py's
measurements.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")
ROUND = os.environ.get("SPARK_GRAFT_ROUND", "r15")


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--queries", nargs="*", default=[])
    ap.add_argument("--all", action="store_true")
    ap.add_argument("--tag", default="before")
    ap.add_argument("--runs", type=int, default=0, help="timed noop runs (0 = plan only)")
    args = ap.parse_args()

    from real_time_data_pipeline_spark.session import get_spark
    from real_time_data_pipeline_spark.queries import REGISTRY
    from real_time_data_pipeline_spark.operators.materialize import release_caches

    spark = get_spark(app_name="rtdp-plan-dump", master=f"local[{CPUS}]")
    spark.sparkContext.setLogLevel("ERROR")
    if spark.sparkContext.getCheckpointDir() is None:
        import tempfile

        spark.sparkContext.setCheckpointDir(tempfile.mkdtemp(prefix="rtdp-plan-ckpt-"))

    names = list(REGISTRY) if args.all else args.queries
    plan_dir = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "plans", ROUND
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
                df.write.format("noop").mode("overwrite").save()  # warm
                runs = []
                for _ in range(args.runs):
                    # r16 methodology fix (VERDICT r15 #1, same as
                    # bench.py): drain tracked caches before every
                    # timed run so it pays full computation instead of
                    # reading the previous run's InMemoryRelation.
                    release_caches(blocking=True)
                    t0 = time.perf_counter()
                    spec.fn(spark, SF_DIR).write.format("noop").mode(
                        "overwrite"
                    ).save()
                    runs.append(round(time.perf_counter() - t0, 3))
                rec["runs"] = runs
                rec["median"] = sorted(runs)[len(runs) // 2]
            print(json.dumps(rec), flush=True)
        except Exception as exc:  # noqa: BLE001 — keep dumping the rest
            print(json.dumps({"query": name, "error": str(exc).split("\n", 1)[0][:300]}), flush=True)
        finally:
            spark.sparkContext.setJobDescription(None)
            release_caches()


if __name__ == "__main__":
    main()

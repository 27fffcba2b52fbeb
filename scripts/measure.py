"""The session, the timing loop and the default output location every
harness script shares (bench.py, plan_dump.py, scaling_curve.py,
cap_tradeoff.py, twin_batch_cost.py, round_scale_gate.py).

One loop means every script times the same thing: one untimed warm
`noop` write (JIT, file listing, shared-artifact builds), then per
timed run a BLOCKING drain of the tracked caches outside the clock,
so each run pays full computation from the inputs instead of reading
the previous run's InMemoryRelation (the r16 honest-clock rule,
OPTIMIZATION_r16.md). Shared artifacts stay warm by design: they are
session-level indexes, not per-request caches.
"""

from __future__ import annotations

import os
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if REPO not in sys.path:
    sys.path.insert(0, REPO)

# Where a script writes when not told otherwise: gitignored, beside
# bench.py's docs/bench/latest.json, so a plain run never overwrites
# a committed artifact. Curated runs pass --out / --tag /
# SPARK_GRAFT_ROUND.
LATEST_DIR = os.path.join(REPO, "docs", "bench", "latest")

# Driver heap for the corpus-scale harnesses (scaling, cap trade-off,
# twin cost): the engine's own SPARK_GRAFT_DRIVER_MEM, with a bigger
# default than session.py's 4g because the 10x corpus needs it (the
# 1g local default OOM'd the r15 dedup-twin run).
SCALE_HEAP = {"spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g")}


def script_session(app_name: str, extra_conf: "dict[str, str] | None" = None):
    """The harness session: get_spark() at $SPARK_MASTER when set,
    else at local[$SPARK_GRAFT_CPUS] (32 when unset), ERROR logging,
    and a temporary RELIABLE checkpoint dir when none is configured,
    so reliable_materialize times the checkpoint path a cluster runs
    instead of the localCheckpoint fallback."""
    from real_time_data_pipeline_spark.session import get_spark

    cpus = os.environ.get("SPARK_GRAFT_CPUS") or "32"
    master = os.environ.get("SPARK_MASTER") or f"local[{cpus}]"
    spark = get_spark(app_name=app_name, master=master, extra_conf=extra_conf)
    spark.sparkContext.setLogLevel("ERROR")
    if spark.sparkContext.getCheckpointDir() is None:
        spark.sparkContext.setCheckpointDir(tempfile.mkdtemp(prefix=f"{app_name}-ckpt-"))
    return spark


def noop_seconds(build, runs: int) -> "list[float]":
    """Seconds of ``runs`` timed `noop` writes of ``build()`` (a fresh
    frame per run), after one untimed warm write; tracked caches are
    drained, blocking, before every timed run and once at the end."""
    from real_time_data_pipeline_spark.operators.materialize import release_caches

    try:
        build().write.format("noop").mode("overwrite").save()
        out = []
        for _ in range(runs):
            release_caches(blocking=True)
            t0 = time.perf_counter()
            build().write.format("noop").mode("overwrite").save()
            out.append(round(time.perf_counter() - t0, 3))
        return out
    finally:
        release_caches()

"""Tests for the harness scripts' shared timing loop (scripts/measure.py)."""

from real_time_data_pipeline_spark.operators import materialize
from scripts.measure import noop_seconds


def test_noop_seconds_drains_tracked_caches_before_every_timed_run(spark):
    seen = []

    def build():
        seen.append(len(materialize._LIVE_CACHES))
        return materialize.persist_tracked(spark.range(1000).selectExpr("id * 2 AS v"))

    runs = 3
    out = noop_seconds(build, runs)
    # one warm build, then one build per timed run
    assert len(seen) == runs + 1
    # every timed run starts with the previous run's cache drained
    assert seen[1:] == [0] * runs
    assert len(out) == runs and all(isinstance(t, float) for t in out)
    assert materialize._LIVE_CACHES == []

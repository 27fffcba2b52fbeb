"""Tests for the harness scripts' shared session and timing loop
(scripts/measure.py)."""

from types import SimpleNamespace

import pytest

from real_time_data_pipeline_spark.operators import materialize
from scripts.measure import noop_seconds, script_session


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


@pytest.mark.parametrize(
    "master, want", [("spark://head:7077", "spark://head:7077"), (None, "local[2]")]
)
def test_script_session_prefers_spark_master(monkeypatch, master, want):
    """A harness session opens on $SPARK_MASTER when it is set (the
    cluster recipe), else on local[$SPARK_GRAFT_CPUS]; no JVM starts."""
    from real_time_data_pipeline_spark import session

    seen = []

    def fake_get_spark(app_name, master=None, extra_conf=None):
        seen.append(master)
        return SimpleNamespace(
            sparkContext=SimpleNamespace(
                setLogLevel=lambda level: None, getCheckpointDir=lambda: "ckpt"
            )
        )

    monkeypatch.setattr(session, "get_spark", fake_get_spark)
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "2")
    if master is None:
        monkeypatch.delenv("SPARK_MASTER", raising=False)
    else:
        monkeypatch.setenv("SPARK_MASTER", master)
    script_session("rtdp-test")
    assert seen == [want]

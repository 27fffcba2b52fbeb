"""Batch and stream shuffle widths (session.py module doc).

Each test runs in a ``newSession()`` of the suite's JVM carrying the
width conf ``get_spark`` would set, so no second JVM starts.
"""

import os
import re

import pandas as pd

from real_time_data_pipeline_spark.operators.ranking import (
    grouped_percentile_cont,
    release_rank_caches,
)
from real_time_data_pipeline_spark.pipelines.station_status import (
    normalize_raw,
    to_gold,
    to_silver,
)
from real_time_data_pipeline_spark.plans import executed_plan
from real_time_data_pipeline_spark.schemas import STATION_STATUS_RAW_SCHEMA
from real_time_data_pipeline_spark.session import (
    BATCH_WIDTH,
    STREAM_WIDTH,
    batch_width,
    width_conf,
)
from real_time_data_pipeline_spark.streaming.sinks import upsert_parquet
from real_time_data_pipeline_spark.streaming.sources import file_stream

GOLD_KEYS = ["station_id", "window_start"]


def _session(spark, conf):
    s = spark.newSession()
    for k, v in conf.items():
        s.conf.set(k, v)
    return s


def _default_local(spark):
    """What ``get_spark()`` sets on a 4-core ``local`` master."""
    return _session(spark, width_conf("local[4]", "4"))


def _land(d, i):
    """Snapshot ``i``: five stations, one report each, 5 min apart."""
    base = 1715012345 + i * 300
    rows = [
        {
            "station_id": str(s),
            "num_bikes_available": str((i + s) % 7),
            "num_ebikes_available": None,
            "num_docks_available": str(10 - (i + s) % 7),
            "is_installed": "1",
            "is_renting": "1",
            "is_returning": "true",
            "last_reported": str(base + s),
        }
        for s in range(5)
    ]
    pd.DataFrame(rows).to_parquet(os.path.join(d, f"snap-{i:03d}.parquet"), index=False)


def _run_gold(session, landing, ckpt, gold, seen=None):
    """Drain ``landing`` through the station pipeline into ``gold``
    (foreachBatch upsert, the live gold sink's shape)."""

    def sink(df, batch_id):
        if seen is not None:
            seen.append(
                (
                    df.sparkSession.conf.get(STREAM_WIDTH),
                    df.groupBy("station_id").count().rdd.getNumPartitions(),
                )
            )
        upsert_parquet(df, gold, GOLD_KEYS)

    stream = file_stream(session, landing, STATION_STATUS_RAW_SCHEMA)
    q = (
        to_gold(to_silver(normalize_raw(stream)))
        .writeStream.foreachBatch(sink)
        .outputMode("update")
        .option("checkpointLocation", ckpt)
        .start()
    )
    q.processAllAvailable()
    q.stop()


def _state_partitions(ckpt):
    """Partition dirs per stateful operator: {op: sorted partition ids}."""
    root = os.path.join(ckpt, "state")
    return {
        op: sorted(p for p in os.listdir(os.path.join(root, op)) if p.isdigit())
        for op in os.listdir(root)
        if op.isdigit()
    }


def _gold_rows(spark, path):
    return sorted(
        (r.station_id, str(r.window_start), round(r.avg_bikes, 6), round(r.avg_docks, 6))
        for r in spark.read.parquet(path).collect()
    )


def test_default_local_stream_runs_one_state_partition(spark, tmp_path):
    s = _default_local(spark)
    landing = str(tmp_path / "landing")
    os.makedirs(landing)
    for i in range(3):
        _land(landing, i)
    ckpt = str(tmp_path / "ckpt")
    seen = []
    _run_gold(s, landing, ckpt, str(tmp_path / "gold"), seen)

    parts = _state_partitions(ckpt)
    assert len(parts) >= 2  # watermarked dedup + window aggregate
    assert all(p == ["0"] for p in parts.values()), parts
    # the foreachBatch frame plans its own exchanges at the stream width
    assert seen and all(w == ("1", 1) for w in seen), seen


def test_default_local_batch_plans_start_core_count_wide(spark):
    s = _default_local(spark)
    assert batch_width(s) == 4
    df = s.createDataFrame([(g, float(v)) for g in "ab" for v in range(20)], "g string, v double")
    plan = executed_plan(grouped_percentile_cont(df, ["g"], "v", [0.5], ["p50"]))
    release_rank_caches()
    assert set(re.findall(r"rangepartitioning\(.*?, (\d+)\), REPARTITION_BY_NUM", plan)) == {"4"}
    assert re.search(r"hashpartitioning\(g#\d+, 4\)", executed_plan(df.groupBy("g").count()))


def test_explicit_shuffle_partitions_sets_both_widths():
    assert width_conf("local[4]", "4", 6) == {BATCH_WIDTH: "6", STREAM_WIDTH: "6"}
    assert width_conf("spark://master:7077", "16", 6) == {BATCH_WIDTH: "6", STREAM_WIDTH: "6"}
    # without it, only a local master narrows the stream width
    assert width_conf("spark://master:7077", "16") == {BATCH_WIDTH: "16", STREAM_WIDTH: "16"}
    assert width_conf("local[4]", "4") == {BATCH_WIDTH: "4", STREAM_WIDTH: "1"}


def test_checkpoint_keeps_its_width_across_the_default_change(spark, tmp_path):
    """A checkpoint first started at width 4 (the old local default)
    restarts under the width-1 default with its 4 state partitions
    and the same gold as a stream that ran at width 1 throughout."""
    landing = str(tmp_path / "landing")
    os.makedirs(landing)
    for i in range(2):
        _land(landing, i)
    ckpt, gold = str(tmp_path / "ckpt"), str(tmp_path / "gold")
    _run_gold(_session(spark, width_conf("local[4]", "4", 4)), landing, ckpt, gold)
    for i in range(2, 5):
        _land(landing, i)
    _run_gold(_default_local(spark), landing, ckpt, gold)

    parts = _state_partitions(ckpt)
    assert parts and all(p == ["0", "1", "2", "3"] for p in parts.values()), parts
    fresh_ckpt, fresh_gold = str(tmp_path / "fresh_ckpt"), str(tmp_path / "fresh_gold")
    _run_gold(_default_local(spark), landing, fresh_ckpt, fresh_gold)
    assert all(p == ["0"] for p in _state_partitions(fresh_ckpt).values())
    expected = _gold_rows(spark, fresh_gold)
    assert expected and _gold_rows(spark, gold) == expected

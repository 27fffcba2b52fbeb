"""Reference-parity tests for the station_status pipeline.

The golden row and edge cases come from FIXTURES.md (distilled from
the reference's own unit test, tests/test_producer_schema.py, and its
transform chain).
"""

import pytest
from pyspark.sql import functions as F

from real_time_data_pipeline_spark.pipelines.station_status import (
    gold_checks,
    normalize_raw,
    to_gold,
    to_silver,
)
from real_time_data_pipeline_spark.schemas import STATION_STATUS_RAW_SCHEMA
from real_time_data_pipeline_spark.sources.sinks import drop_partitions_older_than
from real_time_data_pipeline_spark.streaming.sinks import replace_partitions


def _raw_df(spark, rows):
    return spark.createDataFrame(rows, STATION_STATUS_RAW_SCHEMA)


GOLDEN_RAW = ("72", "3", None, "10", "1", "0", "true", "1715012345")


def test_normalize_golden_row(spark):
    """FIXTURES.md §1 golden row: messy types → clean types."""
    out = normalize_raw(_raw_df(spark, [GOLDEN_RAW])).collect()[0]
    assert out.station_id == "72"
    assert out.num_bikes_available == 3
    assert out.num_ebikes_available is None
    assert out.num_docks_available == 10
    assert out.is_installed is True
    assert out.is_renting is False
    assert out.is_returning is True
    assert out.last_reported == 1715012345


def test_normalize_edge_cases(spark):
    rows = [
        ("1", "x", "2", None, "2", "maybe", None, None),  # junk ints, out-of-domain flags
    ]
    out = normalize_raw(_raw_df(spark, rows)).collect()[0]
    assert out.num_bikes_available == 0  # int(x, default 0)
    assert out.num_docks_available == 0
    assert out.is_installed is None  # 2 → NULL
    assert out.is_renting is None  # 'maybe' → NULL
    assert out.last_reported == 0  # missing epoch default


def test_silver_ratio_guard_and_dedup(spark):
    rows = [
        ("a", "3", None, "9", "1", "1", "1", "1715012345"),
        ("a", "4", None, "8", "1", "1", "1", "1715012345"),  # dup key, differing counts
        ("b", "0", None, "0", "1", "1", "1", "1715012345"),  # 0/0 → NULL ratio
    ]
    silver = to_silver(normalize_raw(_raw_df(spark, rows)))
    got = {r.station_id: r for r in silver.collect()}
    assert len(got) == 2  # dedup on (station_id, last_reported)
    assert got["a"].num_bikes_available == 4  # deterministic winner (max counts)
    assert got["a"].pct_bikes_available == pytest.approx(4 / 12)
    assert got["b"].pct_bikes_available is None  # divide-by-zero guard
    assert str(got["a"].event_ts) == "2024-05-06 16:19:05"  # epoch→ts


def test_gold_schema_and_checks(spark):
    rows = [
        ("a", "3", None, "9", "1", "1", "1", "1715012345"),
        ("a", "6", None, "6", "1", "1", "1", "1715013245"),  # next 15-min window
        ("b", "0", None, "0", "1", "1", "1", "1715012345"),
    ]
    gold = to_gold(to_silver(normalize_raw(_raw_df(spark, rows))))
    assert [f.name for f in gold.schema.fields] == [
        "station_id",
        "avg_pct_bikes_available",
        "avg_bikes",
        "avg_docks",
        "window_start",
        "window_end",
    ]
    rows_out = gold.collect()
    assert len(rows_out) == 3  # (a, w1), (a, w2), (b, w1)
    checks = gold_checks(gold).collect()
    assert all(r.passed for r in checks), [(r.check_name, r.metric_value) for r in checks]


def test_gold_window_boundary(spark):
    """Events straddling a 15-min boundary land in different windows
    (FIXTURES.md §5: 11:59:59 vs 12:00:00)."""
    t1 = 1715083199  # 2024-05-07 11:59:59 UTC
    t2 = 1715083200  # 2024-05-07 12:00:00 UTC
    rows = [
        ("s", "1", None, "1", "1", "1", "1", str(t1)),
        ("s", "1", None, "1", "1", "1", "1", str(t2)),
    ]
    gold = to_gold(to_silver(normalize_raw(_raw_df(spark, rows))))
    starts = sorted(str(r.window_start) for r in gold.collect())
    assert starts == ["2024-05-07 11:45:00", "2024-05-07 12:00:00"]


def test_streaming_station_pipeline_parity(spark, tmp_path):
    """Same pipeline functions over a file-replay stream == batch run
    (the reference needs a separate backfill job for this)."""
    import os

    import pandas as pd

    d = str(tmp_path / "station_replay")
    os.makedirs(d)
    rows = []
    base = 1715012345
    for i in range(40):
        rows.append(
            {
                "station_id": str(i % 5),
                "num_bikes_available": str(i % 7),
                "num_ebikes_available": None,
                "num_docks_available": str(10 - i % 7),
                "is_installed": "1",
                "is_renting": "1",
                "is_returning": "true",
                "last_reported": str(base + i * 300),
            }
        )
    pdf = pd.DataFrame(rows)
    pdf.iloc[:20].to_parquet(f"{d}/b0.parquet", index=False)
    pdf.iloc[20:].to_parquet(f"{d}/b1.parquet", index=False)

    from real_time_data_pipeline_spark.streaming.sources import file_stream

    stream = file_stream(spark, d, STATION_STATUS_RAW_SCHEMA, max_files_per_trigger=1)
    gold_stream = to_gold(to_silver(normalize_raw(stream)))
    q = (
        gold_stream.writeStream.format("memory")
        .queryName("station_gold")
        .outputMode("complete")
        .start()
    )
    q.processAllAvailable()
    q.stop()
    got = spark.table("station_gold")

    batch_gold = to_gold(to_silver(normalize_raw(spark.createDataFrame(pdf, STATION_STATUS_RAW_SCHEMA))))
    canon = lambda df: sorted(  # noqa: E731
        (r.station_id, str(r.window_start), round(r.avg_bikes, 6)) for r in df.collect()
    )
    assert canon(got) == canon(batch_gold)


def test_partitioned_write_and_retention(spark, tmp_path):
    path = str(tmp_path / "silver_part")
    df = spark.createDataFrame(
        [("2024-05-01", 1.0), ("2024-05-02", 2.0), ("2024-05-09", 3.0)],
        "date string, v double",
    )
    replace_partitions(df, path, ["date"])
    # partition replace: rewriting one date leaves the others intact
    df2 = spark.createDataFrame([("2024-05-02", 20.0)], "date string, v double")
    replace_partitions(df2, path, ["date"])
    # partition values are type-inferred on read → stringify
    got = {str(r.date): r.v for r in spark.read.parquet(path).collect()}
    assert got == {"2024-05-01": 1.0, "2024-05-02": 20.0, "2024-05-09": 3.0}
    # retention: drop partitions older than 7 days from 2024-05-09
    dropped = drop_partitions_older_than(spark, path, "date", 7, "2024-05-09")
    assert dropped == ["2024-05-01"]
    left = {str(r.date) for r in spark.read.parquet(path).collect()}
    assert left == {"2024-05-02", "2024-05-09"}


def test_retention_drops_partitions_under_a_file_uri(spark, tmp_path):
    """Retention lists and deletes through the Hadoop FS API, so a
    ``file://`` table path loses its old partitions too."""
    path = tmp_path / "silver_uri"
    for day in ("2024-05-01", "2024-05-09"):
        (path / f"date={day}").mkdir(parents=True)
    dropped = drop_partitions_older_than(spark, path.as_uri(), "date", 7, "2024-05-09")
    assert dropped == ["2024-05-01"]
    assert [p.name for p in path.iterdir()] == ["date=2024-05-09"]

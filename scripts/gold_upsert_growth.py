"""Per-batch cost of a date-partitioned gold upsert as history grows.

For each history length in ``--days`` this writes a gold table of
200 stations x 96 fifteen-minute windows per day, partitioned by
``date``, then times 3 warm
``upsert_parquet(..., partition_col="date")`` calls that each re-send
one row per station for the last window of the last day (after one
untimed warm-up upsert, and after a whole untimed 1-day pass that
warms the JVM). It prints one JSON line per history length with the
per-run wall seconds and their median.

    python scripts/gold_upsert_growth.py [--days 1 30 180]

The package is imported from the checkout that holds this script, so
a copy of the script in another checkout measures that checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from real_time_data_pipeline_spark.session import get_spark  # noqa: E402
from real_time_data_pipeline_spark.streaming.sinks import upsert_parquet  # noqa: E402

GOLD_KEYS = ["station_id", "window_start"]
WINDOWS_PER_DAY = 96
STATIONS = 200
RUNS = 3  # timed upserts per history length


def gold_rows(spark, first_window: int, n_windows: int, bump: float):
    """Gold rows for every station over windows
    [first_window, first_window + n_windows) counted from 2024-01-01."""
    cell = F.col("id")
    window = F.lit(first_window) + F.floor(cell / STATIONS)
    start = F.timestamp_seconds(F.lit(1704067200) + window * 900)
    return (
        spark.range(STATIONS * n_windows)
        .select(
            F.format_string("s%04d", (cell % STATIONS).cast("int")).alias("station_id"),
            ((cell % 97) / 97.0 + bump).alias("avg_pct_bikes_available"),
            ((cell % 13) + bump).alias("avg_bikes"),
            ((cell % 11) + bump).alias("avg_docks"),
            start.alias("window_start"),
            (start + F.expr("INTERVAL 15 MINUTES")).alias("window_end"),
        )
        .withColumn("date", F.to_date("window_start"))
    )


def measure(spark, root: str, days: int) -> list[float]:
    """Wall seconds of `RUNS` upserts into a fresh ``days``-long
    history, after one untimed warm-up upsert."""
    path = os.path.join(root, f"gold_{days}d")
    shutil.rmtree(path, ignore_errors=True)
    history = gold_rows(spark, 0, days * WINDOWS_PER_DAY, 0.0)
    history.repartition("date").write.partitionBy("date").parquet(path)
    last = days * WINDOWS_PER_DAY - 1
    times = []
    for run in range(RUNS + 1):
        batch = gold_rows(spark, last, 1, 0.5 * (run + 1))
        t0 = time.perf_counter()
        upsert_parquet(batch, path, GOLD_KEYS, partition_col="date")
        if run:
            times.append(round(time.perf_counter() - t0, 3))
    rows = spark.read.parquet(path).count()
    if rows != STATIONS * days * WINDOWS_PER_DAY:
        raise RuntimeError(f"{days}-day table holds {rows} rows after the upserts")
    return times


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--days", type=int, nargs="+", default=[1, 30, 180])
    args = p.parse_args(argv)
    spark = get_spark()
    spark.sparkContext.setLogLevel("ERROR")
    root = tempfile.mkdtemp(prefix="gold_growth_")
    try:
        # JIT and session warm-up, so the first history length measured
        # does not carry it
        measure(spark, root, 1)
        for days in args.days:
            times = measure(spark, root, days)
            print(json.dumps({
                "days": days, "rows": STATIONS * days * WINDOWS_PER_DAY,
                "upsert_s": times, "median_s": statistics.median(times),
            }), flush=True)
    finally:
        shutil.rmtree(root, ignore_errors=True)
        spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())

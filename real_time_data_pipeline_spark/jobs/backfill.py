"""Batch backfill job: the spark-submit launch surface (reference O2).

The reference launches `src/jobs/spark_batch_backfill.py` via Airflow's
SparkSubmitOperator with `--date {{ ds }}` and path/connection args
(`dags/gbfs_pipeline_dag.py:38-55`). This is the engine's equivalent:

    spark-submit [--master ...] -m? n/a — use the file path:
    spark-submit path/to/real_time_data_pipeline_spark/jobs/backfill.py \
        --date 2024-05-06 --bronze-path .../bronze \
        --silver-path .../silver --gold-path .../gold

Differences from the reference, by design (SURVEY §2.6 defect fixes):

- the day's partition is staged and swapped in by renames
  (`streaming/sinks.py::replace_partitions`) instead of overwriting
  the whole silver path on every dated run (`spark_batch_backfill.py:54`);
- deterministic dedup + guarded ratio via the shared pipeline stages —
  the same functions the streaming job runs, so backfill and live
  never drift (the reference maintains two divergent copies);
- one silver pass: gold is aggregated from the silver day just
  committed (read back by path), as the reference derives gold from
  silver (`spark_batch_backfill.py:34-74`), and the gold row count is
  observed during the gold write instead of read back; a date with no
  silver rows writes no gold and counts 0;
- gold lands as a date-partitioned parquet table; pass --jdbc-url to
  ALSO mirror the committed gold day to a JDBC gold table like the
  reference's Postgres.

``main(argv)`` builds-or-gets the session, so tests and notebook
callers can run it in-process; under spark-submit the session comes
from the launcher with whatever master/packages were configured.
"""

from __future__ import annotations

import argparse
import datetime as dt
import os
import sys
from collections.abc import Sequence

# spark-submit launches this as a plain FILE, so the package root is
# not importable unless shipped via --py-files; self-locate so
# `spark-submit .../jobs/backfill.py` works from a plain checkout too.
if __package__ in (None, ""):
    sys.path.insert(
        0, os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    )

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(description="Date-scoped bronze→silver→gold backfill")
    p.add_argument("--date", required=True, help="ISO date to backfill (the DAG's {{ ds }})")
    p.add_argument("--bronze-path", required=True)
    p.add_argument("--silver-path", required=True)
    p.add_argument("--gold-path", required=True)
    p.add_argument("--jdbc-url", default=None, help="optional JDBC mirror for gold")
    p.add_argument("--jdbc-table", default="station_availability_15m")
    p.add_argument("--jdbc-user", default=None)
    p.add_argument("--jdbc-password", default=None)
    return p


def backfill_day(bronze: DataFrame, date: str, silver_path: str, gold_path: str) -> int:
    """Replace ``date``'s silver and gold partitions from ``bronze``;
    returns the number of gold rows committed. The one body of the
    spark-submit job and the DAG's backfill task.

    One silver pass: ``bronze`` is normalized, deduplicated and
    filtered to ``date`` once, and that day is committed with
    `replace_partitions`. Gold is then computed from the COMMITTED
    silver day, read back by path (`read_committed`), not from a
    second pass over bronze, and committed the same way; its row
    count is observed during that write, so no job reads gold back.
    If no ``date=`` silver partition is committed (no bronze rows of
    that day, and none from an earlier run), no gold is written and
    the result is 0. ``date`` must be spelled YYYY-MM-DD, as the
    partition directory is; any other spelling raises ValueError.

    One writer per table (`replace_partitions` stages every commit in
    one shared ``__tmp__`` directory beside the table): no other
    backfill or live gold upsert may commit to these tables meanwhile.
    That rule is also what makes the read-back safe: the partition
    read is the one this call just committed. Each day is replaced atomically, the
    table is not."""
    from real_time_data_pipeline_spark.pipelines.station_status import (
        normalize_raw,
        to_gold,
        to_silver,
    )
    from real_time_data_pipeline_spark.streaming.sinks import (
        read_committed,
        replace_partitions,
    )

    if dt.date.fromisoformat(date).isoformat() != date:  # names the partition directory
        raise ValueError(f"backfill date must be YYYY-MM-DD, got {date!r}")
    silver = to_silver(normalize_raw(bronze)).withColumn(
        "date", F.to_date(F.col("event_ts"))
    )
    day = silver.where(F.col("date") == F.lit(date))
    replace_partitions(day, silver_path, ["date"])

    committed = read_committed(bronze.sparkSession, silver_path, day.schema, "date", [date])
    if committed is None:
        return 0
    gold = to_gold(committed).withColumn("date", F.to_date(F.col("window_start")))
    written = Observation()
    replace_partitions(gold.observe(written, F.count(F.lit(1)).alias("n")), gold_path, ["date"])
    return written.get["n"]


def run(
    spark: SparkSession,
    date: str,
    bronze_path: str,
    silver_path: str,
    gold_path: str,
    jdbc_url: str | None = None,
    jdbc_table: str = "station_availability_15m",
    jdbc_user: str | None = None,
    jdbc_password: str | None = None,
) -> int:
    """Execute the backfill; returns the number of gold rows written.
    The JDBC mirror ships the committed gold day, read by path."""
    from real_time_data_pipeline_spark.sources.sinks import jdbc_writer
    from real_time_data_pipeline_spark.streaming.sinks import read_committed

    n = backfill_day(spark.read.parquet(bronze_path), date, silver_path, gold_path)
    if jdbc_url is not None and n:
        gold = read_committed(spark, gold_path, None, "date", [date]).drop("date")
        jdbc_writer(gold, jdbc_url, jdbc_table, jdbc_user or "", jdbc_password or "").save()
    return n


def main(argv: Sequence[str] | None = None) -> int:
    args = build_parser().parse_args(argv)
    spark = SparkSession.builder.appName("rtdp-backfill").getOrCreate()
    n = run(
        spark,
        date=args.date,
        bronze_path=args.bronze_path,
        silver_path=args.silver_path,
        gold_path=args.gold_path,
        jdbc_url=args.jdbc_url,
        jdbc_table=args.jdbc_table,
        jdbc_user=args.jdbc_user,
        jdbc_password=args.jdbc_password,
    )
    print(f"backfill {args.date}: {n} gold rows")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())

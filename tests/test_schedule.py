"""Orchestration-shim tests (reference O1/O3/O5 semantics).

The reference's Airflow DAG (`dags/gbfs_pipeline_dag.py`) is an hourly
backfill with retries=2, fanning out to a Soda gold scan
(trigger_rule=all_done) and bronze housekeeping. These tests run the
engine's equivalent graph once over fixture data and assert the
dependency, retry, and trigger-rule semantics the DAG encodes.
"""

import pytest

from real_time_data_pipeline_spark.pipelines.schedule import (
    FAILED,
    SUCCESS,
    UPSTREAM_FAILED,
    DagRun,
    TaskSpec,
    hourly_station_dag,
    run_dag,
)
from real_time_data_pipeline_spark.schemas import STATION_STATUS_RAW_SCHEMA


def test_run_dag_retries_then_succeeds():
    calls = {"n": 0}

    def flaky():
        calls["n"] += 1
        if calls["n"] < 3:
            raise RuntimeError("transient")
        return "ok"

    slept = []
    run = run_dag(
        [TaskSpec("t", flaky, retries=2, retry_delay_s=300.0)],
        sleep=slept.append,
    )
    assert run.results["t"].state == SUCCESS
    assert run.results["t"].attempts == 3
    assert slept == [300.0, 300.0]  # reference retry_delay: 5 min


def test_run_dag_trigger_rules():
    """all_success downstreams skip after a failure; all_done runs."""

    def boom():
        raise RuntimeError("hard failure")

    order = []
    run = run_dag(
        [
            TaskSpec("batch", boom, retries=1, retry_delay_s=0.0),
            TaskSpec("soda", lambda: order.append("soda"), retries=0,
                     trigger_rule="all_done"),
            TaskSpec("retention", lambda: order.append("retention"), retries=0),
        ],
        deps={"soda": ["batch"], "retention": ["batch"]},
        sleep=lambda s: None,
    )
    assert run.results["batch"].state == FAILED
    assert run.results["batch"].attempts == 2
    assert run.results["soda"].state == SUCCESS  # all_done ran anyway
    assert run.results["retention"].state == UPSTREAM_FAILED
    assert order == ["soda"]
    assert not run.ok


def test_run_dag_rejects_cycles_and_unknown_deps():
    t = [TaskSpec("a", lambda: 1, retries=0), TaskSpec("b", lambda: 1, retries=0)]
    with pytest.raises(ValueError, match="cycle"):
        run_dag(t, deps={"a": ["b"], "b": ["a"]})
    with pytest.raises(ValueError, match="unknown"):
        run_dag(t, deps={"a": ["ghost"]})


def test_hourly_station_dag_end_to_end(spark, tmp_path):
    """Backfill → (DQ scan, retention) over fixture rows: gold rows
    land date-partitioned, checks pass, old partitions drop."""
    rows = [
        ("a", "3", None, "9", "1", "1", "1", "1715012345"),   # 2024-05-06
        ("a", "6", None, "6", "1", "1", "1", "1715013245"),
        ("b", "2", None, "8", "1", "1", "1", "1715012400"),
    ]
    raw = spark.createDataFrame(rows, STATION_STATUS_RAW_SCHEMA)
    silver_path = str(tmp_path / "silver")
    gold_path = str(tmp_path / "gold")

    # Pre-seed an ancient silver partition that retention must remove.
    import os

    stale = os.path.join(silver_path, "date=2024-01-01")
    os.makedirs(stale)
    open(os.path.join(stale, "part-0.parquet"), "wb").close()

    tasks, deps = hourly_station_dag(
        spark, raw, silver_path, gold_path, ds="2024-05-06", keep_days=7,
        retry_delay_s=0.0,
    )
    run = run_dag(tasks, deps, sleep=lambda s: None)
    assert run.ok, {n: (r.state, r.error) for n, r in run.results.items()}

    assert run.results["daily_batch_backfill"].value > 0
    checks = {r.check_name: r.passed for r in run.results["soda_scan_gold"].value}
    assert checks == {
        "row_count": True,
        "missing_count_station_id": True,
        "avg_avg_pct_bikes_available": True,
    }
    assert run.results["housekeeping_bronze"].value == ["2024-01-01"]

    gold = spark.read.parquet(gold_path)
    assert gold.count() == run.results["daily_batch_backfill"].value
    assert "date" in gold.columns  # partition column for pruning


def test_quality_null_metric_fails_closed(spark):
    """avg over an empty table yields a NULL metric — the check must
    report passed=False, not NULL (ADVICE: gates filter passed == False)."""
    from real_time_data_pipeline_spark.operators import quality

    empty = spark.createDataFrame([], "x double")
    rows = quality.run_checks(
        empty, [quality.row_count(), quality.avg_between("x", 0.0, 1.0)]
    ).collect()
    got = {r.check_name: r.passed for r in rows}
    assert got == {"row_count": False, "avg_x": False}
    assert all(r.passed is not None for r in rows)


def test_dagrun_ok_property():
    assert DagRun({"a": type("R", (), {"state": SUCCESS})()}).ok


def test_backfill_job_cli(spark, tmp_path):
    """The spark-submit entry (reference O2): argv in, date-scoped
    partitioned silver+gold out."""
    from real_time_data_pipeline_spark.jobs.backfill import main
    from real_time_data_pipeline_spark.schemas import STATION_STATUS_RAW_SCHEMA

    rows = [
        ("a", "3", None, "9", "1", "1", "1", "1715012345"),   # 2024-05-06
        ("b", "2", None, "8", "1", "1", "1", "1715012400"),
        ("c", "1", None, "4", "1", "1", "1", "1714900000"),   # 2024-05-05 (out of scope)
    ]
    bronze = str(tmp_path / "bronze")
    spark.createDataFrame(rows, STATION_STATUS_RAW_SCHEMA).write.parquet(bronze)
    silver, gold = str(tmp_path / "silver"), str(tmp_path / "gold")
    rc = main([
        "--date", "2024-05-06", "--bronze-path", bronze,
        "--silver-path", silver, "--gold-path", gold,
    ])
    assert rc == 0
    s = spark.read.parquet(silver)
    assert {r.station_id for r in s.collect()} == {"a", "b"}  # date-scoped
    g = spark.read.parquet(gold)
    assert {r.station_id for r in g.collect()} == {"a", "b"}
    assert "date" in g.columns  # partitioned layout for pruning


def test_backfill_job_spark_submit(spark, tmp_path):
    """The O2 launch surface for real: the job file runs under actual
    spark-submit (separate JVM, plain-file launch, self-located
    package) and writes the date-partitioned gold table."""
    import shutil
    import subprocess

    spark_submit = shutil.which("spark-submit")
    if spark_submit is None:
        pytest.skip("spark-submit not on PATH")
    rows = [
        ("a", "3", None, "9", "1", "1", "1", "1715012345"),
        ("b", "2", None, "8", "1", "1", "1", "1715012400"),
    ]
    bronze = str(tmp_path / "bronze")
    spark.createDataFrame(rows, STATION_STATUS_RAW_SCHEMA).write.parquet(bronze)
    job = "/root/repo/real_time_data_pipeline_spark/jobs/backfill.py"
    out = subprocess.run(
        [
            spark_submit, "--master", "local[2]",
            "--conf", "spark.ui.enabled=false", job,
            "--date", "2024-05-06", "--bronze-path", bronze,
            "--silver-path", str(tmp_path / "silver"),
            "--gold-path", str(tmp_path / "gold"),
        ],
        capture_output=True, text=True, timeout=240,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    assert "backfill 2024-05-06: 2 gold rows" in out.stdout
    gold = spark.read.parquet(str(tmp_path / "gold"))
    assert {r.station_id for r in gold.collect()} == {"a", "b"}


def test_maintenance_dag_expires_tombstones_then_compacts(spark, tmp_path):
    """The new maintenance ops as scheduled tasks: a CDC snapshot with
    stale tombstones and micro-batch file litter is cleaned by an
    expire → compact DAG; both effects land and the run reports
    success."""
    import datetime
    import os

    from real_time_data_pipeline_spark.operators.layout import compact_parquet
    from real_time_data_pipeline_spark.pipelines.schedule import TaskSpec, run_dag
    from real_time_data_pipeline_spark.streaming.sinks import (
        cdc_upsert_parquet,
        current_snapshot,
        expire_tombstones,
    )

    path = str(tmp_path / "snap")
    t0 = datetime.datetime(2024, 1, 1)
    kw = dict(keys=["user_id"], order_cols=["ts", "event_id"],
              tombstone_col="is_delete")
    # many single-row batches -> one file each + old tombstones
    for i in range(6):
        cdc_upsert_parquet(
            spark.createDataFrame(
                [(i, t0 + datetime.timedelta(seconds=i), i, float(i), i % 2 == 0)],
                "user_id bigint, ts timestamp, event_id bigint, value double, is_delete boolean",
            ),
            path, **kw,
        )

    run = run_dag(
        [
            TaskSpec(
                name="expire_tombstones",
                fn=lambda: expire_tombstones(
                    spark, path, "is_delete", "ts",
                    t0 + datetime.timedelta(seconds=60),
                ),
                retry_delay_s=0.0,
            ),
            TaskSpec(
                name="compact",
                fn=lambda: compact_parquet(spark, path, target_file_bytes=1 << 30),
                retry_delay_s=0.0,
            ),
        ],
        deps={"compact": ["expire_tombstones"]},
        sleep=lambda s: None,
    )
    assert run.ok
    stored = spark.read.parquet(path)
    assert stored.where("is_delete").count() == 0          # expired
    n_files = sum(f.endswith(".parquet") for f in os.listdir(path))
    assert n_files == 1                                     # compacted
    got = {r.user_id for r in current_snapshot(spark, path, "is_delete").collect()}
    assert got == {1, 3, 5}                                 # live keys intact


def _rounded(df) -> list:
    """Sorted rows with floats at 9 significant digits, so a parity
    check does not depend on the summation order of an average."""
    def cell(v):
        return float(f"{v:.9g}") if isinstance(v, float) else v

    return sorted(tuple(cell(v) for v in r) for r in df.collect())


def test_backfill_day_matches_in_memory_reference(spark, tmp_path):
    """One silver pass, gold from the committed silver day: over a
    two-day bronze with duplicate (station_id, last_reported) rows,
    each day's committed silver and gold partitions equal the
    in-memory pipeline filtered to that day, and the returned count is
    the committed gold partition's row count."""
    from pyspark.sql import functions as F

    from real_time_data_pipeline_spark.jobs.backfill import backfill_day
    from real_time_data_pipeline_spark.pipelines.station_status import (
        normalize_raw,
        to_gold,
        to_silver,
    )

    raw = spark.createDataFrame(
        [
            ("a", "3", None, "9", "1", "1", "1", "1715012345"),  # 2024-05-06
            ("a", "4", None, "8", "1", "1", "1", "1715012345"),  # same key, other counts
            ("a", "3", None, "9", "1", "1", "1", "1715012345"),  # exact duplicate
            ("a", "6", None, "6", "1", "1", "1", "1715013245"),  # next window
            ("b", "2", None, "8", "1", "1", "1", "1715012400"),
            ("c", "1", None, "4", "1", "1", "1", "1714900000"),  # 2024-05-05
            ("c", "1", None, "4", "1", "1", "1", "1714900000"),
            ("b", "5", None, "5", "1", "1", "1", "1714900100"),
        ],
        STATION_STATUS_RAW_SCHEMA,
    )
    silver_path, gold_path = str(tmp_path / "silver"), str(tmp_path / "gold")
    ref_silver = to_silver(normalize_raw(raw)).withColumn("date", F.to_date("event_ts"))
    ref_gold = to_gold(to_silver(normalize_raw(raw))).withColumn(
        "date", F.to_date("window_start")
    )
    for day, want_gold in (("2024-05-06", 3), ("2024-05-05", 2)):
        n = backfill_day(raw, day, silver_path, gold_path)
        on_day = F.col("date") == F.lit(day)
        silver = spark.read.parquet(silver_path).where(on_day)
        gold = spark.read.parquet(gold_path).where(on_day)
        assert _rounded(silver.select(*ref_silver.columns)) == _rounded(
            ref_silver.where(on_day)
        )
        assert _rounded(gold.select(*ref_gold.columns)) == _rounded(ref_gold.where(on_day))
        assert n == gold.count() == want_gold


def test_backfill_of_a_day_without_bronze_rows_returns_zero(spark, tmp_path):
    """A date with no bronze rows and no gold table yet: the job
    commits no silver day, writes no gold and reports 0 rows (it used
    to fail reading the absent gold table back). A date spelled other
    than the partition directory is rejected by name."""
    import os

    from real_time_data_pipeline_spark.jobs.backfill import run

    bronze = str(tmp_path / "bronze")
    spark.createDataFrame(
        [("a", "3", None, "9", "1", "1", "1", "1715012345")],  # 2024-05-06 only
        STATION_STATUS_RAW_SCHEMA,
    ).write.parquet(bronze)
    silver, gold = str(tmp_path / "silver"), str(tmp_path / "gold")
    assert run(spark, "2024-05-07", bronze, silver, gold) == 0
    assert not os.path.exists(gold)
    for spelling in ("2024-5-6", "20240506"):
        with pytest.raises(ValueError, match=spelling):
            run(spark, spelling, bronze, silver, gold)


def test_backfill_jdbc_mirror_ships_the_committed_gold_day(spark, tmp_path, monkeypatch):
    """The JDBC mirror, without a database: the frame handed to
    `jdbc_writer` holds exactly the committed gold ``date=`` partition
    minus its ``date`` column, not a recomputation."""
    from real_time_data_pipeline_spark.jobs.backfill import run
    from real_time_data_pipeline_spark.sources import sinks

    shipped = []

    class _Writer:
        def save(self):
            pass

    def fake_jdbc_writer(df, url, table, user, password):
        shipped.append(df)
        return _Writer()

    monkeypatch.setattr(sinks, "jdbc_writer", fake_jdbc_writer)
    bronze = str(tmp_path / "bronze")
    spark.createDataFrame(
        [
            ("a", "3", None, "9", "1", "1", "1", "1715012345"),  # 2024-05-06
            ("b", "2", None, "8", "1", "1", "1", "1715012400"),
            ("c", "1", None, "4", "1", "1", "1", "1714900000"),  # 2024-05-05
        ],
        STATION_STATUS_RAW_SCHEMA,
    ).write.parquet(bronze)
    gold = str(tmp_path / "gold")
    n = run(
        spark, "2024-05-06", bronze, str(tmp_path / "silver"), gold,
        jdbc_url="jdbc:postgresql://db/x", jdbc_table="t",
    )
    (mirror,) = shipped
    committed = spark.read.parquet(gold).where("date = '2024-05-06'").drop("date")
    assert mirror.columns == committed.columns
    assert _rounded(mirror) == _rounded(committed)
    assert n == committed.count() == 2

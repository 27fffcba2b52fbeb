"""Scheduled-orchestration shim (reference O1/O3/O5 rebuilt).

The reference schedules its pipeline with an hourly Airflow DAG
(`dags/gbfs_pipeline_dag.py:29-36`): a Spark backfill task with
retries=2 / 5-min retry delay / 30-min SLA, fanning out to a Soda gold
scan (`:57-62`, trigger_rule=all_done — runs even when the backfill
failed, so quality visibility survives bad days) and bronze
housekeeping (`:64-67`), with the `daily_batch >> [soda, housekeeping]`
dependency (`:69`).

This module gives the engine the same orchestration semantics without
importing a scheduler: `TaskSpec`/`run_dag` is a deterministic,
dependency-ordered runner with per-task retries, retry delay, SLA
accounting, and Airflow-style trigger rules. An actual Airflow/cron
deployment wraps each TaskSpec.fn in its own operator and keeps the
same graph — the functions here ARE the DAG's business logic, so the
engine stays scheduler-agnostic (the driver process owns wall-clock
scheduling, exactly like the reference's Airflow container does).

`hourly_station_dag` wires the reference's three tasks from engine
operators: date-scoped backfill (a staged per-partition swap of the
day — fixes the reference's whole-path overwrite), DQ checks as a
DataFrame, and partition retention.
"""

from __future__ import annotations

import time
from collections.abc import Callable, Mapping, Sequence
from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import DataFrame, SparkSession

# Terminal task states.
SUCCESS = "success"
FAILED = "failed"
UPSTREAM_FAILED = "upstream_failed"


@dataclass(frozen=True)
class TaskSpec:
    """One schedulable unit (an Airflow task equivalent).

    ``trigger_rule``: "all_success" (default — skip if any upstream
    failed) or "all_done" (run once upstreams finished in ANY state;
    the reference's soda scan uses this).
    """

    name: str
    fn: Callable[[], Any]
    retries: int = 2                 # reference default_args: retries=2
    retry_delay_s: float = 300.0     # reference: 5 minutes
    sla_s: float | None = 1800.0     # reference: 30 minutes
    trigger_rule: str = "all_success"


@dataclass
class TaskResult:
    name: str
    state: str
    attempts: int = 0
    value: Any = None
    error: str | None = None
    duration_s: float = 0.0
    sla_missed: bool = False


@dataclass
class DagRun:
    """Outcome of one `run_dag` invocation."""

    results: dict[str, TaskResult] = field(default_factory=dict)

    @property
    def ok(self) -> bool:
        return all(r.state == SUCCESS for r in self.results.values())


def _toposort(deps: Mapping[str, Sequence[str]], names: Sequence[str]) -> list[str]:
    order: list[str] = []
    seen: dict[str, int] = {}  # 0=visiting, 1=done

    def visit(n: str) -> None:
        if seen.get(n) == 1:
            return
        if seen.get(n) == 0:
            raise ValueError(f"dependency cycle at task '{n}'")
        seen[n] = 0
        for up in deps.get(n, ()):  # upstreams first
            visit(up)
        seen[n] = 1
        order.append(n)

    for n in names:
        visit(n)
    return order


def run_dag(
    tasks: Sequence[TaskSpec],
    deps: Mapping[str, Sequence[str]] | None = None,
    sleep: Callable[[float], None] = time.sleep,
) -> DagRun:
    """Execute a task graph once, dependency-ordered, with retries.

    ``deps`` maps task name → upstream task names (the Airflow
    ``upstream >> downstream`` edges, reference `:69`). ``sleep`` is
    injectable so tests run retry delays instantly.
    """
    deps = dict(deps or {})
    by_name = {t.name: t for t in tasks}
    unknown = (set(deps) - set(by_name)) | {
        u for ups in deps.values() for u in ups if u not in by_name
    }
    if unknown:
        raise ValueError(f"deps reference unknown tasks: {sorted(unknown)}")
    run = DagRun()
    for name in _toposort(deps, list(by_name)):
        spec = by_name[name]
        ups = [run.results[u] for u in deps.get(name, ())]
        if spec.trigger_rule == "all_success" and any(u.state != SUCCESS for u in ups):
            run.results[name] = TaskResult(name=name, state=UPSTREAM_FAILED)
            continue
        # "all_done": upstreams all have terminal states by construction
        # (sequential topological execution), so just run.
        res = TaskResult(name=name, state=FAILED)
        # duration_s sums ACTIVE attempt time only — retry-delay sleeps
        # are excluded, so the SLA judges the work, not the backoff
        # policy (Airflow's per-attempt SLA semantics).
        for attempt in range(1 + max(spec.retries, 0)):
            if attempt:
                sleep(spec.retry_delay_s)
            res.attempts = attempt + 1
            start = time.monotonic()
            try:
                res.value = spec.fn()
                res.duration_s += time.monotonic() - start
                res.state = SUCCESS
                res.error = None
                break
            except Exception as e:  # noqa: BLE001 — task isolation is the point
                res.duration_s += time.monotonic() - start
                res.error = f"{type(e).__name__}: {e}"
        res.sla_missed = spec.sla_s is not None and res.duration_s > spec.sla_s
        run.results[name] = res
    return run


def hourly_station_dag(
    spark: SparkSession,
    raw: DataFrame,
    silver_path: str,
    gold_path: str,
    ds: str,
    keep_days: int = 7,
    retries: int = 2,
    retry_delay_s: float = 0.0,
) -> tuple[list[TaskSpec], dict[str, list[str]]]:
    """The reference DAG, expressed over engine operators.

    Tasks mirror `dags/gbfs_pipeline_dag.py`:

    - ``daily_batch_backfill``: normalize → silver → gold for date
      ``ds`` ONLY (`jobs.backfill.backfill_day`: re-runs swap in
      exactly that day — the reference overwrote the whole path,
      SURVEY §2.2 K6; no other writer may commit ``ds`` meanwhile).
      Silver is computed once and gold from the committed silver day;
      the task returns the gold row count the write observed (0 when
      ``ds`` has no silver rows).
    - ``soda_scan_gold`` (trigger_rule=all_done): engine-native DQ
      checks over the gold table; returns the checks DataFrame
      collected to rows. Raises if any check failed, so the DAG run
      reports the quality gate.
    - ``housekeeping_bronze``: drop silver partitions older than
      ``keep_days`` relative to ``ds``.

    Returns (tasks, deps) for `run_dag`, so callers can extend the
    graph before running.
    """
    from real_time_data_pipeline_spark.jobs.backfill import backfill_day
    from real_time_data_pipeline_spark.pipelines.station_status import gold_checks
    from real_time_data_pipeline_spark.sources.sinks import drop_partitions_older_than
    from real_time_data_pipeline_spark.streaming.sinks import read_committed

    def backfill() -> int:
        return backfill_day(raw, ds, silver_path, gold_path)

    def soda_scan() -> list:
        gold = read_committed(spark, gold_path, None, "date", [ds])
        if gold is None:
            raise AssertionError(f"gold DQ checks failed: no committed gold day {ds}")
        rows = gold_checks(gold).collect()
        failures = [r.check_name for r in rows if not r.passed]
        if failures:
            raise AssertionError(f"gold DQ checks failed: {failures}")
        return rows

    def housekeeping() -> list[str]:
        return drop_partitions_older_than(spark, silver_path, "date", keep_days, ds)

    tasks = [
        TaskSpec("daily_batch_backfill", backfill, retries, retry_delay_s),
        TaskSpec(
            "soda_scan_gold", soda_scan, retries, retry_delay_s,
            trigger_rule="all_done",
        ),
        TaskSpec("housekeeping_bronze", housekeeping, retries, retry_delay_s),
    ]
    deps = {
        "soda_scan_gold": ["daily_batch_backfill"],
        "housekeeping_bronze": ["daily_batch_backfill"],
    }
    return tasks, deps

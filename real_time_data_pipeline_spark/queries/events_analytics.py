"""Event-sequence analytics over the `events` stream table.

The batch twins of classic streaming analyses — ordered funnels,
inactivity-gap sessionization, transition matrices, and the full
window-frame vocabulary. Each runs identically on a stream (the
sessionization is `session_windowed_agg`'s gap logic; funnels become
`applyInPandasWithState` per-key sequence state), so these queries
double as the oracle-checkable parity surface for those streaming
operators.

Determinism: event timestamps are exact microseconds (see
`sources/tables.py::load_table`), every window ORDER BY carries the
unique `event_id`/`o_orderkey` tie-break, and float outputs round 6dp.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from real_time_data_pipeline_spark.queries.registry import query
from real_time_data_pipeline_spark.sources.tables import load_table


@query(
    "funnel_conversion",
    oracle="""
    WITH v AS (
      SELECT user_id, min(ts) AS t1 FROM events WHERE event_type = 'view' GROUP BY 1
    ), c AS (
      SELECT e.user_id, min(e.ts) AS t2
      FROM events e JOIN v ON e.user_id = v.user_id
      WHERE e.event_type = 'click' AND e.ts > v.t1 GROUP BY 1
    ), p AS (
      SELECT e.user_id, min(e.ts) AS t3
      FROM events e JOIN c ON e.user_id = c.user_id
      WHERE e.event_type = 'purchase' AND e.ts > c.t2 GROUP BY 1
    )
    SELECT (SELECT count(*) FROM v) AS n_viewed,
           (SELECT count(*) FROM c) AS n_clicked_after_view,
           (SELECT count(*) FROM p) AS n_purchased_after_click
    """,
)
def q_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel view → click → purchase: users advance a stage
    only with a LATER event than the previous stage's first hit.

    Plan at scale: three filtered aggregates on user_id — the filters
    push to the scan, each stage joins only the survivors of the
    previous one (monotonically shrinking), and all three share the
    user_id hash partitioning so AQE reuses the exchange. The
    single-row summary is a broadcast-combined count, no collect.
    """
    ev = load_table(spark, sf_dir, "events")
    v = (
        ev.where(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
    )
    c = (
        ev.where(F.col("event_type") == "click")
        .join(v, "user_id")
        .where(F.col("ts") > F.col("t1"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t2"))
    )
    p = (
        ev.where(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .where(F.col("ts") > F.col("t2"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t3"))
    )
    return (
        v.agg(F.count(F.lit(1)).alias("n_viewed"))
        .crossJoin(F.broadcast(c.agg(F.count(F.lit(1)).alias("n_clicked_after_view"))))
        .crossJoin(F.broadcast(p.agg(F.count(F.lit(1)).alias("n_purchased_after_click"))))
    )


@query(
    "event_sessionization_stats",
    oracle="""
    WITH ordered AS (
      SELECT user_id, ts, event_id,
             lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
      FROM events
    ), flagged AS (
      SELECT user_id, ts, event_id,
             CASE WHEN prev_ts IS NULL
                       OR epoch_us(ts) - epoch_us(prev_ts) > 1800000000
                  THEN 1 ELSE 0 END AS new_session
      FROM ordered
    ), sessions AS (
      SELECT user_id, event_id,
             sum(new_session) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS session_id
      FROM flagged
    ), per_session AS (
      SELECT user_id, session_id, count(*) AS n_events
      FROM sessions GROUP BY 1, 2
    )
    SELECT user_id,
           count(*) AS n_sessions,
           CAST(max(n_events) AS BIGINT) AS max_session_events,
           round(avg(n_events), 6) AS avg_session_events
    FROM per_session GROUP BY user_id
    """,
)
def q_sessionization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inactivity-gap sessionization (30 min) via lag + running sum of
    session-start flags — the batch twin of session windows, with
    per-user session-count/size stats.

    Plan at scale: ONE shuffle on user_id serves both window passes
    and the aggregates (same partitioning throughout). The running
    sum is a frame-bounded window — no self-join blowup. Streaming
    twin: `session_windowed_agg` (gap-merged state) gives the same
    sessions incrementally.
    """
    ev = load_table(spark, sf_dir, "events").select("user_id", "ts", "event_id")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap_us = 1800 * 1_000_000
    flagged = ev.withColumn(
        "new_session",
        F.when(
            F.lag("ts").over(w).isNull()
            | (
                F.unix_micros("ts") - F.unix_micros(F.lag("ts").over(w))
                > gap_us
            ),
            1,
        ).otherwise(0),
    )
    sessions = flagged.withColumn(
        "session_id",
        F.sum("new_session").over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)),
    )
    per_session = sessions.groupBy("user_id", "session_id").agg(
        F.count(F.lit(1)).alias("n_events")
    )
    return per_session.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_sessions"),
        F.max("n_events").cast("long").alias("max_session_events"),
        F.round(F.avg("n_events"), 6).alias("avg_session_events"),
    )


@query(
    "event_type_transitions",
    oracle="""
    SELECT from_type, to_type, count(*) AS n FROM (
      SELECT event_type AS from_type,
             lead(event_type) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
             ) AS to_type
      FROM events
    ) WHERE to_type IS NOT NULL
    GROUP BY 1, 2
    """,
)
def q_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user event-type transition matrix (lead over event time) —
    the Markov-chain input for behavior modeling. One shuffle on
    user_id for the window, then a tiny 25-key aggregate."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        ev.select(
            F.col("event_type").alias("from_type"),
            F.lead("event_type").over(w).alias("to_type"),
        )
        .where(F.col("to_type").isNotNull())
        .groupBy("from_type", "to_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@query(
    "window_frame_specs",
    oracle="""
    SELECT o_orderkey, o_custkey,
           CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) OVER (
             PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS BIGINT) / 100.0 AS running_spend,
           round(avg(o_totalprice) OVER (
             PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
             ROWS BETWEEN 2 PRECEDING AND CURRENT ROW
           ), 6) AS moving_avg_3,
           first_value(o_orderkey) OVER (
             PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
           ) AS first_order,
           ntile(4) OVER (
             PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
           ) AS quartile,
           round(percent_rank() OVER (
             PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
           ), 6) AS pct_rank,
           round(cume_dist() OVER (
             PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
           ), 6) AS cume
    FROM orders WHERE o_custkey < 500
    """,
)
def q_window_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full window-frame vocabulary in one query: running frame,
    bounded moving frame, first_value, ntile, percent_rank, cume_dist.

    Plan at scale: a single shuffle on o_custkey feeds every function
    (identical partitioning + ordering → one Window node); the
    running sum accumulates exact cents. The o_custkey filter pushes
    to the scan.
    """
    orders = load_table(spark, sf_dir, "orders").where(F.col("o_custkey") < 500)
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    from real_time_data_pipeline_spark.queries.relational import cents

    running = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    moving = w.rowsBetween(-2, Window.currentRow)
    return orders.select(
        "o_orderkey",
        "o_custkey",
        (F.sum(cents("o_totalprice")).over(running) / 100.0).alias("running_spend"),
        F.round(F.avg("o_totalprice").over(moving), 6).alias("moving_avg_3"),
        F.first("o_orderkey").over(w).alias("first_order"),
        F.ntile(4).over(w).alias("quartile"),
        F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
        F.round(F.cume_dist().over(w), 6).alias("cume"),
    )


@query(
    "json_map_extraction",
    oracle="""
    WITH built AS (
      SELECT CAST(json_extract(props, '$.k') AS INTEGER) AS k FROM events
    ), j AS (
      SELECT '{"a": ' || k || ', "b": ' || (k * 2) || ', "m": ' || (k % 5) || '}' AS doc
      FROM built
    ), kv AS (
      SELECT 'a' AS key, CAST(json_extract(doc, '$.a') AS BIGINT) AS val FROM j
      UNION ALL
      SELECT 'b', CAST(json_extract(doc, '$.b') AS BIGINT) FROM j
      UNION ALL
      SELECT 'm', CAST(json_extract(doc, '$.m') AS BIGINT) FROM j
    )
    SELECT key, count(*) AS n, CAST(sum(val) AS BIGINT) AS total,
           round(avg(val), 6) AS mean
    FROM kv GROUP BY key
    """,
)
def q_json_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map-type coverage (absent from the reference — SURVEY §1.3
    notes no maps anywhere): JSON → `map<string,int>` → explode →
    per-key aggregate.

    The map column stays JVM-side (`from_json` map decode + explode
    are codegen); the per-key aggregate sees 3 keys regardless of
    corpus size. Dynamic-schema JSON (unknown keys) is exactly where
    map beats struct: no schema evolution needed to aggregate new keys.
    """
    ev = load_table(spark, sf_dir, "events").repartition(
        spark.sparkContext.defaultParallelism
    )  # one input file otherwise serializes the parse+explode stage
    k = F.get_json_object("props", "$.k").cast("int")
    doc = F.concat(
        F.lit('{"a": '), k.cast("string"),
        F.lit(', "b": '), (k * 2).cast("string"),
        F.lit(', "m": '), (k % 5).cast("string"),
        F.lit("}"),
    )
    kv = (
        ev.select(F.from_json(doc, "map<string,int>").alias("m"))
        .select(F.explode("m").alias("key", "val"))
    )
    return kv.groupBy("key").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("val").cast("long").alias("total"),
        F.round(F.avg("val"), 6).alias("mean"),
    )


@query(
    "json_corrupt_tolerance",
    oracle="""
    WITH j AS (
      SELECT CASE WHEN event_id % 7 = 0
                  THEN '{"v": ' || (event_id % 100)
                  ELSE '{"v": ' || (event_id % 100) || '}' END AS doc
      FROM events
    ), parsed AS (
      SELECT CASE WHEN json_valid(doc)
                  THEN CAST(json_extract(doc, '$.v') AS INTEGER) END AS v
      FROM j
    )
    SELECT count(*) AS n_rows,
           count(v) AS n_parsed,
           count(*) - count(v) AS n_corrupt,
           CAST(sum(v) AS BIGINT) AS sum_v
    FROM parsed
    """,
)
def q_json_corrupt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corrupt-record tolerance: a deterministic 1-in-7 slice of the
    JSON column is truncated mid-object; PERMISSIVE `from_json` yields
    NULL for those rows instead of failing the job — the semantics a
    100 TB ingest needs (quarantine + continue, never abort on one bad
    record). Counts and the valid-side aggregate are oracle-checked.
    """
    ev = load_table(spark, sf_dir, "events")
    doc = F.when(
        F.col("event_id") % 7 == 0,
        F.concat(F.lit('{"v": '), (F.col("event_id") % 100).cast("string")),
    ).otherwise(
        F.concat(F.lit('{"v": '), (F.col("event_id") % 100).cast("string"), F.lit("}"))
    )
    parsed = ev.select(F.from_json(doc, "v int").alias("r")).select(F.col("r.v").alias("v"))
    return parsed.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count("v").alias("n_parsed"),
        (F.count(F.lit(1)) - F.count("v")).alias("n_corrupt"),
        F.sum("v").cast("long").alias("sum_v"),
    )


_OUTLIER_ORACLE = """
    WITH s AS (
      SELECT event_type,
             avg(value) AS mu,
             stddev_samp(value) AS sigma
      FROM events GROUP BY 1
    )
    SELECT e.event_id, e.event_type, e.value,
           round((e.value - s.mu) / s.sigma, 4) AS z
    FROM events e JOIN s USING (event_type)
    WHERE s.sigma > 0
      AND abs(round((e.value - s.mu) / s.sigma, 4)) > 2.5
"""


@query("event_outlier_zscore", oracle=_OUTLIER_ORACLE)
def q_outlier_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type z-score outlier flagging — the cheap statistical
    DQ screen that runs before any model-based anomaly detection.

    Scale shape: the per-type stats are a tiny aggregate (cardinality
    = distinct event types) broadcast back onto the events scan, so
    the corpus is read once with no wide shuffle. The z threshold is
    applied to the ROUNDED score on both engines so float summation
    order can never flip a boundary row between them.
    """
    ev = load_table(spark, sf_dir, "events")
    stats = ev.groupBy("event_type").agg(
        F.avg("value").alias("mu"),
        F.stddev_samp("value").alias("sigma"),
    )
    z = F.round((F.col("value") - F.col("mu")) / F.col("sigma"), 4)
    return (
        ev.join(F.broadcast(stats), "event_type")
        .where(F.col("sigma") > 0)
        .where(F.abs(z) > 2.5)
        .select("event_id", "event_type", "value", z.alias("z"))
    )


_RETENTION_ORACLE = """
    WITH f AS (
      SELECT user_id, date_trunc('week', min(ts)) AS cohort_week
      FROM events GROUP BY 1
    ), act AS (
      SELECT DISTINCT e.user_id, f.cohort_week,
             date_diff('day', f.cohort_week, date_trunc('week', e.ts)) // 7
               AS week_offset
      FROM events e JOIN f USING (user_id)
    )
    SELECT strftime(cohort_week, '%Y-%m-%d') AS cohort_week,
           CAST(week_offset AS BIGINT) AS week_offset,
           count(*) AS n_users
    FROM act
    GROUP BY 1, 2
"""


@query("event_retention_cohorts", oracle=_RETENTION_ORACLE)
def q_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly retention-cohort matrix: users grouped by first-seen
    week, counted in every later week they return — the engagement
    triangle every growth dashboard draws.

    Scale shape: one user-keyed aggregate for cohort assignment, a
    user-keyed join back (same partitioning, AQE reuses the exchange),
    a distinct on (user, cohort, offset) that shrinks to
    users × active-weeks, then a tiny final rollup. Week arithmetic is
    pure integer day-diff of Monday-truncated timestamps — identical
    on both engines, no timezone arithmetic in the hot path.
    """
    ev = load_table(spark, sf_dir, "events")
    f = ev.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).alias("cohort_week")
    )
    act = (
        ev.join(f, "user_id")
        .select(
            "user_id",
            "cohort_week",
            (
                F.datediff(F.date_trunc("week", F.col("ts")), F.col("cohort_week"))
                / 7
            )
            .cast("long")
            .alias("week_offset"),
        )
        .distinct()
    )
    return act.groupBy(
        F.date_format("cohort_week", "yyyy-MM-dd").alias("cohort_week"),
        "week_offset",
    ).agg(F.count(F.lit(1)).alias("n_users"))


_MAD_ORACLE = """
    WITH med AS (
      SELECT event_type, quantile_cont(value, 0.5) AS med
      FROM events GROUP BY 1
    ), mad AS (
      SELECT e.event_type,
             quantile_cont(abs(e.value - m.med), 0.5) AS mad
      FROM events e JOIN med m USING (event_type)
      GROUP BY 1
    )
    SELECT e.event_id, e.event_type, e.value,
           round(abs(e.value - m.med) / (1.4826 * d.mad), 4) AS robust_z
    FROM events e
      JOIN med m USING (event_type)
      JOIN mad d USING (event_type)
    WHERE d.mad > 0
      AND round(abs(e.value - m.med) / (1.4826 * d.mad), 4) > 3.5
"""


@query("event_outlier_mad", oracle=_MAD_ORACLE)
def q_outlier_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outliers via median absolute deviation: the screen that
    survives what breaks the z-score — a few extreme values inflate a
    mean/stddev until they mask themselves, while the median/MAD pair
    is immune to 50% contamination.

    Scale shape (r16): both exact medians come from the grouped
    rank-pick (`grouped_percentile_cont` — range shuffle + pid
    windows, mega-group safe) instead of `F.percentile`, whose buffer
    maps every distinct `value` of an event type into one reducer —
    fact-sized cardinality, the §5 hazard this screen must survive at
    100 TB. The event_type-grain median frames stay tiny and
    broadcast back onto the one events scan; `med` is persisted (two
    consumers: the deviation pass and the final score). The threshold
    applies to the ROUNDED score so float noise can't flip a boundary
    row between engines.
    """
    from real_time_data_pipeline_spark.operators.materialize import (
        persist_tracked,
    )
    from real_time_data_pipeline_spark.operators.ranking import (
        grouped_percentile_cont,
    )

    ev = load_table(spark, sf_dir, "events")
    med = persist_tracked(
        grouped_percentile_cont(
            ev.select("event_type", "value", "event_id"),
            ["event_type"],
            "value",
            [0.5],
            ["med"],
            tie_break=[F.asc("event_id")],
        )
    )
    dev = ev.join(F.broadcast(med), "event_type").select(
        "event_type",
        F.abs(F.col("value") - F.col("med")).alias("adev"),
        "event_id",
    )
    mad = grouped_percentile_cont(
        dev, ["event_type"], "adev", [0.5], ["mad"], tie_break=[F.asc("event_id")]
    )
    rz = F.round(F.abs(F.col("value") - F.col("med")) / (1.4826 * F.col("mad")), 4)
    return (
        ev.join(F.broadcast(med), "event_type")
        .join(F.broadcast(mad), "event_type")
        .where(F.col("mad") > 0)
        .where(rz > 3.5)
        .select("event_id", "event_type", "value", rz.alias("robust_z"))
    )


_STICKINESS_ORACLE = """
    WITH daily AS (
      SELECT date_trunc('day', ts) AS d, count(DISTINCT user_id) AS dau
      FROM events GROUP BY 1
    ), monthly AS (
      SELECT date_trunc('month', ts) AS m, count(DISTINCT user_id) AS mau
      FROM events GROUP BY 1
    )
    SELECT strftime(d.d, '%Y-%m-%d') AS day,
           d.dau, mo.mau,
           round(d.dau * 1.0 / mo.mau, 6) AS stickiness
    FROM daily d JOIN monthly mo ON date_trunc('month', d.d) = mo.m
"""


@query("event_dau_mau_stickiness", oracle=_STICKINESS_ORACLE)
def q_dau_mau_stickiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAU/MAU stickiness per day: daily active users over the active
    users of the containing month — the engagement ratio product
    dashboards track, and the distinct-count-at-two-granularities
    pattern (the same user_id shuffle serves both aggregates).

    Scale shape: two distinct aggregates (day- and month-keyed) and a
    broadcast join of the tiny month table back onto the day table —
    no per-event join anywhere.
    """
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(F.date_trunc("day", "ts").alias("d")).agg(
        F.count_distinct("user_id").alias("dau")
    )
    monthly = ev.groupBy(F.date_trunc("month", "ts").alias("m")).agg(
        F.count_distinct("user_id").alias("mau")
    )
    return (
        daily.join(
            F.broadcast(monthly), F.date_trunc("month", F.col("d")) == F.col("m")
        )
        .select(
            F.date_format("d", "yyyy-MM-dd").alias("day"),
            "dau",
            "mau",
            F.round(F.col("dau") / F.col("mau"), 6).alias("stickiness"),
        )
    )


_GAPFILL_ORACLE = """
    WITH bounds AS (
      SELECT date_trunc('day', min(ts)) AS d0, date_trunc('day', max(ts)) AS d1
      FROM events
    ), spine AS (
      SELECT unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS day
      FROM bounds
    ), types AS (
      SELECT DISTINCT event_type FROM events
    ), counts AS (
      SELECT event_type, date_trunc('day', ts) AS day, count(*) AS n
      FROM events GROUP BY 1, 2
    )
    SELECT t.event_type, strftime(s.day, '%Y-%m-%d') AS day,
           CAST(coalesce(c.n, 0) AS BIGINT) AS n_events,
           (c.n IS NULL) AS gap_filled
    FROM spine s CROSS JOIN types t
    LEFT JOIN counts c ON c.event_type = t.event_type AND c.day = s.day
"""


@query("event_time_gapfill", oracle=_GAPFILL_ORACLE)
def q_time_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar gap-fill: daily event counts per type on a DENSE date
    spine — days with no events appear as explicit zeros, flagged.
    Every downstream time-series op (moving averages, anomaly
    baselines, forecasting feeds) silently mis-computes over implicit
    gaps; this is the operator that makes absence visible.

    Scale shape: the spine is generated from a 1-row bounds aggregate
    (sequence + explode — never a driver loop), crossed with the tiny
    distinct-type table, and left-joined to day-keyed counts. All
    three inputs to the final join are calendar-sized, not
    event-sized; the raw events are touched once by the count
    aggregate.
    """
    ev = load_table(spark, sf_dir, "events")
    bounds = ev.agg(
        F.date_trunc("day", F.min("ts")).alias("d0"),
        F.date_trunc("day", F.max("ts")).alias("d1"),
    )
    spine = bounds.select(
        F.explode(F.sequence("d0", "d1", F.expr("INTERVAL 1 DAY"))).alias("day")
    )
    types = ev.select("event_type").distinct()
    counts = ev.groupBy(
        "event_type", F.date_trunc("day", "ts").alias("day")
    ).agg(F.count(F.lit(1)).alias("n"))
    return (
        spine.crossJoin(F.broadcast(types))
        .join(F.broadcast(counts), ["event_type", "day"], "left")
        .select(
            "event_type",
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            F.coalesce("n", F.lit(0)).cast("long").alias("n_events"),
            F.col("n").isNull().alias("gap_filled"),
        )
    )


_SESSION_PATHS_ORACLE = """
    WITH ordered AS (
      SELECT user_id, ts, event_id, event_type,
             lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
      FROM events
    ), flagged AS (
      SELECT user_id, ts, event_id, event_type,
             CASE WHEN prev_ts IS NULL
                       OR epoch_us(ts) - epoch_us(prev_ts) > 1800000000
                  THEN 1 ELSE 0 END AS new_session
      FROM ordered
    ), sessions AS (
      SELECT user_id, event_id, ts, event_type,
             sum(new_session) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS session_id
      FROM flagged
    ), paths AS (
      SELECT user_id, session_id,
             string_agg(event_type, '>' ORDER BY ts, event_id) AS path
      FROM sessions GROUP BY 1, 2
    )
    SELECT path, n_sessions, rk FROM (
      SELECT path, count(*) AS n_sessions,
             row_number() OVER (ORDER BY count(*) DESC, path) AS rk
      FROM paths GROUP BY 1
    ) WHERE rk <= 15
"""


@query("event_session_paths", oracle=_SESSION_PATHS_ORACLE)
def q_session_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top user journeys: the 15 most common event-type paths through
    a 30-minute-gap session — the navigation-flow summary that sits
    on top of sessionization (and the input to funnel hypothesis
    mining: which real paths never reach purchase?).

    Scale shape: the same single user_id shuffle as
    `event_sessionization_stats` drives the lag flag, the running
    session id, and the ordered path assembly (array_agg of
    (ts, event_id, type) structs sorted in-row — deterministic
    without a second sort exchange). Path counting then aggregates
    session-sized rows, and the top-15 is a global heap.
    """
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "event_type"
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap_us = 1800 * 1_000_000
    flagged = ev.withColumn(
        "new_session",
        F.when(
            F.lag("ts").over(w).isNull()
            | (F.unix_micros("ts") - F.unix_micros(F.lag("ts").over(w)) > gap_us),
            1,
        ).otherwise(0),
    )
    sessions = flagged.withColumn(
        "session_id",
        F.sum("new_session").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    paths = (
        sessions.groupBy("user_id", "session_id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("ts", "event_id", "event_type"))
                    ),
                    lambda s: s["event_type"],
                ),
                ">",
            ).alias("path")
        )
    )
    # heap top-15 (TakeOrderedAndProject) over the path space — path
    # cardinality grows with the event log, so no path-wide window —
    # then rank only the 15 survivors
    top_order = [F.desc("n_sessions"), F.asc("path")]
    return (
        paths.groupBy("path")
        .agg(F.count(F.lit(1)).alias("n_sessions"))
        .orderBy(*top_order)
        .limit(15)
        .withColumn("rk", F.row_number().over(Window.orderBy(*top_order)))
        .select("path", "n_sessions", "rk")
    )


_MOVING_MEDIAN_ORACLE = """
    SELECT event_id, event_type, value,
           round(quantile_cont(value, 0.5) OVER (
             PARTITION BY event_type ORDER BY ts, event_id
             ROWS BETWEEN 6 PRECEDING AND CURRENT ROW), 6) AS moving_median_7
    FROM events
"""


@query("window_moving_median", oracle=_MOVING_MEDIAN_ORACLE)
def q_moving_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing 7-event moving median per event type — the robust
    smoothing baseline for anomaly screens (a single spike moves a
    moving AVERAGE for its whole window; the median shrugs it off,
    which is why the MAD outlier screen pairs with this).

    Scale shape: one event_type shuffle, then the median of a BOUNDED
    7-row frame — constant work per row, no per-group
    materialization, and the frame bound is what keeps it viable on
    an unbounded stream (the streaming twin is the same frame over a
    watermarked window). Since r16 the frame median is a
    `sort_array(collect_list)` over the frame plus the closed-form
    type-7 interpolation (the same h = p·(n−1) formula as
    `grouped_percentile_cont`) instead of the `percentile` window
    aggregate: identical values on a ≤7-element frame, and the plan
    carries no distinct-value map buffer at all — the last
    `Percentile` node in the registry's window paths.
    """
    ev = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("event_type")
        .orderBy("ts", "event_id")
        .rowsBetween(-6, Window.currentRow)
    )
    arr = F.sort_array(F.collect_list("value").over(w))
    n = F.size(arr)
    # 0-based type-7 position within the frame's sorted values
    pos = F.lit(0.5) * (n - F.lit(1)).cast("double")
    lo = F.get(arr, F.floor(pos).cast("int"))
    hi = F.get(arr, F.ceil(pos).cast("int"))
    med = F.when(n > 0, lo + (pos - F.floor(pos)) * (hi - lo))
    return ev.select(
        "event_id",
        "event_type",
        "value",
        F.round(med, 6).alias("moving_median_7"),
    )


@query(
    "event_rate_anomaly_cusum",
    oracle="""
    WITH hourly AS (
      SELECT date_trunc('hour', ts) AS hour, count(*) AS n
      FROM events GROUP BY 1
    ), stats AS (
      SELECT avg(n) AS mean_n, stddev_samp(n) AS sd_n FROM hourly
    )
    SELECT hour, n,
           round(sum(n - mean_n) OVER (ORDER BY hour), 6) + 0 AS cum_dev,
           abs(sum(n - mean_n) OVER (ORDER BY hour)) > 2 * sd_n AS flagged
    FROM hourly CROSS JOIN stats
    """,
)
def q_rate_anomaly_cusum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM-style drift detection on the event arrival rate: hourly
    counts, cumulative deviation from the mean rate, flag when the
    cumulative drift exceeds 2σ of the hourly counts — the classic
    change-point screen for feed outages and ingestion storms.

    Scale shape: the raw table collapses to HOUR grain first (one
    map-side-combining aggregate), so the running-sum window runs over
    a calendar-bounded frame — 8,760 rows/year no matter how many
    trillion events — and the mean/σ are a 1-row broadcast."""
    ev = load_table(spark, sf_dir, "events")
    hourly = ev.groupBy(F.date_trunc("hour", "ts").alias("hour")).agg(
        F.count(F.lit(1)).alias("n")
    )
    stats = hourly.agg(
        F.avg("n").alias("mean_n"), F.stddev_samp("n").alias("sd_n")
    )
    w = Window.orderBy("hour").rowsBetween(Window.unboundedPreceding, 0)
    cum = F.sum(F.col("n") - F.col("mean_n")).over(w)
    return (
        hourly.crossJoin(F.broadcast(stats))
        .select(
            "hour",
            "n",
            # + 0.0 canonicalizes IEEE -0.0 (a tiny negative cumulative
            # deviation rounds to negative zero, which formats as "-0")
            (F.round(cum, 6) + F.lit(0.0)).alias("cum_dev"),
            (F.abs(cum) > 2 * F.col("sd_n")).alias("flagged"),
        )
    )


@query(
    "event_attribution_position",
    oracle="""
    WITH ev AS (
      SELECT user_id, ts, event_id, event_type FROM events
      WHERE event_type IN ('view', 'click', 'purchase')
    ), tagged AS (
      SELECT *,
             last_value(CASE WHEN event_type = 'purchase' THEN event_id END
                        IGNORE NULLS) OVER w AS p_eid,
             last_value(CASE WHEN event_type = 'purchase' THEN ts END
                        IGNORE NULLS) OVER w AS p_ts
      FROM ev
      WINDOW w AS (PARTITION BY user_id ORDER BY ts DESC, event_id DESC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    ), touches AS (
      SELECT * FROM tagged
      WHERE event_type <> 'purchase' AND p_eid IS NOT NULL
        AND ts < p_ts AND ts >= p_ts - INTERVAL 7 DAY
    ), pos AS (
      SELECT *,
             row_number() OVER (PARTITION BY user_id, p_eid
                                ORDER BY ts, event_id) AS pos,
             count(*) OVER (PARTITION BY user_id, p_eid) AS n
      FROM touches
    )
    SELECT event_type AS channel,
           count(DISTINCT p_eid) AS attributed_purchases,
           count(*) AS n_touches,
           round(sum(CASE WHEN n = 1 THEN CAST(1.0 AS DOUBLE)
                          WHEN n = 2 THEN CAST(0.5 AS DOUBLE)
                          WHEN pos = 1 THEN CAST(0.4 AS DOUBLE)
                          WHEN pos = n THEN CAST(0.4 AS DOUBLE)
                          ELSE CAST(0.2 AS DOUBLE) / (n - 2) END), 6)
             AS total_credit
    FROM pos GROUP BY 1
    """,
)
def q_attribution_position(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Positional multi-touch attribution: each purchase's credit is
    split over the user's view/click touchpoints in the 7 days before
    it — 40% to the first touch, 40% to the last, the middle 20%
    spread evenly (100% / 50-50 for one- and two-touch paths) — then
    rolled up per channel. The marketing-attribution workhorse, and
    the general "assign each event to the NEXT anchor event of its
    key" sequence pattern (also: error-to-release triage, session
    stitching to conversions).

    Scale shape: the touch→purchase assignment is a reversed
    running ``last(..., ignorenulls)`` window — NOT a range self-join
    of touches against purchases, whose fan-out is touches×purchases
    per user before the range filter prunes. Every window here is
    partitioned by user (or user+purchase); no global window, no
    join at all until the final channel-grain aggregate. Credit
    weights are exact rationals computed identically on both sides;
    the 6dp round absorbs shuffle-order float summation.
    """
    ev = load_table(spark, sf_dir, "events").where(
        F.col("event_type").isin("view", "click", "purchase")
    ).select("user_id", "ts", "event_id", "event_type")
    w_next = (
        Window.partitionBy("user_id")
        .orderBy(F.desc("ts"), F.desc("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    is_p = F.col("event_type") == "purchase"
    tagged = ev.withColumn(
        "p_eid", F.last(F.when(is_p, F.col("event_id")), ignorenulls=True).over(w_next)
    ).withColumn(
        "p_ts", F.last(F.when(is_p, F.col("ts")), ignorenulls=True).over(w_next)
    )
    touches = tagged.where(
        (~is_p)
        & F.col("p_eid").isNotNull()
        & (F.col("ts") < F.col("p_ts"))
        & (F.col("ts") >= F.col("p_ts") - F.expr("INTERVAL 7 DAY"))
    )
    w_path = Window.partitionBy("user_id", "p_eid")
    pos = touches.withColumn(
        "pos", F.row_number().over(w_path.orderBy("ts", "event_id"))
    ).withColumn("n", F.count(F.lit(1)).over(w_path))
    weight = (
        F.when(F.col("n") == 1, F.lit(1.0))
        .when(F.col("n") == 2, F.lit(0.5))
        .when(F.col("pos") == 1, F.lit(0.4))
        .when(F.col("pos") == F.col("n"), F.lit(0.4))
        .otherwise(F.lit(0.2) / (F.col("n") - 2))
    )
    return (
        pos.groupBy(F.col("event_type").alias("channel"))
        .agg(
            F.count_distinct("p_eid").alias("attributed_purchases"),
            F.count(F.lit(1)).alias("n_touches"),
            F.round(F.sum(weight), 6).alias("total_credit"),
        )
    )


@query(
    "event_growth_accounting",
    oracle="""
    WITH ud AS (
      SELECT DISTINCT user_id, date_trunc('day', ts) AS d FROM events
    ), seq AS (
      SELECT user_id, d,
             lag(d)  OVER (PARTITION BY user_id ORDER BY d) AS pd,
             lead(d) OVER (PARTITION BY user_id ORDER BY d) AS nd,
             min(d)  OVER (PARTITION BY user_id) AS fd
      FROM ud
    ), active AS (
      SELECT d, CASE WHEN d = fd THEN 'new'
                     WHEN pd = d - INTERVAL 1 DAY THEN 'retained'
                     ELSE 'resurrected' END AS state
      FROM seq
    ), churned AS (
      SELECT d + INTERVAL 1 DAY AS d, 'churned' AS state
      FROM seq
      WHERE (nd IS NULL OR nd <> d + INTERVAL 1 DAY)
        AND d + INTERVAL 1 DAY <= (SELECT max(d) FROM ud)
    )
    SELECT strftime(d, '%Y-%m-%d') AS day, state, count(*) AS n_users
    FROM (SELECT * FROM active UNION ALL SELECT * FROM churned)
    GROUP BY 1, 2
    """,
)
def q_growth_accounting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Growth accounting: every active user-day classified as
    new / retained / resurrected, plus the churned count for users
    who went inactive — the DAU decomposition behind every growth
    dashboard ("quick ratio" = (new+resurrected)/churned).

    Scale shape: one distinct to user-day grain, then lag/lead/min
    windows partitioned BY USER (bounded by one user's active days —
    never a global window), a day-grain aggregate at the end. The
    max-day scalar arrives as a 1-row broadcast. Day arithmetic in
    date_add exactly mirrors the oracle's INTERVAL 1 DAY.
    """
    ev = load_table(spark, sf_dir, "events")
    ud = ev.select(
        "user_id", F.date_trunc("day", "ts").alias("d")
    ).distinct()
    w = Window.partitionBy("user_id").orderBy("d")
    seq = (
        ud.withColumn("pd", F.lag("d").over(w))
        .withColumn("nd", F.lead("d").over(w))
        .withColumn("fd", F.min("d").over(Window.partitionBy("user_id")))
    )
    one_day = F.expr("INTERVAL 1 DAY")
    active = seq.select(
        "d",
        F.when(F.col("d") == F.col("fd"), F.lit("new"))
        .when(F.col("pd") == F.col("d") - one_day, F.lit("retained"))
        .otherwise(F.lit("resurrected"))
        .alias("state"),
    )
    maxd = ud.agg(F.max("d").alias("maxd"))
    churned = (
        seq.crossJoin(F.broadcast(maxd))
        .where(
            (F.col("nd").isNull() | (F.col("nd") != F.col("d") + one_day))
            & (F.col("d") + one_day <= F.col("maxd"))
        )
        .select((F.col("d") + one_day).alias("d"), F.lit("churned").alias("state"))
    )
    return (
        active.unionByName(churned)
        .groupBy(F.date_format("d", "yyyy-MM-dd").alias("day"), "state")
        .agg(F.count(F.lit(1)).alias("n_users"))
    )


@query(
    "event_rolling_7d_active_users",
    oracle="""
    WITH ud AS (
      SELECT DISTINCT date_trunc('day', ts) AS d, user_id FROM events
    ), days AS (SELECT DISTINCT d FROM ud)
    SELECT strftime(days.d, '%Y-%m-%d') AS day,
           count(DISTINCT ud.user_id) AS wau
    FROM days JOIN ud
      ON ud.d BETWEEN days.d - INTERVAL 6 DAY AND days.d
    GROUP BY 1
    """,
)
def q_rolling_7d_active_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-7-day active users per day (daily WAU) — the rolling
    distinct-count every engagement dashboard plots, which neither
    Spark nor ANSI window functions can express as COUNT(DISTINCT)
    OVER a frame.

    Scale shape: activity is first collapsed to the (day, user) grain
    (one distinct — the only corpus-sized shuffle); each user-day then
    EXPLODES into exactly the 7 window-anchor days it contributes to
    (``sequence(d, d+6)``), equi-joined against the broadcast
    calendar-sized distinct-days dimension. A broadcast RANGE join
    here would plan as BroadcastNestedLoopJoin — every user-day
    compared against every calendar day, O(user_days × days) — while
    the explode keeps the fan-out at exactly 7× the user-day grain
    with a hash join, independent of history length. No window at
    all, so nothing is single-partition.
    """
    ev = load_table(spark, sf_dir, "events")
    ud = ev.select(
        F.date_trunc("day", "ts").alias("d"), "user_id"
    ).distinct()
    days = ud.select(F.col("d").alias("day_d")).distinct()
    contrib = ud.select(
        "user_id",
        F.explode(
            F.sequence(
                F.col("d"),
                F.col("d") + F.expr("INTERVAL 6 DAY"),
                F.expr("INTERVAL 1 DAY"),
            )
        ).alias("day_d"),
    )
    return (
        contrib.join(F.broadcast(days), "day_d")
        .groupBy(F.date_format("day_d", "yyyy-MM-dd").alias("day"))
        .agg(F.count_distinct("user_id").alias("wau"))
    )


@query(
    "event_power_user_curve",
    oracle="""
    WITH ud AS (
      SELECT DISTINCT date_trunc('day', ts) AS d, user_id FROM events
    ), per_user AS (
      SELECT user_id, count(*) AS active_days FROM ud GROUP BY 1
    )
    SELECT active_days, count(*) AS n_users
    FROM per_user GROUP BY 1
    """,
)
def q_power_user_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Power-user curve (the L30/L7 engagement histogram): how many
    users were active on exactly N distinct days — the
    smile-vs-frown shape product teams read addiction off.

    Scale shape: (day, user) distinct, a user-grain count, then a
    histogram aggregate over the bounded active-days domain; three
    map-side-combinable aggregates, no window, no collect.
    """
    ev = load_table(spark, sf_dir, "events")
    ud = ev.select(
        F.date_trunc("day", "ts").alias("d"), "user_id"
    ).distinct()
    per_user = ud.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("active_days")
    )
    return per_user.groupBy("active_days").agg(
        F.count(F.lit(1)).alias("n_users")
    )


@query(
    "event_seasonal_anomaly_hourly",
    oracle="""
    WITH hourly AS (
      SELECT date_trunc('hour', ts) AS h, count(*) AS n FROM events GROUP BY 1
    ), base AS (
      SELECT h, n,
             avg(n)    OVER w AS mu,
             stddev(n) OVER w AS sd,
             count(*)  OVER w AS m
      FROM hourly
      WINDOW w AS (PARTITION BY extract(hour FROM h) ORDER BY h
                   ROWS BETWEEN 3 PRECEDING AND 1 PRECEDING)
    )
    SELECT strftime(h, '%Y-%m-%d %H:00') AS hour, n AS n_events,
           round(mu, 6) AS baseline,
           (abs(n - mu) > 2 * sd) AS flagged
    FROM base WHERE m = 3 AND sd > 0
    """,
)
def q_seasonal_anomaly_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonality-aware volume anomaly: each hour's event count
    against the trailing mean/stddev of the SAME hour-of-day (the
    last 3 occurrences), flagging >2σ deviations — the baseline that
    doesn't page at 9am because 3am was quiet, complementing the
    global CUSUM and rolling z-score detectors.

    Scale shape: raw events collapse to the hour grain first (one
    hash aggregate — the only corpus-sized pass), then every window
    is PARTITIONED by hour-of-day over a bounded 3-row trailing
    frame; state per partition is the hour-grain history, never
    events. Counts are exact ints, so the only floats are the
    identically-computed avg/stddev, rounded 6dp.
    """
    ev = load_table(spark, sf_dir, "events")
    hourly = ev.groupBy(F.date_trunc("hour", "ts").alias("h")).agg(
        F.count(F.lit(1)).alias("n")
    )
    w = (
        Window.partitionBy(F.hour("h"))
        .orderBy("h")
        .rowsBetween(-3, -1)
    )
    base = (
        hourly.withColumn("mu", F.avg("n").over(w))
        .withColumn("sd", F.stddev("n").over(w))
        .withColumn("m", F.count(F.lit(1)).over(w))
    )
    return base.where((F.col("m") == 3) & (F.col("sd") > 0)).select(
        F.date_format("h", "yyyy-MM-dd HH:00").alias("hour"),
        F.col("n").alias("n_events"),
        F.round("mu", 6).alias("baseline"),
        (F.abs(F.col("n") - F.col("mu")) > 2 * F.col("sd")).alias("flagged"),
    )


# --- purged temporal split -------------------------------------------

_TEMPORAL_SPLIT_ORACLE = """
    WITH ranked AS (
      SELECT user_id, ts,
             ntile(10) OVER (ORDER BY ts, event_id) AS dec
      FROM events
    ), assigned AS (
      SELECT user_id, ts,
             CASE WHEN dec <= 7 THEN 'train'
                  WHEN dec = 8 THEN 'purged'
                  ELSE 'test' END AS split
      FROM ranked
    ), summary AS (
      SELECT split, count(*) AS n_events,
             count(DISTINCT user_id) AS n_users,
             min(ts) AS min_ts, max(ts) AS max_ts
      FROM assigned GROUP BY 1
    ), overlap AS (
      SELECT count(*) AS n_shared_users FROM (
        SELECT user_id FROM assigned WHERE split = 'train'
        INTERSECT
        SELECT user_id FROM assigned WHERE split = 'test'
      )
    )
    SELECT s.*, o.n_shared_users FROM summary s CROSS JOIN overlap o
"""


@query("data_temporal_split", oracle=_TEMPORAL_SPLIT_ORACLE)
def q_temporal_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Purged TEMPORAL train/test split — the leakage-safe protocol
    for forecasting-style training data: train on the earliest 70% of
    the event timeline, hold out the latest 20%, and PURGE the decile
    between them so windowed features computed at the train boundary
    cannot peek into test time (the embargo trick from financial ML).
    Complements `data_hash_split` (entity-iid) and
    `data_leakage_safe_split` (group-exclusive): here order is time
    itself, so shared users across splits are EXPECTED and reported
    (`n_shared_users`) rather than forbidden.

    Scale shape: the timeline decile comes from the scalable
    `grouped_exact_ntile` (range shuffle + pid windows — never a one-task
    global window over the fact table); summaries are one hash
    aggregate per grain; the train∩test user overlap is a two-sided
    distinct + inner join on uniform user ids.
    """
    from real_time_data_pipeline_spark.operators.ranking import grouped_exact_ntile

    ev = load_table(spark, sf_dir, "events").select("user_id", "ts", "event_id")
    assigned = grouped_exact_ntile(
        ev, 10, [], [F.asc("ts"), F.asc("event_id")], "dec"
    ).select(
        "user_id",
        "ts",
        F.when(F.col("dec") <= 7, "train")
        .when(F.col("dec") == 8, "purged")
        .otherwise("test")
        .alias("split"),
    )
    summary = assigned.groupBy("split").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.countDistinct("user_id").alias("n_users"),
        F.min("ts").alias("min_ts"),
        F.max("ts").alias("max_ts"),
    )
    # ONE user-grain aggregate replaces two per-side distincts + a join
    # (r15 optimization, guide §2.3 "aggregate before you shuffle"):
    # a user is shared iff they have rows in both train and test —
    # count those flags directly. Same value as |distinct(train) ∩
    # distinct(test)|. The NOT NULL guard (VERDICT r15 #4) pins the
    # old inner-join semantics: NULL ≠ NULL in a join, so a NULL
    # user_id appearing on both sides must NOT count as shared the
    # way a NULL GROUP would (tests/test_operators.py::
    # test_temporal_overlap_flag_aggregate_ignores_null_users pins it).
    overlap = (
        assigned.where(F.col("user_id").isNotNull())
        .groupBy("user_id")
        .agg(
            F.max((F.col("split") == "train").cast("int")).alias("t"),
            F.max((F.col("split") == "test").cast("int")).alias("e"),
        )
        .agg(
            F.count(F.when((F.col("t") == 1) & (F.col("e") == 1), 1)).alias(
                "n_shared_users"
            )
        )
    )
    return summary.crossJoin(F.broadcast(overlap))


# --- funnel conversion latency ---------------------------------------

_TIME_TO_CONVERT_ORACLE = """
    WITH s AS (
      SELECT user_id, min(ts) AS t_signup
      FROM events WHERE event_type = 'signup' GROUP BY 1
    ), p AS (
      SELECT e.user_id, min(e.ts) AS t_purchase
      FROM events e JOIN s ON e.user_id = s.user_id
      WHERE e.event_type = 'purchase' AND e.ts > s.t_signup
      GROUP BY 1
    ), d AS (
      SELECT p.user_id,
             CAST(date_diff('second', s.t_signup, p.t_purchase) AS BIGINT)
               AS sec,
             row_number() OVER (
               ORDER BY date_diff('second', s.t_signup, p.t_purchase), p.user_id
             ) AS rn,
             count(*) OVER () AS n
      FROM p JOIN s ON p.user_id = s.user_id
    )
    SELECT (SELECT count(*) FROM s) AS n_signed_up,
           (SELECT count(*) FROM d) AS n_converted,
           (SELECT sec FROM d WHERE rn = CAST(ceil(0.5 * n) AS BIGINT))
             AS p50_seconds,
           (SELECT sec FROM d WHERE rn = CAST(ceil(0.9 * n) AS BIGINT))
             AS p90_seconds
"""


@query("event_time_to_convert", oracle=_TIME_TO_CONVERT_ORACLE)
def q_time_to_convert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Signup→purchase conversion LATENCY quantiles (p50/p90 seconds,
    rank-pick percentile_disc semantics): `funnel_conversion` counts
    who converts, this measures how long conversion takes — the
    product-analytics number behind activation SLAs.

    Scale shape: first-touch reduction per user (hash aggregate),
    then the quantile of the per-converter duration set via the
    scalable exact global row_number — the duration set is
    users-sized, exactly where a naive `percentile()` single-reducer
    dies — with the p50/p90 rows selected by closed-form rank
    positions from two 1-row broadcasts.
    """
    from real_time_data_pipeline_spark.operators.ranking import grouped_row_number

    from real_time_data_pipeline_spark.operators.materialize import (
        persist_tracked,
    )

    ev = load_table(spark, sf_dir, "events")
    # persisted: feeds the purchase join, the duration join, and the
    # signup count — one events scan instead of three (r15).
    s = persist_tracked(
        ev.where(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_signup"))
    )
    p = (
        ev.join(s, "user_id")
        .where(
            (F.col("event_type") == "purchase") & (F.col("ts") > F.col("t_signup"))
        )
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_purchase"))
    )
    d = p.join(s, "user_id").select(
        "user_id",
        (
            F.unix_timestamp("t_purchase") - F.unix_timestamp("t_signup")
        ).alias("sec"),
    )
    ranked = grouped_row_number(
        d, [], [F.asc("sec"), F.asc("user_id")], rn_col="rn", total_col="n"
    )
    # ONE aggregate over the ranked frame yields the converter count
    # (count == max rn == n) and both rank-picked quantiles (r15
    # optimization) — the old four-branch crossJoin re-ran the
    # signup/purchase reduction once per branch (n_conv recomputed d;
    # p50/p90 each re-filtered ranked). Identical values: the same
    # closed-form rank positions select the same rows.
    stats = ranked.agg(
        F.count(F.lit(1)).alias("n_converted"),
        F.min(
            F.when(
                F.col("rn") == F.ceil(0.5 * F.col("n")).cast("long"),
                F.col("sec"),
            )
        ).alias("p50_seconds"),
        F.min(
            F.when(
                F.col("rn") == F.ceil(0.9 * F.col("n")).cast("long"),
                F.col("sec"),
            )
        ).alias("p90_seconds"),
    )
    n_signed = s.agg(F.count(F.lit(1)).alias("n_signed_up"))
    return n_signed.crossJoin(F.broadcast(stats))


# --- watermark lateness audit ----------------------------------------

_LATENESS_ORACLE = """
    WITH fr AS (
      SELECT ts,
             max(ts) OVER (ORDER BY event_id
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS frontier
      FROM events
    ), lat AS (
      SELECT CAST(date_diff('second', ts, frontier) AS BIGINT) AS late_s
      FROM fr
    )
    SELECT count(*) AS n_events,
           CAST(sum(CASE WHEN late_s = 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_on_time,
           CAST(sum(CASE WHEN late_s > 0 AND late_s <= 60 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_late_1m,
           CAST(sum(CASE WHEN late_s > 60 AND late_s <= 600 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_late_10m,
           CAST(sum(CASE WHEN late_s > 600 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_dropped_10m,
           round(sum(CASE WHEN late_s > 600 THEN 1 ELSE 0 END) * 1.0
                 / count(*), 6) AS drop_frac_10m
    FROM lat
"""


@query("pipeline_watermark_lateness", oracle=_LATENESS_ORACLE)
def q_watermark_lateness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark-policy audit from history: reconstruct the event-time
    FRONTIER the stream would have seen (running max of event time in
    arrival order — event_id is the arrival proxy in this synthetic
    feed), measure each event's lateness against it, and report how
    much data a given `withWatermark` delay would have dropped — the
    measurement that should precede every watermark choice instead of
    guessing "10 minutes".

    Scale shape: the frontier is `global_running_max` (same range
    shuffle + pid-window + broadcast-offset pattern as the exact-rank
    family — a naive `max() OVER (ORDER BY arrival)` is a one-task
    window over the whole fact table); the bucket rollup is a single
    aggregate pass.
    """
    from real_time_data_pipeline_spark.operators.ranking import global_running_max

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", F.unix_timestamp("ts").alias("uts")
    )
    fr = global_running_max(
        ev, [F.asc("event_id")], "uts", out_col="frontier"
    ).withColumn("late_s", F.col("frontier") - F.col("uts"))
    return fr.agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum((F.col("late_s") == 0).cast("long")).alias("n_on_time"),
        F.sum(
            ((F.col("late_s") > 0) & (F.col("late_s") <= 60)).cast("long")
        ).alias("n_late_1m"),
        F.sum(
            ((F.col("late_s") > 60) & (F.col("late_s") <= 600)).cast("long")
        ).alias("n_late_10m"),
        F.sum((F.col("late_s") > 600).cast("long")).alias("n_dropped_10m"),
        F.round(
            F.sum((F.col("late_s") > 600).cast("long")) / F.count(F.lit(1)), 6
        ).alias("drop_frac_10m"),
    )


# --- A/B test: Welch's t over a deterministic hash split --------------

_WELCH_ORACLE = """
    WITH assigned AS (
      SELECT CASE WHEN CAST('0x' || substr(md5('ab' || CAST(user_id AS VARCHAR)), 1, 8)
                       AS BIGINT) % 2 = 0
                  THEN 'A' ELSE 'B' END AS grp,
             value
      FROM events WHERE event_type = 'purchase'
    ), s AS (
      SELECT grp, count(*) AS n, sum(value) AS s1, sum(value * value) AS s2
      FROM assigned GROUP BY 1
    ), w AS (
      SELECT
        max(CASE WHEN grp = 'A' THEN n END) AS n_a,
        max(CASE WHEN grp = 'B' THEN n END) AS n_b,
        max(CASE WHEN grp = 'A' THEN s1 / n END) AS m_a,
        max(CASE WHEN grp = 'B' THEN s1 / n END) AS m_b,
        max(CASE WHEN grp = 'A' THEN (s2 - s1 * s1 / n) / (n - 1) END) AS v_a,
        max(CASE WHEN grp = 'B' THEN (s2 - s1 * s1 / n) / (n - 1) END) AS v_b
      FROM s
    )
    SELECT n_a, n_b, round(m_a, 6) AS mean_a, round(m_b, 6) AS mean_b,
           round((m_a - m_b) / sqrt(v_a / n_a + v_b / n_b), 6) AS welch_t
    FROM w
"""


@query("agg_ab_welch_t", oracle=_WELCH_ORACLE)
def q_ab_welch_t(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A/B experiment readout: purchase values split into two arms by
    the SAME deterministic md5 hash-bucket trick as `data_hash_split`
    (assignment reproducible across engines and dataset versions, no
    RNG), compared with Welch's unequal-variance t statistic.

    Scale shape: one partial-aggregating pass computes (n, Σx, Σx²)
    per arm — means, variances, and the t statistic all derive from
    those two rows in closed form. No window, no second scan; this is
    the sufficient-statistics pattern every metrics pipeline should
    use instead of collecting samples.
    """
    ev = load_table(spark, sf_dir, "events").where(
        F.col("event_type") == "purchase"
    )
    assigned = ev.select(
        F.when(
            F.conv(
                F.substring(F.md5(F.concat(F.lit("ab"), F.col("user_id").cast("string"))), 1, 8),
                16, 10,
            ).cast("long") % 2 == 0,
            "A",
        )
        .otherwise("B")
        .alias("grp"),
        "value",
    )
    s = assigned.groupBy("grp").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("value").alias("s1"),
        F.sum(F.col("value") * F.col("value")).alias("s2"),
    )
    w = s.agg(
        F.max(F.when(F.col("grp") == "A", F.col("n"))).alias("n_a"),
        F.max(F.when(F.col("grp") == "B", F.col("n"))).alias("n_b"),
        F.max(F.when(F.col("grp") == "A", F.col("s1") / F.col("n"))).alias("m_a"),
        F.max(F.when(F.col("grp") == "B", F.col("s1") / F.col("n"))).alias("m_b"),
        F.max(
            F.when(
                F.col("grp") == "A",
                (F.col("s2") - F.col("s1") * F.col("s1") / F.col("n"))
                / (F.col("n") - 1),
            )
        ).alias("v_a"),
        F.max(
            F.when(
                F.col("grp") == "B",
                (F.col("s2") - F.col("s1") * F.col("s1") / F.col("n"))
                / (F.col("n") - 1),
            )
        ).alias("v_b"),
    )
    return w.select(
        "n_a",
        "n_b",
        F.round("m_a", 6).alias("mean_a"),
        F.round("m_b", 6).alias("mean_b"),
        F.round(
            (F.col("m_a") - F.col("m_b"))
            / F.sqrt(F.col("v_a") / F.col("n_a") + F.col("v_b") / F.col("n_b")),
            6,
        ).alias("welch_t"),
    )


# --- lag-1 autocorrelation of the hourly event-rate series ------------

_AUTOCORR_ORACLE = """
    WITH hourly AS (
      SELECT date_trunc('hour', ts) AS h, count(*) AS c
      FROM events GROUP BY 1
    ), lagged AS (
      SELECT c AS x, lead(c) OVER (ORDER BY h) AS y FROM hourly
    ), p AS (
      SELECT count(*) AS n, sum(x) AS sx, sum(y) AS sy,
             sum(x * y) AS sxy, sum(x * x) AS sxx, sum(y * y) AS syy
      FROM lagged WHERE y IS NOT NULL
    )
    SELECT (SELECT count(*) FROM hourly) AS n_hours,
           round((n * sxy - sx * sy)
                 / sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)), 6)
             AS lag1_autocorr
    FROM p
"""


@query("event_hourly_autocorr", oracle=_AUTOCORR_ORACLE)
def q_hourly_autocorr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lag-1 autocorrelation of the hourly event-rate series — the
    seasonality/burstiness scalar behind anomaly-detector tuning (a
    CUSUM threshold assumes near-zero autocorrelation; this measures
    it). Integer count sums keep both engines bit-exact until the
    final division.

    Scale shape: the corpus collapses to an hours-sized series in one
    hash aggregate; the lag pairing is a window over that tiny series
    (hours, not events) and the correlation is one sufficient-stats
    row."""
    hourly = (
        load_table(spark, sf_dir, "events")
        .groupBy(F.date_trunc("hour", "ts").alias("h"))
        .agg(F.count(F.lit(1)).alias("c"))
    )
    w = Window.orderBy("h")  # hours-sized frame — bounded, audited
    lagged = hourly.select(
        F.col("c").alias("x"), F.lead("c").over(w).alias("y")
    ).where(F.col("y").isNotNull())
    p = lagged.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    n_hours = hourly.agg(F.count(F.lit(1)).alias("n_hours"))
    return n_hours.crossJoin(F.broadcast(p)).select(
        "n_hours",
        F.round(
            (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy"))
            / F.sqrt(
                (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"))
                * (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy"))
            ),
            6,
        ).alias("lag1_autocorr"),
    )


# --- peak session concurrency ----------------------------------------

_CONCURRENCY_ORACLE = """
    WITH marked AS (
      SELECT user_id, ts, event_id,
             CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                       IS NULL
                    OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                       > INTERVAL 30 MINUTE
                  THEN 1 ELSE 0 END AS new_s
      FROM events
    ), sids AS (
      SELECT user_id, ts,
             sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                              ROWS UNBOUNDED PRECEDING) AS sid
      FROM marked
    ), sess AS (
      SELECT user_id, sid,
             min(ts) AS t_start,
             max(ts) + INTERVAL 30 MINUTE AS t_end
      FROM sids
      GROUP BY user_id, sid
    ), deltas AS (
      SELECT t_start AS t, 1 AS d, user_id, sid FROM sess
      UNION ALL
      SELECT t_end, -1, user_id, sid FROM sess
    ), running AS (
      SELECT sum(d) OVER (ORDER BY t, d, user_id, sid
                          ROWS UNBOUNDED PRECEDING) AS live
      FROM deltas
    )
    SELECT (SELECT count(*) FROM sess) AS n_sessions,
           CAST(max(live) AS BIGINT) AS max_concurrent
    FROM running
"""


@query("window_peak_concurrency", oracle=_CONCURRENCY_ORACLE)
def q_peak_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak concurrent sessions (capacity-planning's first number):
    30-minute-gap sessions per user, each session an interval
    [first event, last event + gap], peak = max of the running sum of
    ±1 interval endpoints — the classic interval-stabbing sweep. Ends
    sort before starts at equal timestamps (d = −1 < +1), so touching
    intervals don't double-count.

    Scale shape: sessionization is two user-partitioned windows; the
    sweep's running sum over ALL endpoint events — the step that is a
    one-task global window written naively — is `global_prefix_sums`
    (range shuffle + pid windows + broadcast offsets), then one max
    aggregate. Nothing is collected.
    """
    from real_time_data_pipeline_spark.operators.ranking import global_prefix_sums

    ev = load_table(spark, sf_dir, "events").select("user_id", "ts", "event_id")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    marked = ev.withColumn(
        "new_s",
        (
            F.lag("ts").over(w).isNull()
            | (
                F.col("ts").cast("long") - F.lag("ts").over(w).cast("long")
                > 30 * 60
            )
        ).cast("int"),
    )
    # event_id tie-break: equal-ts rows must take deterministic session
    # ids, or the boundary row can swap sides run-to-run (module
    # determinism contract; code-review r7 finding)
    ws = Window.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    sess = (
        marked.withColumn("sid", F.sum("new_s").over(ws))
        .groupBy("user_id", "sid")
        .agg(
            F.min("ts").alias("t_start"),
            (F.max("ts") + F.expr("INTERVAL 30 MINUTES")).alias("t_end"),
        )
    )
    # sess feeds the two delta branches AND the session count — share
    # one computation of the double-window sessionization
    from real_time_data_pipeline_spark.operators.materialize import persist_tracked

    sess = persist_tracked(sess)
    deltas = sess.select(
        F.col("t_start").alias("t"), F.lit(1).alias("d"), "user_id", "sid"
    ).unionByName(
        sess.select(
            F.col("t_end").alias("t"), F.lit(-1).alias("d"), "user_id", "sid"
        )
    )
    running = global_prefix_sums(
        deltas,
        [F.asc("t"), F.asc("d"), F.asc("user_id"), F.asc("sid")],
        ["d"],
        ["live"],
    )
    n_sess = sess.agg(F.count(F.lit(1)).alias("n_sessions"))
    peak = running.agg(F.max("live").cast("long").alias("max_concurrent"))
    return n_sess.crossJoin(F.broadcast(peak))


# --- r8: inter-arrival time profile -----------------------------------

_INTERARRIVAL_ORACLE = """
    WITH gaps AS (
      SELECT event_type,
             CAST(date_diff('second',
                    lag(ts) OVER (PARTITION BY user_id, event_type
                                  ORDER BY ts, event_id),
                    ts) AS BIGINT) AS gap_s
      FROM events
    )
    SELECT event_type,
           count(gap_s) AS n_gaps,
           round(avg(gap_s), 6) AS avg_gap_s,
           CAST(max(gap_s) AS BIGINT) AS max_gap_s,
           round(stddev(gap_s), 6) AS sd_gap_s
    FROM gaps
    GROUP BY event_type
"""


@query("event_interarrival_stats", oracle=_INTERARRIVAL_ORACLE)
def q_event_interarrival_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-arrival time profile per event type — the input to
    rate-limit sizing, anomaly thresholds, and synthetic-load
    modeling (a Poisson stream has sd ≈ mean; a heavy sd/mean ratio
    means bursts). Gaps are measured WITHIN each (user, type) series:
    cross-user gaps are meaningless and, at scale, a per-type-only
    ordering would funnel each type's whole history into one task.

    Scale shape: the lag window partitions by (user_id, event_type) —
    millions of small groups, one shuffle — then a per-type hash
    aggregate of integer second-gaps (exact sums; the stddev's
    n·Σx²−(Σx)² runs on exact integers below 2^53).
    """
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    gaps = ev.select(
        "event_type",
        (
            F.col("ts").cast("long") - F.lag(F.col("ts").cast("long")).over(w)
        ).alias("gap_s"),
    )
    return gaps.groupBy("event_type").agg(
        F.count("gap_s").alias("n_gaps"),
        F.round(F.avg("gap_s"), 6).alias("avg_gap_s"),
        F.max("gap_s").alias("max_gap_s"),
        F.round(F.stddev_samp("gap_s"), 6).alias("sd_gap_s"),
    )


# --- r8: activity islands (gaps-and-islands) --------------------------

_ISLANDS_ORACLE = """
    WITH days AS (
      SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events
    ), runs AS (
      SELECT user_id,
             d - CAST(row_number() OVER (PARTITION BY user_id ORDER BY d)
                      AS INTEGER) AS grp
      FROM days
    ), islands AS (
      SELECT user_id, grp, count(*) AS len FROM runs GROUP BY 1, 2
    )
    SELECT CAST(len AS BIGINT) AS island_len,
           count(*) AS n_islands,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
    FROM islands
    GROUP BY len
"""


@query("event_activity_islands", oracle=_ISLANDS_ORACLE)
def q_event_activity_islands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands over daily activity: the distribution of
    consecutive-active-day streak lengths (and how many users reach
    each) — the engagement-streak report behind retention features
    and streak-based incentives. Classic rn-difference trick: within
    a user, `date − row_number` is constant exactly across a
    consecutive run.

    Scale shape: a per-user distinct-date aggregate, a window
    partitioned by user_id (millions of small groups, never global),
    then two bounded hash aggregates. Streak arithmetic is integer
    dates — no float anywhere.
    """
    ev = load_table(spark, sf_dir, "events")
    days = ev.select("user_id", F.to_date("ts").alias("d")).distinct()
    w = Window.partitionBy("user_id").orderBy("d")
    runs = days.select(
        "user_id",
        F.date_sub(F.col("d"), F.row_number().over(w)).alias("grp"),
    )
    islands = runs.groupBy("user_id", "grp").agg(F.count(F.lit(1)).alias("len"))
    return islands.groupBy(F.col("len").alias("island_len")).agg(
        F.count(F.lit(1)).alias("n_islands"),
        F.count_distinct("user_id").alias("n_users"),
    )


# --- r8: SLI error-rate windows + burn rate ---------------------------

_SLI_ORACLE = """
    WITH w AS (
      SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start,
             count(*) AS n_events,
             CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_errors
      FROM events GROUP BY 1
    )
    SELECT window_start, n_events, n_errors,
           round(n_errors * 1.0 / n_events, 6) AS error_rate,
           round((n_errors * 1.0 / n_events) / 0.01, 6) AS burn_rate,
           n_errors * 1.0 / n_events > 0.01 AS breaching
    FROM w
"""


@query("event_sli_error_budget", oracle=_SLI_ORACLE)
def q_event_sli_error_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly SLI report against a 1% error-rate objective: per-window
    error rate, burn rate (rate/objective — how many multiples of the
    error budget each hour consumes), and the breach flag an alerting
    rule keys on. The batch twin of what the streaming gold pipeline
    would emit from the same windowed aggregate.

    Scale shape: one tumbling-window conditional-count aggregate
    (window keys are uniform in time), then per-row arithmetic on
    exact integer counts. No joins, no windows-over-windows.
    """
    ev = load_table(spark, sf_dir, "events")
    w = (
        ev.groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum((F.col("event_type") == "error").cast("long")).alias("n_errors"),
        )
        .select(F.col("w.start").alias("window_start"), "n_events", "n_errors")
    )
    rate = F.col("n_errors") / F.col("n_events")
    return w.select(
        "window_start", "n_events", "n_errors",
        F.round(rate, 6).alias("error_rate"),
        F.round(rate / 0.01, 6).alias("burn_rate"),
        (rate > 0.01).alias("breaching"),
    )


# --- r8: burstiness (Fano factor) -------------------------------------

_FANO_ORACLE = """
    WITH mins AS (
      SELECT event_type, time_bucket(INTERVAL '1 minute', ts) AS m,
             count(*) AS c
      FROM events GROUP BY 1, 2
    )
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_active_minutes,
           round(avg(c), 6) AS mean_per_min,
           round(var_samp(c), 6) AS var_per_min,
           round(var_samp(c) / avg(c), 6) AS fano
    FROM mins GROUP BY event_type
"""


@query("event_burstiness_fano", oracle=_FANO_ORACLE)
def q_event_burstiness_fano(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Burstiness per event type via the Fano factor (variance/mean of
    per-minute counts over ACTIVE minutes): ≈1 is Poisson-like
    arrival, ≫1 means bursts (retry storms, batch replays, bot
    traffic) — the statistic that separates 'rate went up' from
    'arrivals got clumpy' when sizing rate limits and stream
    partitions.

    Scale shape: a (type, minute)-keyed count aggregate, then a
    per-type moment aggregate over integer counts (exact sums below
    2^53, so both engines' variance agrees at 6dp).
    """
    ev = load_table(spark, sf_dir, "events")
    mins = ev.groupBy(
        "event_type", F.date_trunc("minute", F.col("ts")).alias("m")
    ).agg(F.count(F.lit(1)).alias("c"))
    return mins.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_active_minutes"),
        F.round(F.avg("c"), 6).alias("mean_per_min"),
        F.round(F.var_samp("c"), 6).alias("var_per_min"),
        F.round(F.var_samp("c") / F.avg("c"), 6).alias("fano"),
    )


# --- r8: user lifecycle stages ----------------------------------------

_LIFECYCLE_ORACLE = """
    WITH horizon AS (
      SELECT max(ts) AS h FROM events
    ), per_user AS (
      SELECT user_id, min(ts) AS first_ts, max(ts) AS last_ts
      FROM events GROUP BY user_id
    ), staged AS (
      SELECT user_id,
             CASE
               WHEN first_ts > (SELECT h FROM horizon) - INTERVAL '7 days'
                 THEN 'new'
               WHEN last_ts > (SELECT h FROM horizon) - INTERVAL '7 days'
                 THEN 'active'
               WHEN last_ts > (SELECT h FROM horizon) - INTERVAL '28 days'
                 THEN 'lapsing'
               ELSE 'churned'
             END AS stage,
             CAST(date_diff('day', first_ts, last_ts) AS BIGINT) AS tenure_days
      FROM per_user
    )
    SELECT stage, count(*) AS n_users,
           round(avg(tenure_days), 6) AS avg_tenure_days,
           CAST(max(tenure_days) AS BIGINT) AS max_tenure_days
    FROM staged GROUP BY stage
"""


@query("event_user_lifecycle_stages", oracle=_LIFECYCLE_ORACLE)
def q_event_user_lifecycle_stages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lifecycle segmentation at the data's own horizon (max event
    time, so the report is reproducible): users whose FIRST activity
    is inside the last 7 days are 'new', still-active veterans are
    'active', quiet for 7-28 days 'lapsing', longer 'churned' — with
    tenure stats per stage. The events-side counterpart of the
    RFM segmentation on orders.

    Scale shape: one per-user min/max aggregate, the horizon as a
    1-row broadcast, then a 4-group rollup. Stage boundaries are
    timestamp comparisons — no floats.
    """
    ev = load_table(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        F.min("ts").alias("first_ts"), F.max("ts").alias("last_ts")
    )
    horizon = ev.agg(F.max("ts").alias("h"))
    j = per_user.crossJoin(F.broadcast(horizon))
    d7 = F.col("h") - F.expr("INTERVAL 7 DAYS")
    d28 = F.col("h") - F.expr("INTERVAL 28 DAYS")
    stage = (
        F.when(F.col("first_ts") > d7, "new")
        .when(F.col("last_ts") > d7, "active")
        .when(F.col("last_ts") > d28, "lapsing")
        .otherwise("churned")
    )
    tenure = F.datediff(F.col("last_ts"), F.col("first_ts")).cast("long")
    return (
        j.select(stage.alias("stage"), tenure.alias("tenure_days"))
        .groupBy("stage")
        .agg(
            F.count(F.lit(1)).alias("n_users"),
            F.round(F.avg("tenure_days"), 6).alias("avg_tenure_days"),
            F.max("tenure_days").alias("max_tenure_days"),
        )
    )


# --- r9: day-of-week × hour activity heatmap --------------------------

_DOW_HOUR_ORACLE = """
    WITH tot AS (SELECT count(*) AS t FROM events)
    SELECT CAST(isodow(ts) AS BIGINT) AS isodow,
           CAST(date_part('hour', ts) AS BIGINT) AS hour,
           count(*) AS n_events,
           count(DISTINCT user_id) AS n_users,
           round(count(*) * 1.0 / (SELECT t FROM tot), 6) AS share
    FROM events GROUP BY 1, 2
"""


@query("event_dow_hour_heatmap", oracle=_DOW_HOUR_ORACLE)
def q_event_dow_hour_heatmap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Activity heatmap by ISO weekday × hour (counts, distinct
    users, share of all events) — the load-shape diagnostic behind
    capacity planning and trigger-cadence choices. ISO weekday
    (Mon=1) is used on both engines: Spark's `weekday()` (Mon=0) + 1
    equals DuckDB's `isodow`, sidestepping the Sunday-first
    `dayofweek` trap.

    Scale shape: two per-row date expressions inside the scan, one
    168-group hash aggregate (map-side combined), and a 1-row
    broadcast total for the share — nothing wider than 168 groups
    ever shuffles.
    """
    ev = load_table(spark, sf_dir, "events")
    tot = ev.agg(F.count(F.lit(1)).alias("t"))
    return (
        ev.groupBy(
            (F.weekday("ts") + 1).cast("long").alias("isodow"),
            F.hour("ts").cast("long").alias("hour"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.count_distinct("user_id").alias("n_users"),
        )
        .crossJoin(F.broadcast(tot))
        .select(
            "isodow", "hour", "n_events", "n_users",
            F.round(F.col("n_events") / F.col("t"), 6).alias("share"),
        )
    )


# --- r9: per-user event-type entropy profile --------------------------

_USER_ENTROPY_ORACLE = """
    WITH per AS (
      SELECT user_id, event_type, count(*) AS c
      FROM events GROUP BY 1, 2
    ), u AS (
      SELECT user_id, count(*) AS n_types,
             CAST(sum(c) AS BIGINT) AS tot,
             sum(c * ln(c)) AS clogc
      FROM per GROUP BY 1
    )
    SELECT CAST(n_types AS BIGINT) AS n_types,
           count(*) AS n_users,
           round(avg(ln(tot) - clogc / tot), 6) AS avg_entropy,
           round(ln(n_types), 6) AS max_entropy
    FROM u GROUP BY n_types
"""


@query("event_user_activity_entropy", oracle=_USER_ENTROPY_ORACLE)
def q_event_user_activity_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shannon entropy of each user's event-type mix, profiled by how
    many distinct types the user touches: single-behavior users
    (entropy 0) vs diversified ones — the engagement-diversity screen
    next to DAU/MAU stickiness, and a bot heuristic (scripted
    accounts sit at entropy ≈ 0 with high volume).

    The entropy is computed from count sums via the algebraic
    identity −Σ(c/T)ln(c/T) = ln(T) − (Σ c·ln c)/T, so the per-user
    pass needs only (n_types, Σc, Σc·ln c) — three aggregates, no
    per-type normalization join. ln arguments are counts ≥ 1 and
    totals ≥ 1: no ANSI log-domain or division guard needed by
    construction.

    Scale shape: one (user, type) aggregate, one user-keyed rollup of
    it (same partitioning — AQE reuses the exchange), then a final
    ≤|types| -group summary. Nothing user-wide ever sits in one task.
    """
    ev = load_table(spark, sf_dir, "events")
    per = ev.groupBy("user_id", "event_type").agg(F.count(F.lit(1)).alias("c"))
    u = per.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_types"),
        F.sum("c").alias("tot"),
        F.sum(F.col("c") * F.log(F.col("c"))).alias("clogc"),
    )
    ent = F.log(F.col("tot")) - F.col("clogc") / F.col("tot")
    per_user = u.select(
        F.col("n_types").cast("long").alias("n_types"), ent.alias("ent")
    )
    return (
        per_user.groupBy("n_types")
        .agg(
            F.count(F.lit(1)).alias("n_users"),
            F.round(F.avg("ent"), 6).alias("avg_entropy"),
        )
        .select(
            "n_types", "n_users", "avg_entropy",
            F.round(F.log(F.col("n_types").cast("double")), 6).alias(
                "max_entropy"
            ),
        )
    )


# --- r9: central-moment profile (skewness / kurtosis) -----------------

_MOMENTS_ORACLE = """
    WITH mu AS (
      SELECT event_type, avg(value) AS mu FROM events GROUP BY 1
    ), m AS (
      SELECT e.event_type,
             count(*) AS n_events,
             avg(pow(e.value - mu.mu, 2)) AS m2,
             avg(pow(e.value - mu.mu, 3)) AS m3,
             avg(pow(e.value - mu.mu, 4)) AS m4
      FROM events e JOIN mu USING (event_type)
      GROUP BY 1
    )
    SELECT m.event_type, n_events,
           round(mu.mu, 6) AS mean_value,
           round(m2, 6) AS variance,
           round(CASE WHEN m2 > 0 THEN m3 / pow(m2, 1.5) END, 6) AS skewness,
           round(CASE WHEN m2 > 0 THEN m4 / (m2 * m2) - 3 END, 6) AS ex_kurtosis
    FROM m JOIN mu USING (event_type)
"""


@query("agg_value_moments_by_type", oracle=_MOMENTS_ORACLE)
def q_agg_value_moments_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skewness and excess kurtosis of the value distribution per
    event type — the two shape numbers that tell a monitoring system
    whether a z-score threshold is even meaningful (heavy tails make
    3σ fire constantly; strong skew makes it one-sided).

    Computed as TWO-PASS central moments: per-type means broadcast
    back onto the scan, then one aggregate of (x−μ)^{2,3,4}. The
    one-pass raw-power-sum form (Σx⁴ etc.) is catastrophically
    cancellation-prone when μ is far from 0 — the two-pass form keeps
    every accumulated term centered and O(σ⁴). Ratios are guarded
    (`m2 > 0` → NULL, matching DuckDB's CASE) so a constant-valued
    type can never throw ANSI DIVIDE_BY_ZERO at a larger SF.

    Scale shape: two scans of (event_type, value) with a ≤|types|-row
    broadcast between them; both aggregates are map-side combined.
    """
    ev = load_table(spark, sf_dir, "events").select("event_type", "value")
    mu = ev.groupBy("event_type").agg(F.avg("value").alias("mu"))
    d = F.col("value") - F.col("mu")
    m = (
        ev.join(F.broadcast(mu), "event_type")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.avg(d * d).alias("m2"),
            F.avg(d * d * d).alias("m3"),
            F.avg(d * d * d * d).alias("m4"),
        )
    )
    m2 = F.col("m2")
    return m.join(F.broadcast(mu), "event_type").select(
        "event_type", "n_events",
        F.round(F.col("mu"), 6).alias("mean_value"),
        F.round(m2, 6).alias("variance"),
        F.round(F.when(m2 > 0, F.col("m3") / F.pow(m2, 1.5)), 6).alias("skewness"),
        F.round(F.when(m2 > 0, F.col("m4") / (m2 * m2) - 3), 6).alias("ex_kurtosis"),
    )


@query(
    "event_cumulative_new_users",
    oracle="""
    WITH f AS (
      SELECT user_id, min(CAST(ts AS DATE)) AS first_day
      FROM events WHERE ts IS NOT NULL GROUP BY 1
    ), d AS (
      SELECT first_day, count(*) AS n_new FROM f GROUP BY 1
    )
    SELECT strftime(first_day, '%Y-%m-%d') AS day,
           CAST(n_new AS BIGINT) AS n_new,
           CAST(sum(n_new) OVER (ORDER BY first_day) AS BIGINT) AS cum_users
    FROM d
    """,
)
def q_cumulative_new_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """User growth curve: per-day NEW users (first-ever event that
    day) and the cumulative distinct-user total to date — the
    "cumulative distinct" every growth dashboard draws, computed
    WITHOUT a per-day distinct-to-date rescan.

    The rewrite is the scale point: "distinct users as of day d" as
    declared (count(DISTINCT user) per day over all history) rescans
    the fact table per day; instead each user contributes exactly
    once at their min-date (one user-keyed aggregate — the same
    first-seen frame the retention cohort matrix builds), and the
    running total is a prefix sum over the DAY-grain series. The
    global window is calendar-bounded (one row per day — ~36.5k rows
    even at a century), the allowlisted post-aggregate form; the
    fact table is touched once.

    NULL-timestamp events are excluded on BOTH engines: a user whose
    every event has a NULL ts has no first day, and leaving the NULL
    group in would diverge anyway (Spark's window ORDER BY sorts
    NULLs first, DuckDB's sorts them last — the running sum would
    disagree on every row the moment a NULL day exists).
    """
    ev = load_table(spark, sf_dir, "events").where(F.col("ts").isNotNull())
    first = ev.groupBy("user_id").agg(F.min(F.to_date("ts")).alias("first_day"))
    daily = first.groupBy("first_day").agg(F.count(F.lit(1)).alias("n_new"))
    w = Window.orderBy("first_day").rowsBetween(Window.unboundedPreceding, 0)
    return daily.select(
        F.date_format("first_day", "yyyy-MM-dd").alias("day"),
        "n_new",
        F.sum("n_new").over(w).cast("long").alias("cum_users"),
    )


@query(
    "event_hill_tail_index",
    oracle="""
    WITH c AS (
      SELECT user_id, count(*) AS n FROM events GROUP BY 1
    ), top AS (
      SELECT n FROM c ORDER BY n DESC, user_id LIMIT 51
    )
    SELECT CAST(count(*) - 1 AS BIGINT) AS k,
           CAST(min(n) AS BIGINT) AS xmin,
           round(CASE WHEN sum(ln(n)) - count(*) * ln(min(n)) > 0
                      THEN (count(*) - 1) * 1.0
                           / (sum(ln(n)) - count(*) * ln(min(n)))
                 END, 6) AS alpha_hill
    FROM top
    """,
)
def q_hill_tail_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hill estimator of the power-law tail index over per-user
    activity counts — the standard "how heavy is the hub tail" number
    that decides whether skew mitigation (salting, sketch twins) is
    needed on a key. alpha ≈ 1-2 means an extreme tail (a few users
    dominate); alpha > 3 behaves almost light-tailed.

    Hill over the top k=50 order statistics:
    alpha = k / Σ_{i≤k} ln(c_(i) / c_(k+1)), computed via the closed
    form k / (Σ_{i≤k+1} ln c_(i) − (k+1)·ln c_(k+1)) so only the
    top-(k+1) VALUE multiset matters — deterministic under count ties
    regardless of which tied user enters the cutoff. Scale shape: one
    user-keyed aggregate, then TakeOrderedAndProject (per-partition
    51-row heaps, driver merge — no global sort), then a 51-row
    aggregate. The ANSI guard returns NULL alpha when all top counts
    tie (zero log-spread has no tail index).
    """
    from real_time_data_pipeline_spark.operators.topk import topk

    ev = load_table(spark, sf_dir, "events")
    counts = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("n"))
    top = topk(counts, [F.desc("n"), F.asc("user_id")], 51)
    stats = top.agg(
        F.count(F.lit(1)).alias("cnt"),
        F.min("n").alias("m"),
        F.sum(F.log("n")).alias("s"),
    )
    denom = F.col("s") - F.col("cnt") * F.log("m")
    return stats.select(
        (F.col("cnt") - 1).cast("long").alias("k"),
        F.col("m").cast("long").alias("xmin"),
        F.round(
            F.when(denom > 0, (F.col("cnt") - 1) / denom), 6
        ).alias("alpha_hill"),
    )

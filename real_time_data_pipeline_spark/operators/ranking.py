"""Scalable exact global ranking: row_number / ntile without a
single-partition window.

``Window.orderBy(...)`` with no partition spec funnels the entire
input through ONE task — the classic scale-killer for global ranks
(fine on a dimension, fatal on a fact table). The helpers here
compute the same exact, deterministic values with the zipWithIndex
pattern expressed in DataFrame ops:

1. range-repartition on the sort keys, so partition ``p`` holds only
   keys ordered before partition ``p+1``'s keys;
2. ``row_number`` over ``Window.partitionBy(partition_id)`` — every
   task ranks only its own partition's rows;
3. add each partition's cumulative row offset, computed from a
   partition-id count aggregate that is numPartitions rows. The
   running sum over those counts is itself a window, but over a
   frame bounded by the partition count (dozens), not the data —
   and it stays a lazy broadcast-join input, so the whole rank is
   ONE job with no driver round-trip.

Requirements: the sort keys must form a TOTAL order (include a unique
tie-break column such as the row key); otherwise the range partitioner
may split equal keys across a boundary and the rank is only
sort-stable, not deterministic.

Why the repartitioned frame is ``persist()``-ed: the count branch and
the rank branch must observe the SAME sampled range boundaries, but
range-boundary sampling is reseeded per physical exchange — planned
naively, the two branches each get their own exchange (verified: the
adaptive plan materializes two independent rangepartitioning stages,
no stage reuse) and rows near a boundary can land in different
partitions on each side, silently corrupting offsets. ``persist()``
canonicalizes both branches onto ONE InMemoryRelation, so exactly one
range exchange ever executes — and unlike ``localCheckpoint()`` it is
lazy: the whole rank stays a single job. The cache spills to disk at
scale, which is no worse than the checkpoint it replaces.

Cache lifetime: each helper call registers its persisted frame in a
module registry; ``release_rank_caches()`` unpersists everything
registered. Long-lived sessions (the bench harness, a query service)
MUST call it between requests or the caches accumulate for the session
lifetime. Call it only AFTER the final action on the returned frame
has run — unpersisting a never-materialized cache de-canonicalizes
the two branches back onto independent range exchanges, which is the
exact correctness hazard the persist exists to prevent.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from real_time_data_pipeline_spark.session import batch_width

__all__ = [
    "global_row_number",
    "exact_ntile",
    "multi_metric_ntiles",
    "grouped_row_number",
    "grouped_multi_metric_ntiles",
    "grouped_exact_ntile",
    "grouped_percentile_cont",
    "global_prefix_sum",
    "global_prefix_sums",
    "global_running_max",
    "release_rank_caches",
]

# The helpers return plain DataFrames (so callers compose them
# freely), which leaves no per-call handle to hang an unpersist on —
# the shared cache registry in operators/materialize.py IS that
# handle. One release call frees ranking AND graph/LSH reuse caches.
from real_time_data_pipeline_spark.operators.materialize import (  # noqa: E402
    persist_tracked as _persist_tracked,
    release_caches as _release_caches,
)


def release_rank_caches(blocking: bool = False) -> int:
    """Unpersist every tracked cache (the ranking helpers' shared
    range shuffles plus any other `persist_tracked` reuse caches);
    returns how many were released.

    Call after the final action on each ranking-derived result (the
    bench harness calls it per query; services should call it per
    request). Never call it while a ranking-derived frame is still
    awaiting its first action — see the module doc's correctness note.
    """
    return _release_caches(blocking=blocking)


def global_row_number(
    df: DataFrame,
    order_by: "list[Column | str]",
    rn_col: str = "rn",
    num_partitions: int | None = None,
    total_col: str | None = None,
) -> DataFrame:
    """Exact global ``row_number`` over ``order_by`` without a
    single-partition window, as one lazy job.

    Scale shape: one range shuffle of the input, one numPartitions-row
    count aggregate (its running-sum window is bounded by the
    partition count), one broadcast join, one pid-partitioned window.
    No stage sorts more than one partition's rows; nothing reaches
    the driver.

    ``total_col``: also attach the total row count as a column (via a
    1-row broadcast) — callers deriving percent_rank / cume_dist /
    ntile need it.
    """
    n_parts = num_partitions or batch_width(df.sparkSession)
    part = (
        df.repartitionByRange(n_parts, *order_by)
        .withColumn("_gr_pid", F.spark_partition_id())
    )
    part = _persist_tracked(part)  # ONE shared range exchange (see module doc)
    counts = part.groupBy("_gr_pid").agg(F.count(F.lit(1)).alias("_gr_c"))
    w_off = Window.orderBy("_gr_pid").rowsBetween(Window.unboundedPreceding, -1)
    offs = counts.select(
        "_gr_pid",
        F.coalesce(F.sum("_gr_c").over(w_off), F.lit(0)).alias("_gr_off"),
    )
    w = Window.partitionBy("_gr_pid").orderBy(*order_by)
    out = (
        part.join(F.broadcast(offs), "_gr_pid")
        .withColumn(rn_col, F.row_number().over(w) + F.col("_gr_off"))
        .drop("_gr_pid", "_gr_off")
    )
    if total_col is not None:
        total = counts.agg(F.sum("_gr_c").alias(total_col))
        out = out.crossJoin(F.broadcast(total))
    return out


def exact_ntile(
    df: DataFrame,
    n_buckets: int,
    order_by: "list[Column | str]",
    out_col: str,
    num_partitions: int | None = None,
) -> DataFrame:
    """Exact ANSI ``ntile(n)`` over a global ordering, scalably.

    Standard ntile semantics: bucket sizes differ by at most one, the
    larger buckets first. The closed-form bucket assignment is
    computed from the scalable global row_number entirely in column
    expressions (the total arrives as a 1-row broadcast), so the
    result is bit-identical to ``ntile(n) OVER (ORDER BY ...)`` — the
    DuckDB / ANSI oracle needs no adjustment — while the plan contains
    no unpartitioned window and no driver round-trip.
    """
    ranked = global_row_number(
        df, order_by, rn_col="_gr_rn",
        num_partitions=num_partitions, total_col="_gr_n",
    )
    bucket = _closed_form_ntile("_gr_rn", "_gr_n", n_buckets)
    return (
        ranked.withColumn(out_col, bucket.cast("int")).drop("_gr_rn", "_gr_n")
    )


def _closed_form_ntile(rn_col: str, n_col: str, n_buckets: int) -> Column:
    """ANSI ``ntile(n_buckets)`` bucket of rank column ``rn_col``
    (1-based) among ``n_col`` rows, as pure column arithmetic with
    exact integer ``div`` throughout (same expressions as
    `exact_ntile`): bucket sizes differ by at most one, larger buckets
    first; with fewer rows than buckets, row i lands alone in
    bucket i."""
    rn = F.col(rn_col)
    quot = F.expr(f"{n_col} div {n_buckets}")
    rem = F.col(n_col) % n_buckets
    head = rem * (quot + 1)
    return (
        F.when(quot == F.lit(0), rn)
        .when(
            rn <= head,
            F.expr(f"({rn_col} - 1) div (({n_col} div {n_buckets}) + 1)")
            + F.lit(1),
        )
        .otherwise(
            rem
            + F.expr(
                f"({rn_col} - 1 - ({n_col} % {n_buckets})"
                f" * (({n_col} div {n_buckets}) + 1))"
                f" div ({n_col} div {n_buckets})"
            )
            + F.lit(1)
        )
    )


def _validated_long_metrics(
    df: DataFrame, metrics: "list[Column]"
) -> "list[Column]":
    """Resolve each metric against ``df`` (driver-side analysis, no
    job) and fail LOUDLY unless its type survives a lossless,
    order-preserving cast to long. The multi-metric ntile helpers sort
    all k metrics through ONE shared BIGINT key column; a silent
    ``cast('long')`` of a double/decimal metric would truncate and
    mis-bucket with no error (the contract previously lived only in
    the docstring). Integral types (byte/short/int/long) and boolean
    pass; everything else names the fix in the error — dates become
    ``datediff(d, '1970-01-01')`` epoch days, money becomes integer
    cents — so a contract violation fails at plan time, not in the
    buckets."""
    from pyspark.sql.types import (
        BooleanType,
        ByteType,
        IntegerType,
        LongType,
        ShortType,
    )

    resolved = df.select(
        *[m.alias(f"_mm_chk_{i}") for i, m in enumerate(metrics)]
    ).schema
    for i, field in enumerate(resolved.fields):
        if not isinstance(
            field.dataType,
            (ByteType, ShortType, IntegerType, LongType, BooleanType),
        ):
            raise TypeError(
                f"multi-metric ntile metric #{i} has type "
                f"{field.dataType.simpleString()}, which does not cast "
                "losslessly to long; pre-cast it yourself (dates -> "
                "datediff(col, '1970-01-01') epoch days, money -> "
                "round(x*100) integer cents, floats -> an explicit "
                "integer quantization) so the shared sort key cannot "
                "silently truncate."
            )
    return [m.cast("long") for m in metrics]


def multi_metric_ntiles(
    df: DataFrame,
    n_buckets: int,
    metrics: "list[Column]",
    key: str,
    out_cols: "list[str]",
    carry: "list[str] | None" = None,
    num_partitions: int | None = None,
) -> DataFrame:
    """Exact ``ntile(n_buckets) OVER (ORDER BY metric_i, key)`` for
    SEVERAL metrics of the same frame in ONE range exchange.

    Chained `exact_ntile` calls each pay their own range shuffle of
    the same rows (k metrics → k exchanges). Exploding the frame into
    (metric_id, value) rows and taking ONE global row_number over
    (metric_id, value, key) gets all k rankings from a single
    exchange: within metric m the rank is ``rn − m·n`` (the composite
    ordering sorts metric 0's rows entirely before metric 1's), and
    the same closed-form bucket arithmetic as `exact_ntile` yields
    each quintile/decile. Measured on the RFM segmentation at sf0.1:
    ~2.3× over the three-pass form, bit-identical output
    (scripts/rfm_single_exchange_experiment.py).

    ``metrics`` must be BIGINT-comparable columns (cast dates to epoch
    days, money to integer cents first): all k metrics share one sort
    key column, so their values must survive a lossless cast to long
    with order preserved — ENFORCED at plan time
    (`_validated_long_metrics` rejects fractional/date/string metrics
    with the fix spelled out). Metrics should be non-NULL — NULLs rank
    NULLS-FIRST (Spark ascending default), which matches Spark's own
    ``ntile`` window but NOT a DuckDB oracle's NULLS-LAST default.
    ``key`` must be unique per row — it is the ANSI tie-break that
    makes every assignment deterministic.

    Returns one row per input row: ``key``, any ``carry`` columns, and
    ``out_cols[i]`` (int) = the ntile bucket of ``metrics[i]``.

    Scale shape: one explode (k× the KEY frame, still
    dimension-grade), one range exchange + pid-partitioned window
    (`global_row_number`), one ≤k-wide conditional pivot aggregate
    back to row grain. The input should be materialized by the caller
    if its lineage is expensive — the explode references it once, but
    `global_row_number` fans the exploded frame into two branches.
    """
    if len(metrics) != len(out_cols):
        raise ValueError("metrics and out_cols must pair up")
    carry = carry or []
    k = len(metrics)
    longs = _validated_long_metrics(df, metrics)
    # Internal names carry the _mm_ prefix so a caller whose key/carry
    # columns are named "mid" or "v" can never collide into an
    # ambiguous-reference AnalysisException.
    exploded = df.select(
        key,
        *carry,
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("_mm_mid"), m.alias("_mm_v")
                    )
                    for i, m in enumerate(longs)
                ]
            )
        ).alias("_mm"),
    ).select(key, *carry, "_mm._mm_mid", "_mm._mm_v")
    ranked = global_row_number(
        exploded,
        ["_mm_mid", "_mm_v", key],
        rn_col="_mm_rn",
        num_partitions=num_partitions,
        total_col="_mm_total",
    )
    ranked = ranked.withColumn(
        "_mm_n", F.expr(f"_mm_total div {k}")  # rows per metric
    ).withColumn(
        # rank within the metric, 1..n (the composite ordering sorts
        # metric 0's rows entirely before metric 1's)
        "_mm_mrn",
        F.col("_mm_rn") - F.col("_mm_mid") * F.col("_mm_n"),
    )
    bucket = _closed_form_ntile("_mm_mrn", "_mm_n", n_buckets)
    return (
        ranked.withColumn("_mm_b", bucket.cast("int"))
        .groupBy(key, *carry)
        .agg(
            *[
                F.max(F.when(F.col("_mm_mid") == i, F.col("_mm_b"))).alias(oc)
                for i, oc in enumerate(out_cols)
            ]
        )
    )


def grouped_multi_metric_ntiles(
    df: DataFrame,
    n_buckets: int,
    metrics: "list[Column]",
    group_by: "list[str]",
    key: str,
    out_cols: "list[str]",
    carry: "list[str] | None" = None,
    num_partitions: int | None = None,
) -> DataFrame:
    """Exact ``ntile(n) OVER (PARTITION BY group ORDER BY metric_i,
    key)`` for SEVERAL metrics in ONE range exchange — the per-group
    twin of `multi_metric_ntiles` (per-language quality × length
    quintiles over a web corpus is the motivating shape; chained
    `grouped_exact_ntile` pays k range shuffles of the same rows).

    Simpler than the global form: folding the metric id into the
    GROUP key makes each (group, metric) its own ranking group, so
    `grouped_row_number` already returns the within-metric rank and
    total directly — no composite-ordering rank arithmetic. The same
    mega-group safety applies: a group bigger than one task spans a
    partition run and still ranks correctly.

    Same contracts as `multi_metric_ntiles`: BIGINT-comparable
    non-NULL metrics, unique ``key`` as the deterministic tie-break;
    returns one row per input row (``group_by`` + ``key`` + ``carry``
    + one int bucket per metric). NULL group values are a partition
    of their own, exactly as in the ANSI window: the (group, metric)
    ranking key travels as ONE struct column, whose join/grouping
    semantics treat NULL fields as equal (and since r11
    `grouped_row_number` itself keys its internal joins on a struct,
    so NULL groups survive either way).
    """
    if len(metrics) != len(out_cols):
        raise ValueError("metrics and out_cols must pair up")
    carry = carry or []
    longs = _validated_long_metrics(df, metrics)
    # _mm_-prefixed internals, same collision-proofing as the global
    # form.
    exploded = df.select(
        *group_by,
        key,
        *carry,
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("_mm_mid"), m.alias("_mm_v")
                    )
                    for i, m in enumerate(longs)
                ]
            )
        ).alias("_mm"),
    ).select(*group_by, key, *carry, "_mm._mm_mid", "_mm._mm_v")
    wrapped = exploded.withColumn("_mm_g", F.struct(*group_by, "_mm_mid"))
    ranked = grouped_row_number(
        wrapped,
        ["_mm_g"],
        ["_mm_v", key],
        rn_col="_mm_rn",
        num_partitions=num_partitions,
        total_col="_mm_n",
    )
    bucket = _closed_form_ntile("_mm_rn", "_mm_n", n_buckets)
    return (
        ranked.withColumn("_mm_b", bucket.cast("int"))
        .groupBy(*group_by, key, *carry)
        .agg(
            *[
                F.max(F.when(F.col("_mm_mid") == i, F.col("_mm_b"))).alias(oc)
                for i, oc in enumerate(out_cols)
            ]
        )
    )


def grouped_row_number(
    df: DataFrame,
    group_by: "list[str]",
    order_by: "list[Column | str]",
    rn_col: str = "rn",
    num_partitions: int | None = None,
    total_col: str | None = None,
) -> DataFrame:
    """Exact per-group ``row_number`` that survives MEGA-groups.

    ``Window.partitionBy(group)`` is already scalable when every group
    fits one task — but a per-language rank over a web corpus puts
    billions of rows in 'en' and dies in that one task. Same
    zipWithIndex trick, taken per group: range-partition on
    (group, order) so each group occupies a contiguous RUN of
    partitions, rank locally within (partition, group), and add
    per-(group, partition) offsets — a frame bounded by
    |groups| × numPartitions, windowed per group.

    ``total_col``: also attach the group's total row count (joined on
    the group key; AQE broadcasts it while groups are few).

    NULL group values are a partition of their own, exactly as in the
    ANSI window: the internal offset and totals joins key on ONE
    struct of the group columns (struct join/grouping semantics treat
    NULL fields as equal), so NULL-group rows rank instead of
    silently dropping through a plain equi-join whose NULL keys never
    match (the pre-r11 restriction, now lifted).
    """
    n_parts = num_partitions or batch_width(df.sparkSession)
    part = (
        df.withColumn("_gr_g", F.struct(*group_by))
        .repartitionByRange(n_parts, F.col("_gr_g"), *order_by)
        .withColumn("_gr_pid", F.spark_partition_id())
    )
    part = _persist_tracked(part)  # ONE shared range exchange (see module doc)
    counts = part.groupBy("_gr_pid", "_gr_g").agg(
        F.count(F.lit(1)).alias("_gr_c")
    )
    w_off = (
        Window.partitionBy("_gr_g")
        .orderBy("_gr_pid")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offs = counts.select(
        "_gr_pid",
        "_gr_g",
        F.coalesce(F.sum("_gr_c").over(w_off), F.lit(0)).alias("_gr_off"),
    )
    w = Window.partitionBy("_gr_pid", "_gr_g").orderBy(*order_by)
    out = (
        part.join(offs, ["_gr_pid", "_gr_g"])
        .withColumn(rn_col, F.row_number().over(w) + F.col("_gr_off"))
        .drop("_gr_pid", "_gr_off")
    )
    if total_col is not None:
        totals = counts.groupBy("_gr_g").agg(F.sum("_gr_c").alias(total_col))
        out = out.join(totals, ["_gr_g"])
    return out.drop("_gr_g")


def grouped_exact_ntile(
    df: DataFrame,
    n_buckets: int,
    group_by: "list[str]",
    order_by: "list[Column | str]",
    out_col: str,
    num_partitions: int | None = None,
) -> DataFrame:
    """Exact ANSI ``ntile(n) OVER (PARTITION BY group ORDER BY ...)``
    for groups too large for one task — bit-identical to the windowed
    oracle via the closed-form bucket over (per-group rn, per-group
    total). NULL group values rank as their own partition
    (`grouped_row_number`'s struct-keyed internals, ANSI
    semantics)."""
    ranked = grouped_row_number(
        df, group_by, order_by, rn_col="_gr_rn",
        num_partitions=num_partitions, total_col="_gr_n",
    )
    bucket = _closed_form_ntile("_gr_rn", "_gr_n", n_buckets)
    return ranked.withColumn(out_col, bucket.cast("int")).drop("_gr_rn", "_gr_n")


def grouped_percentile_cont(
    df: DataFrame,
    group_by: "list[str]",
    value_col: str,
    pcts: "list[float]",
    out_cols: "list[str]",
    tie_break: "list[Column | str] | None" = None,
    num_partitions: int | None = None,
) -> DataFrame:
    """Exact interpolated (type-7 / ``quantile_cont``) percentiles per
    group WITHOUT Spark's exact ``percentile`` aggregate — the
    rank-pick pattern (`data_psi_drift`, `event_time_to_convert`)
    generalized to grouped frames and several fractions in ONE ranking
    pass.

    Why: ``F.percentile``'s aggregation buffer is a per-group map of
    every DISTINCT input value, merged in one reducer per group — the
    classic §5 memory hazard on unbounded-cardinality columns at
    100 TB (tests/test_plans.py audits every exact-percentile site).
    Here the heavy work is ONE range shuffle (`grouped_row_number`'s
    layout: each group occupies a contiguous partition run); the
    per-(partition, group) COUNTS then locate which partitions hold
    each group's boundary ranks, and only THOSE slices are sorted and
    ranked (≤ 2·|pcts| boundary partitions per group — the full
    grouped rank's every-partition sort is skipped everywhere else);
    a codegen filter keeps the ≤ 2·|pcts| boundary rows per group and
    one hash aggregate interpolates. Mega-group safe: no task ever
    holds more than one range partition's rows.

    BROADCAST BOUND: many groups are not safe the way one mega-group
    is. ``wanted``
    (|groups| × ≤ 2·|pcts| rows), ``offs`` (one row per (partition,
    group) slice) and ``totals`` (one row per group) are broadcast
    back onto the partitioned frame by explicit hints, which ignore
    ``spark.sql.autoBroadcastJoinThreshold``; keep the group
    cardinality low enough that each stays within that threshold
    (default 10 MB). A high-cardinality ``group_by`` wants the full
    `grouped_row_number` rank instead, whose offset joins carry no
    hint and so fall back to a shuffle join.

    Semantics match ``percentile(value, p)`` / DuckDB
    ``quantile_cont``: NULL values are ignored (filtered before
    ranking); with n non-null values the result is
    ``x[floor(h)] + (h - floor(h)) * (x[ceil(h)] - x[floor(h)])`` at
    ``h = 1 + p*(n-1)`` over the ascending 1-indexed order — the same
    closed form `data_psi_drift` ships (interpolation-parity pinned by
    tests/test_operators.py). Groups whose values are ALL NULL produce
    no output row (``F.percentile`` would yield NULL — left-join the
    result if those groups must survive).

    ``tie_break``: extra order columns making the sort a total order
    (the `grouped_row_number` determinism contract). Equal values at a
    boundary rank pick the same VALUE either way, so this guards plan
    determinism, not correctness.

    Returns one row per group: ``group_by`` + ``out_cols[i]`` (double)
    = the ``pcts[i]`` percentile.
    """
    if not pcts:
        raise ValueError("grouped_percentile_cont needs at least one fraction in pcts")
    if len(pcts) != len(out_cols):
        raise ValueError("pcts and out_cols must pair up")
    n_parts = num_partitions or batch_width(df.sparkSession)
    order = [F.asc(value_col)] + list(tie_break or [])
    # Range-partition once (same layout `grouped_row_number` uses: a
    # group occupies a contiguous partition RUN), but never rank —
    # let alone sort — the whole frame: the per-(partition, group)
    # COUNTS locate which partitions hold each group's boundary
    # ranks, and only THOSE partitions' group rows are sorted and
    # rank-picked. At n pcts that is ≤ 2n boundary partitions per
    # group out of num_partitions — the sort the full rank pays on
    # every partition is skipped on all the rest.
    part = (
        df.where(F.col(value_col).isNotNull())
        .withColumn("_gp_g", F.struct(*group_by))
        .repartitionByRange(n_parts, F.col("_gp_g"), *order)
        .withColumn("_gp_pid", F.spark_partition_id())
    )
    part = _persist_tracked(part)  # ONE shared range exchange (module doc)
    counts = part.groupBy("_gp_pid", "_gp_g").agg(
        F.count(F.lit(1)).alias("_gp_c")
    )
    w_off = (
        Window.partitionBy("_gp_g")
        .orderBy("_gp_pid")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offs = counts.select(
        "_gp_pid",
        "_gp_g",
        F.coalesce(F.sum("_gp_c").over(w_off), F.lit(0)).alias("_gp_off"),
        "_gp_c",
    )
    totals = counts.groupBy("_gp_g").agg(F.sum("_gp_c").alias("_gp_n"))

    def _pos(p: float) -> Column:
        return F.lit(1.0) + F.lit(p) * (F.col("_gp_n") - F.lit(1))

    # Every boundary rank each group needs (floor+ceil per fraction),
    # as a tiny (group, rank) frame.
    tgt = totals.select(
        "_gp_g",
        "_gp_n",
        F.explode(
            F.array_distinct(
                F.array(
                    *[
                        f(_pos(p)).cast("long")
                        for p in pcts
                        for f in (F.floor, F.ceil)
                    ]
                )
            )
        ).alias("_gp_rk"),
    )
    # Which (partition, group) slices hold a boundary rank — |groups|
    # × ≤2·|pcts| rows, broadcast back onto the partitioned frame.
    wanted = (
        offs.join(tgt, "_gp_g")
        .where(
            (F.col("_gp_rk") > F.col("_gp_off"))
            & (F.col("_gp_rk") <= F.col("_gp_off") + F.col("_gp_c"))
        )
        .select("_gp_pid", "_gp_g")
        .distinct()
    )
    cand = part.join(F.broadcast(wanted), ["_gp_pid", "_gp_g"], "left_semi")
    # Rank ONLY the candidate slices; the offset join restores the
    # group-global rank, so picked values are identical to the full
    # grouped row_number's (same arithmetic, restricted to the rows
    # that can match a boundary rank).
    w = Window.partitionBy("_gp_pid", "_gp_g").orderBy(*order)
    ranked = (
        cand.join(F.broadcast(offs.drop("_gp_c")), ["_gp_pid", "_gp_g"])
        .withColumn("_gp_rn", F.row_number().over(w) + F.col("_gp_off"))
        .join(F.broadcast(totals), "_gp_g")
    )
    keep = None
    for p in pcts:
        c = (F.col("_gp_rn") == F.floor(_pos(p))) | (
            F.col("_gp_rn") == F.ceil(_pos(p))
        )
        keep = c if keep is None else (keep | c)
    aggs = [F.max("_gp_n").alias("_gp_n")]
    for i, p in enumerate(pcts):
        aggs.append(
            F.min(
                F.when(F.col("_gp_rn") == F.floor(_pos(p)), F.col(value_col))
            ).alias(f"_gp_lo_{i}")
        )
        aggs.append(
            F.min(
                F.when(F.col("_gp_rn") == F.ceil(_pos(p)), F.col(value_col))
            ).alias(f"_gp_hi_{i}")
        )
    picked = (
        ranked.where(keep)
        .select(*group_by, value_col, "_gp_rn", "_gp_n")
        .groupBy(*group_by)
        .agg(*aggs)
    )
    outs = []
    for i, (p, oc) in enumerate(zip(pcts, out_cols)):
        frac = _pos(p) - F.floor(_pos(p))
        outs.append(
            (
                F.col(f"_gp_lo_{i}")
                + frac * (F.col(f"_gp_hi_{i}") - F.col(f"_gp_lo_{i}"))
            ).alias(oc)
        )
    return picked.select(*group_by, *outs)


def global_prefix_sum(
    df: DataFrame,
    order_by: "list[Column | str]",
    value_col: str,
    out_col: str = "prefix_sum",
    num_partitions: int | None = None,
) -> DataFrame:
    """Exact inclusive prefix sum of ``value_col`` over a global
    ordering — running totals, sequence-packing assignment, CDF
    construction — without a single-partition window.

    Same shape as ``global_row_number`` with counts generalized to
    sums: range-partition, per-partition running sum, plus each
    partition's cumulative PRIOR total from a numPartitions-row
    aggregate joined back as a broadcast.
    """
    n_parts = num_partitions or batch_width(df.sparkSession)
    part = (
        df.repartitionByRange(n_parts, *order_by)
        .withColumn("_gr_pid", F.spark_partition_id())
    )
    part = _persist_tracked(part)  # ONE shared range exchange (see module doc)
    sums = part.groupBy("_gr_pid").agg(F.sum(value_col).alias("_gr_s"))
    w_off = Window.orderBy("_gr_pid").rowsBetween(Window.unboundedPreceding, -1)
    offs = sums.select(
        "_gr_pid",
        F.coalesce(F.sum("_gr_s").over(w_off), F.lit(0)).alias("_gr_off"),
    )
    w = (
        Window.partitionBy("_gr_pid")
        .orderBy(*order_by)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        part.join(F.broadcast(offs), "_gr_pid")
        .withColumn(out_col, F.sum(value_col).over(w) + F.col("_gr_off"))
        .drop("_gr_pid", "_gr_off")
    )


def global_running_max(
    df: DataFrame,
    order_by: "list[Column | str]",
    value_col: str,
    out_col: str = "running_max",
    num_partitions: int | None = None,
) -> DataFrame:
    """Exact inclusive running MAX of ``value_col`` over a global
    ordering — watermark-frontier reconstruction, high-water-mark
    audits — without a single-partition window.

    Same shape as `global_prefix_sum` with the monoid swapped: max is
    associative, so each partition's running max combines with the
    greatest value of all PRIOR partitions (a numPartitions-row
    aggregate joined back as a broadcast).
    """
    n_parts = num_partitions or batch_width(df.sparkSession)
    part = (
        df.repartitionByRange(n_parts, *order_by)
        .withColumn("_gr_pid", F.spark_partition_id())
    )
    part = _persist_tracked(part)  # ONE shared range exchange (see module doc)
    maxes = part.groupBy("_gr_pid").agg(F.max(value_col).alias("_gr_m"))
    w_off = Window.orderBy("_gr_pid").rowsBetween(Window.unboundedPreceding, -1)
    offs = maxes.select(
        "_gr_pid",
        F.max("_gr_m").over(w_off).alias("_gr_off"),  # NULL for partition 0
    )
    w = (
        Window.partitionBy("_gr_pid")
        .orderBy(*order_by)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        part.join(F.broadcast(offs), "_gr_pid")
        .withColumn(
            out_col,
            F.greatest(
                F.max(value_col).over(w),
                F.coalesce(F.col("_gr_off"), F.max(value_col).over(w)),
            ),
        )
        .drop("_gr_pid", "_gr_off")
    )


def global_prefix_sums(
    df: DataFrame,
    order_by: "list[Column | str]",
    value_cols: "list[str]",
    out_cols: "list[str]",
    num_partitions: int | None = None,
) -> DataFrame:
    """`global_prefix_sum` for SEVERAL columns in ONE range shuffle —
    N chained single-column calls would each re-repartition by the
    same keys (N shuffles of the same rows for no new ordering).
    Joint-CDF builds (e.g. the two-sample KS statistic) need exactly
    this: every column shares the one exchange, per-partition running
    sums, and one broadcast offsets join."""
    if len(value_cols) != len(out_cols):
        raise ValueError("value_cols and out_cols must pair up")
    n_parts = num_partitions or batch_width(df.sparkSession)
    part = (
        df.repartitionByRange(n_parts, *order_by)
        .withColumn("_gr_pid", F.spark_partition_id())
    )
    part = _persist_tracked(part)  # ONE shared range exchange (see module doc)
    sums = part.groupBy("_gr_pid").agg(
        *[F.sum(c).alias(f"_gr_s_{i}") for i, c in enumerate(value_cols)]
    )
    w_off = Window.orderBy("_gr_pid").rowsBetween(Window.unboundedPreceding, -1)
    offs = sums.select(
        "_gr_pid",
        *[
            F.coalesce(F.sum(f"_gr_s_{i}").over(w_off), F.lit(0)).alias(
                f"_gr_off_{i}"
            )
            for i in range(len(value_cols))
        ],
    )
    w = (
        Window.partitionBy("_gr_pid")
        .orderBy(*order_by)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    out = part.join(F.broadcast(offs), "_gr_pid")
    for i, (vc, oc) in enumerate(zip(value_cols, out_cols)):
        out = out.withColumn(oc, F.sum(vc).over(w) + F.col(f"_gr_off_{i}"))
    return out.drop("_gr_pid", *[f"_gr_off_{i}" for i in range(len(value_cols))])

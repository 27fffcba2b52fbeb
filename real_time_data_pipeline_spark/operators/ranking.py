"""Scalable exact ranks, ntiles and running aggregates — global or
per group — without a single-partition window.

``Window.orderBy(...)`` with no partition spec funnels the entire
input through ONE task — the classic scale-killer for global ranks
(fine on a dimension, fatal on a fact table) — and
``Window.partitionBy(group)`` does the same to a mega-group (billions
of rows in 'en'). Every helper here is built on ONE kernel,
`_range_scan`: the zipWithIndex / prefix-scan decomposition (Blelloch,
"Prefix Sums and Their Applications", 1990) in DataFrame ops, as one
lazy job with no driver round-trip:

1. ONE range exchange on ``(*group_by, *order_by)`` and ONE
   ``persist_tracked``: each group occupies a contiguous RUN of
   partitions, and within a group partition ``p`` holds only keys
   ordered before partition ``p+1``'s (the plain group columns sort
   exactly like their struct and keep the range keys readable in the
   plan);
2. per-(partition[, group]) SLICE aggregates of the requested monoids
   — count (which gives ``row_number``), sum, max — a frame of at most
   |groups| + numPartitions − 1 rows (a partition boundary splits at
   most one group), not data-sized;
3. each slice's OFFSET — the monoid over the PRIOR slices of its group
   — and the group TOTAL, from windows over that slice frame ordered
   by partition id and partitioned by the group when there is one;
4. the offsets joined back, and a running window partitioned by
   (partition[, group]): no task ever sorts more than one slice;
5. running value ⊕ offset, skipping NULLs on either side:
   ``coalesce(run ⊕ off, run, off)``. The result is NULL only when no
   non-NULL value precedes the row — exactly what ``sum``/``max``
   ``OVER (... ROWS UNBOUNDED PRECEDING)`` returns.

Join rule (the kernel's one branch): with no group columns the
offsets frame has at most numPartitions rows, so its join carries an
explicit broadcast hint. Grouped offsets grow with the number of
groups and may be too big to broadcast, so they are pinned as the BUILD side
of a shuffled hash join instead. Left hint-free, Catalyst sizes the
persisted layout from a static estimate and, below the broadcast
threshold, broadcasts the DATA side, whose running window then runs in
the offsets' few partitions (measured on `agg_customer_rfm_segments`:
a 34 MiB broadcast of the ranked rows at sf0.1). NULL group values are
a group of their own, exactly as in the ANSI window: slices and joins
key on ONE struct of the group columns (``_gr_g``), whose join/grouping
semantics treat NULL fields as equal.

Requirements: the sort keys must form a TOTAL order (include a unique
tie-break column such as the row key); otherwise the range partitioner
may split equal keys across a boundary and the rank is only
sort-stable, not deterministic.

Why the repartitioned frame is ``persist()``-ed: the slice branch and
the running branch must observe the SAME sampled range boundaries, but
range-boundary sampling is reseeded per physical exchange — planned
naively, the two branches each get their own exchange (verified: the
adaptive plan materializes two independent rangepartitioning stages,
no stage reuse) and rows near a boundary can land in different
partitions on each side, silently corrupting offsets. ``persist()``
canonicalizes both branches onto ONE InMemoryRelation, so exactly one
range exchange ever executes — and unlike ``localCheckpoint()`` it is
lazy: the whole scan stays a single job. The cache spills to disk at
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
    "grouped_row_number",
    "grouped_exact_ntile",
    "grouped_multi_metric_ntiles",
    "grouped_percentile_cont",
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
    returns how many were released. An alias of
    `materialize.release_caches`, which new code calls directly; it
    stays because perfbench/registry_corpus.py (and older tests)
    import it.

    Never call it while a ranking-derived frame is still awaiting its
    first action — see the module doc's correctness note.
    """
    return _release_caches(blocking=blocking)


# monoid -> (slice aggregate of the value column, its combine over
# slices, its running value over a row window)
_MONOIDS = {
    "count": (lambda v: F.count(F.lit(1)), F.sum, lambda v, w: F.row_number().over(w)),
    "sum": (F.sum, F.sum, lambda v, w: F.sum(v).over(w)),
    "max": (F.max, F.max, lambda v, w: F.max(v).over(w)),
}


def _combine(monoid: str, run: Column, off: Column) -> Column:
    """Running value ⊕ prior offset, skipping a NULL on either side."""
    both = F.greatest(run, off) if monoid == "max" else run + off
    return F.coalesce(both, run, off)


def _range_slices(
    df: DataFrame,
    group_by: "list[str]",
    order_by: "list[Column | str]",
    monoids: "list[tuple[str, str | None]]",
    num_partitions: int | None,
) -> "tuple[DataFrame, DataFrame, list[str]]":
    """Steps 1–3 of the kernel (module doc). Returns ``(part, slices,
    keys)``: ``part`` is the persisted range layout of ``df`` carrying
    the slice ``keys`` (``_gr_pid``, plus ``_gr_g`` when grouped), and
    ``slices`` has one row per slice with, for the i-th ``(monoid,
    value_col)``, ``_gr_s{i}`` (the slice aggregate), ``_gr_o{i}`` (the
    combine of the group's prior slices, NULL when none is non-NULL)
    and ``_gr_t{i}`` (the group total)."""
    keys = ["_gr_pid", "_gr_g"] if group_by else ["_gr_pid"]
    if group_by:
        df = df.withColumn("_gr_g", F.struct(*group_by))
    n_parts = num_partitions or batch_width(df.sparkSession)
    part = _persist_tracked(  # ONE shared range exchange (module doc)
        df.repartitionByRange(n_parts, *group_by, *order_by)
        .withColumn("_gr_pid", F.spark_partition_id())
    )
    slices = part.groupBy(*keys).agg(
        *[_MONOIDS[m][0](v).alias(f"_gr_s{i}") for i, (m, v) in enumerate(monoids)]
    )
    by_pid = Window.partitionBy(*keys[1:]).orderBy("_gr_pid")
    frames = {
        "o": by_pid.rowsBetween(Window.unboundedPreceding, -1),
        "t": by_pid.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing),
    }
    slices = slices.select(
        "*",
        *[
            _MONOIDS[m][1](f"_gr_s{i}").over(frame).alias(f"_gr_{t}{i}")
            for i, (m, _) in enumerate(monoids)
            for t, frame in frames.items()
        ],
    )
    return part, slices, keys


def _range_scan(
    df: DataFrame,
    group_by: "list[str]",
    order_by: "list[Column | str]",
    aggs: "list[tuple[str, str | None, str, str | None]]",
    num_partitions: int | None,
) -> DataFrame:
    """The kernel (module doc). For each ``(monoid, value_col, out_col,
    total_col)`` of ``aggs``, ``out_col`` is the inclusive running
    ``monoid`` of ``value_col`` over ``order_by`` within the group and,
    when ``total_col`` is set, ``total_col`` is the group's total."""
    part, slices, keys = _range_slices(
        df, group_by, order_by, [a[:2] for a in aggs], num_partitions
    )
    offs = slices.drop(*[f"_gr_s{i}" for i in range(len(aggs))])
    w = (
        Window.partitionBy(*keys)
        .orderBy(*order_by)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    out = part.join(offs.hint("shuffle_hash") if group_by else F.broadcast(offs), keys)
    # The running values get their own columns first: `_combine` reads
    # its run twice, and an inline window expression would be computed
    # once per reference.
    out = (
        out.withColumns({f"_gr_r{i}": _MONOIDS[m][2](v, w) for i, (m, v, *_) in enumerate(aggs)})
        .withColumns(
            {
                oc: _combine(m, F.col(f"_gr_r{i}"), F.col(f"_gr_o{i}"))
                for i, (m, _, oc, _) in enumerate(aggs)
            }
        )
        .withColumns({tc: F.col(f"_gr_t{i}") for i, (*_, tc) in enumerate(aggs) if tc})
    )
    return out.drop(*keys, *[f"_gr_{t}{i}" for i in range(len(aggs)) for t in "rot"])


def _closed_form_ntile(rn_col: str, n_col: str, n_buckets: int) -> Column:
    """ANSI ``ntile(n_buckets)`` bucket of rank column ``rn_col``
    (1-based) among ``n_col`` rows, as pure column arithmetic with
    exact integer ``div`` throughout: bucket sizes differ by at most
    one, larger buckets first; with fewer rows than buckets, row i
    lands alone in bucket i."""
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
    order-preserving cast to long. The multi-metric ntile sorts all k
    metrics through ONE shared BIGINT key column; a silent
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
    """Exact ``ntile(n) OVER ([PARTITION BY group] ORDER BY metric_i,
    key)`` for SEVERAL metrics of the same frame in ONE range exchange
    (``group_by=[]`` ranks the whole frame).

    Chained `grouped_exact_ntile` calls each pay their own range
    shuffle of the same rows (k metrics → k exchanges). Exploding the
    frame into (metric_id, value) rows and folding the metric id into
    the ranking GROUP makes each (group, metric) its own ranking group,
    so one `grouped_row_number` returns every within-metric rank and
    total, and the closed-form ANSI bucket arithmetic yields each
    quintile/decile. Measured on the RFM segmentation at sf0.1: ~2.3×
    over the chained three-pass form, bit-identical output (the r10
    exchange-sharing experiment adopted in r11 as
    `agg_customer_rfm_segments`, README). Mega-group safe: a group
    bigger than one task spans a partition run and still ranks
    correctly.

    ``metrics`` must be BIGINT-comparable columns (cast dates to epoch
    days, money to integer cents first): all k metrics share one sort
    key column, so their values must survive a lossless cast to long
    with order preserved — ENFORCED at plan time
    (`_validated_long_metrics` rejects fractional/date/string metrics
    with the fix spelled out). Metrics should be non-NULL — NULLs rank
    NULLS-FIRST (Spark ascending default), which matches Spark's own
    ``ntile`` window but NOT a DuckDB oracle's NULLS-LAST default.
    ``key`` must be unique per row — it is the ANSI tie-break that
    makes every assignment deterministic. NULL group values are a
    partition of their own, exactly as in the ANSI window (the kernel's
    struct-keyed joins).

    Returns one row per input row: ``group_by`` + ``key`` + ``carry``
    + ``out_cols[i]`` (int) = the ntile bucket of ``metrics[i]``.

    Scale shape: one explode (k× the KEY frame, still
    dimension-grade), one range exchange + pid-partitioned window, one
    ≤k-wide conditional pivot aggregate back to row grain. The input
    should be materialized by the caller if its lineage is expensive —
    the explode references it once, but the kernel fans the exploded
    frame into two branches.
    """
    if not metrics:
        raise ValueError("grouped_multi_metric_ntiles needs at least one metric in metrics")
    if n_buckets < 1:
        raise ValueError(f"grouped_multi_metric_ntiles needs n_buckets >= 1, got {n_buckets}")
    if len(metrics) != len(out_cols):
        raise ValueError("metrics and out_cols must pair up")
    carry = carry or []
    longs = _validated_long_metrics(df, metrics)
    # Internal names carry the _mm_ prefix so a caller whose key/carry
    # columns are named "mid" or "v" can never collide into an
    # ambiguous-reference AnalysisException.
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
    ranked = grouped_row_number(
        exploded,
        [*group_by, "_mm_mid"],
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
    """Exact ``row_number() OVER ([PARTITION BY group] ORDER BY ...)``
    that survives MEGA-groups — one `_range_scan` of the count monoid
    (``group_by=[]`` ranks the whole frame).

    ``total_col``: also attach the group's total row count — callers
    deriving percent_rank / cume_dist / ntile need it.
    """
    return _range_scan(
        df, group_by, order_by, [("count", None, rn_col, total_col)], num_partitions
    )


def grouped_exact_ntile(
    df: DataFrame,
    n_buckets: int,
    group_by: "list[str]",
    order_by: "list[Column | str]",
    out_col: str,
    num_partitions: int | None = None,
) -> DataFrame:
    """Exact ANSI ``ntile(n) OVER ([PARTITION BY group] ORDER BY ...)``
    (``group_by=[]`` for a global ntile) for inputs too large for one
    task — bit-identical to the windowed oracle via the closed-form
    bucket over (rn, group total): bucket sizes differ by at most one,
    the larger buckets first. NULL group values rank as their own
    partition (ANSI semantics)."""
    if n_buckets < 1:
        raise ValueError(f"grouped_exact_ntile needs n_buckets >= 1, got {n_buckets}")
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
    Here the heavy work is the kernel's ONE range shuffle
    (`_range_slices`: each group occupies a contiguous partition run);
    its per-(partition, group) counts and offsets then locate which
    slices hold each group's boundary ranks, and only THOSE slices are
    sorted and ranked (≤ 2·|pcts| slices per group — the full grouped
    rank's every-partition sort is skipped everywhere else); a codegen
    filter keeps the ≤ 2·|pcts| boundary rows per group and one hash
    aggregate interpolates. Mega-group safe: no task ever holds more
    than one range partition's rows.

    BROADCAST BOUND: many groups are not safe the way one mega-group
    is. The boundary slices (|groups| × ≤ 2·|pcts| rows, each with its
    offset and group total) are broadcast back onto the partitioned
    frame by an explicit hint, which ignores
    ``spark.sql.autoBroadcastJoinThreshold``; keep the group
    cardinality low enough that they stay within that threshold
    (default 10 MB). A high-cardinality ``group_by`` wants the full
    `grouped_row_number` rank instead, whose grouped offset join is a
    shuffled hash join.

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
    order = [F.asc(value_col)] + list(tie_break or [])
    part, slices, keys = _range_slices(
        df.where(F.col(value_col).isNotNull()),
        group_by,
        order,
        [("count", None)],
        num_partitions,
    )

    def _pos(p: float) -> Column:
        return F.lit(1.0) + F.lit(p) * (F.col("_gp_n") - F.lit(1))

    # The slices holding a boundary rank (floor+ceil per fraction):
    # |groups| × ≤2·|pcts| rows, broadcast back onto the layout.
    ranks = F.array(*[f(_pos(p)).cast("long") for p in pcts for f in (F.floor, F.ceil)])
    off = F.coalesce("_gp_off", F.lit(0))
    hit = slices.select(
        *keys,
        F.col("_gr_o0").alias("_gp_off"),
        F.col("_gr_s0").alias("_gp_c"),
        F.col("_gr_t0").alias("_gp_n"),
    ).where(F.exists(ranks, lambda r: (r > off) & (r <= off + F.col("_gp_c"))))
    # Rank ONLY the boundary slices; the offset restores the
    # group-global rank, so picked values are identical to the full
    # grouped row_number's (same arithmetic, restricted to the rows
    # that can match a boundary rank).
    w = Window.partitionBy(*keys).orderBy(*order)
    ranked = part.join(F.broadcast(hit), keys).withColumn(
        "_gp_rn", F.row_number().over(w) + off
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


def global_running_max(
    df: DataFrame,
    order_by: "list[Column | str]",
    value_col: str,
    out_col: str = "running_max",
    num_partitions: int | None = None,
) -> DataFrame:
    """Exact inclusive running MAX of ``value_col`` over a global
    ordering — watermark-frontier reconstruction, high-water-mark
    audits — without a single-partition window: one `_range_scan` of
    the max monoid."""
    return _range_scan(df, [], order_by, [("max", value_col, out_col, None)], num_partitions)


def global_prefix_sums(
    df: DataFrame,
    order_by: "list[Column | str]",
    value_cols: "list[str]",
    out_cols: "list[str]",
    num_partitions: int | None = None,
) -> DataFrame:
    """Exact inclusive prefix sums of each of ``value_cols`` over a
    global ordering — running totals, sequence-packing assignment,
    joint-CDF builds such as the two-sample KS statistic — without a
    single-partition window: one `_range_scan` of the sum monoid, so
    every column shares the one range exchange (N chained one-column
    scans would shuffle the same rows N times)."""
    if not value_cols:
        raise ValueError("global_prefix_sums needs at least one column in value_cols")
    if len(value_cols) != len(out_cols):
        raise ValueError("value_cols and out_cols must pair up")
    aggs = [("sum", v, o, None) for v, o in zip(value_cols, out_cols)]
    return _range_scan(df, [], order_by, aggs, num_partitions)

"""Multi-dimensional data layout (Z-order clustering) for scan
pruning.

Partition pruning and zone maps skip data on ONE leading dimension; a
100 TB table queried by both ``user_id`` and ``value`` ranges needs a
layout where files bound BOTH columns. The Z-order (Morton) curve
interleaves the bits of the dimensions so range-close rows in any
dimension land near each other on the curve; ``repartitionByRange``
on the z-value plus ``sortWithinPartitions`` then yields files whose
per-file min/max shrink in every interleaved dimension — the same
clustering Delta's OPTIMIZE ZORDER BY performs, built from primitives.

The bit-interleave is generated once as SQL text so the engine and
any ANSI oracle evaluate the identical integer formula.

Scaling caveat (standard for Morton curves): interleaving favors the
dimension with more significant bits — a 4-bit user_id interleaved
with a 9-bit value clusters mostly by value. For balanced pruning,
pre-scale each dimension to a comparable range (e.g. its percentile
bucket via ``operators/ranking.grouped_exact_ntile`` with no group
columns and 2^k buckets) before interleaving; the raw form is kept
here because it is a pure row-local integer formula (no extra
shuffle).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from real_time_data_pipeline_spark.session import batch_width

Z_BITS = 16


def z_value_sql(col_a: str, col_b: str, bits: int = Z_BITS) -> str:
    """Morton-interleave SQL expression: bit i of ``col_a`` → bit 2i,
    bit i of ``col_b`` → bit 2i+1. Both inputs must be non-negative
    BIGINT expressions; identical text runs on Spark and DuckDB."""
    terms = []
    for i in range(bits):
        terms.append(
            f"((({col_a} >> {i}) & 1) * (CAST(1 AS BIGINT) << {2 * i}))"
            f" + ((({col_b} >> {i}) & 1) * (CAST(1 AS BIGINT) << {2 * i + 1}))"
        )
    return "(" + " + ".join(terms) + ")"


def zorder_layout(
    df: DataFrame,
    col_a: str,
    col_b: str,
    z_col: str = "_z",
    num_partitions: int | None = None,
) -> DataFrame:
    """Cluster ``df`` along the Z-order curve of two integer columns:
    range-partition + sort within partitions by the interleaved
    z-value, so each output file's zone map bounds BOTH dimensions."""
    n_parts = num_partitions or batch_width(df.sparkSession)
    with_z = df.withColumn(z_col, F.expr(z_value_sql(col_a, col_b)))
    return with_z.repartitionByRange(n_parts, z_col).sortWithinPartitions(z_col)


def compact_parquet(
    spark,
    path: str,
    target_file_bytes: int = 128 * 1024 * 1024,
    partition_cols: "list[str] | None" = None,
) -> int:
    """Compact a small-file parquet table (the streaming-sink
    pathology: every micro-batch appends a file, and a month of
    1-second triggers leaves millions of KB-sized files that drown a
    scan in open/close and task-schedule overhead) into
    ~``target_file_bytes`` files, preserving the partition layout.
    Returns the file count after compaction.

    Scale shape: sizing comes from the FS listing (no data read).
    Flat tables hash-repartition to ceil(bytes/target) tasks. For
    PARTITIONED tables, hashing by the partition columns alone would
    collapse each partition directory to ONE file regardless of size
    (a 5 GB day partition written by one task), so each row gets a
    salt bounded by its own partition's file budget — computed from a
    per-partition-value row count joined back in — and the shuffle
    key is (partition cols, salt): every (value, salt) bucket is one
    task writing one right-sized file. One count aggregate + one
    shuffle, committed with the rename-swap so readers never see a
    half-compacted table and a crash leaves the original intact.

    REFUSES tables managed by a streaming FileStreamSink
    (``_spark_metadata`` present): rewriting their files without
    rewriting the sink's transaction log would make compacted history
    invisible to log-trusting readers. Stop the sink and migrate (or
    compact downstream copies) instead. Run from the scheduler
    (pipelines/schedule) off the hot path; single-writer discipline
    as everywhere in this module.
    """
    from pyspark.sql import functions as F

    from real_time_data_pipeline_spark.streaming.sinks import (
        _detect_partition_cols,
        _hadoop_fs,
        read_layout_preserving,
        replace_parquet,
        state_exists_recovered,
    )

    if not state_exists_recovered(spark, path):
        return 0
    fs, jpath = _hadoop_fs(spark, path)
    if any(
        st.getPath().getName() == "_spark_metadata" for st in fs.listStatus(jpath)
    ):
        raise ValueError(
            f"{path} is managed by a streaming FileStreamSink "
            "(_spark_metadata present); compacting it would orphan the "
            "sink's transaction log and hide compacted files from "
            "log-trusting readers"
        )
    if partition_cols is None:
        partition_cols = _detect_partition_cols(fs, jpath)

    def walk(p, per_file):
        total = 0
        for st in fs.listStatus(p):
            if st.isDirectory():
                total += walk(st.getPath(), per_file)
            elif st.getPath().getName().endswith(".parquet"):
                total += per_file(st)
        return total

    total_bytes = walk(jpath, lambda st: st.getLen())
    # Layout-preserving read: with type inference on, a rewrite would
    # rename type-ambiguous partition dirs (dt=01 → dt=1) — see
    # `read_layout_preserving`.
    df = (
        read_layout_preserving(spark, path)
        if partition_cols
        else spark.read.parquet(path)
    )
    if df.isEmpty():
        # All files empty: bytes_per_row would be 0 and a partitionBy
        # write of zero rows emits no data files at all — the swap
        # would install an unreadable directory (ADVICE r6). A
        # zero-row table is already maximally compact; leave it.
        return walk(jpath, lambda st: 1)

    if partition_cols:
        # Per-partition-value file budgets from row counts scaled by
        # the table-wide bytes/row (exact per-value bytes would need a
        # value<->directory mapping; the estimate only skews file
        # sizes, never correctness).
        counts = df.groupBy(*partition_cols).agg(F.count(F.lit(1)).alias("__rows"))
        total_rows = df.count()
        bytes_per_row = (total_bytes / total_rows) if total_rows else 0.0
        files = counts.withColumn(
            "__files",
            F.greatest(
                F.lit(1),
                F.ceil(F.col("__rows") * F.lit(bytes_per_row) / F.lit(target_file_bytes)),
            ).cast("int"),
        ).drop("__rows")
        n_tasks = max(1, files.agg(F.sum("__files")).first()[0] or 1)
        salted = df.join(F.broadcast(files), partition_cols).withColumn(
            "__salt",
            F.pmod(F.xxhash64(*[F.col(c) for c in df.columns]), F.col("__files")),
        )
        compacted = salted.repartition(
            n_tasks, *partition_cols, F.col("__salt")
        ).drop("__files", "__salt")
    else:
        n_files = max(1, -(-total_bytes // target_file_bytes))  # ceil
        compacted = df.repartition(n_files)
    replace_parquet(compacted, path, partition_cols or None)
    return walk(jpath, lambda st: 1)

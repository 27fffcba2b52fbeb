"""Streaming sinks: parquet append, idempotent upsert, multi-sink fan-out.

Reference sinks rebuilt (SURVEY §2.2):
- K2/K3 parquet append + checkpoint → `parquet_append_sink`;
- K5 foreachBatch JDBC append (which produced duplicate/evolving
  window rows in Postgres — SURVEY §2.6 W3) → `foreach_batch_sink`
  driving `upsert_parquet` in update mode, an IDEMPOTENT merge keyed
  on the window identity: re-delivered micro-batches and update-mode
  re-emissions overwrite instead of duplicating;
- W4 multi-query fan-out → `start_fanout` (one lineage, N sinks, each
  with its own checkpoint).

The upsert merges into a parquet table. Unpartitioned tables use a
write-to-temp + atomic-rename swap (never overwrite-in-place, so a
crash mid-write cannot lose committed rows); partitioned tables merge
ONLY the partitions present in the micro-batch via dynamic partition
overwrite, so per-batch cost is O(touched partitions), not O(table).
Existence checks and renames go through the Hadoop FileSystem API, so
the sink works on HDFS/local identically. On S3-style object stores
rename is copy-based (not atomic) — a 100 TB gold layer there should
swap the merge body for Delta/Iceberg MERGE INTO; the `foreachBatch`
contract and keying logic are identical.
"""

from __future__ import annotations

from collections.abc import Sequence
from functools import reduce

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from real_time_data_pipeline_spark.operators.materialize import reliable_materialize


def with_trigger(writer, trigger: str | None):
    """Apply a trigger policy (reference W5 exposes none — SURVEY §2.6).

    ``trigger``: None → default as-fast-as-available micro-batches;
    "Ns"/"N seconds" → processing-time cadence; "once" → single batch
    then stop (backfill-style); "available-now" → drain all available
    data in bounded batches then stop; "continuous:<interval>" →
    continuous processing with the given checkpoint interval (ms-level
    latency; supported only for map-like stateless queries on
    Kafka-style sources — Spark rejects unsupported plans at start()).
    """
    if trigger is None:
        return writer
    if trigger == "once":
        return writer.trigger(once=True)
    if trigger == "available-now":
        return writer.trigger(availableNow=True)
    if trigger.startswith("continuous:"):
        return writer.trigger(continuous=trigger.split(":", 1)[1])
    return writer.trigger(processingTime=trigger)


def parquet_append_sink(
    df: DataFrame, path: str, checkpoint: str, query_name: str, trigger: str | None = None
) -> StreamingQuery:
    """Append-mode parquet sink with its own checkpoint (bronze/silver)."""
    writer = (
        df.writeStream.format("parquet")
        .outputMode("append")
        .option("path", path)
        .option("checkpointLocation", checkpoint)
        .queryName(query_name)
    )
    return with_trigger(writer, trigger).start()


def _hadoop_fs(spark: SparkSession, path: str):
    """(FileSystem, Path) for ``path`` via the Hadoop FS API — works on
    local paths, HDFS, and any object store with a Hadoop connector,
    unlike ``os.path`` which silently reports remote tables absent."""
    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    return fs, jpath


def table_exists(spark: SparkSession, path: str) -> bool:
    """Filesystem-agnostic parquet-table existence check."""
    fs, jpath = _hadoop_fs(spark, path)
    return bool(fs.exists(jpath))


def _merge_last_writer_wins(
    old: DataFrame | None,
    new: DataFrame,
    keys: Sequence[str],
    order_col: str | None,
) -> DataFrame:
    """One surviving row per key: new batch beats the table; within the
    batch, ``order_col`` (desc) decides, with a deterministic full-row
    hash tie-break so retries reproduce the identical winner."""
    new = new.withColumn("__v", F.lit(1))
    merged = old.withColumn("__v", F.lit(0)).unionByName(new) if old is not None else new
    order = [F.desc("__v")]
    if order_col is not None:
        order.append(F.desc(order_col))
    data_cols = [c for c in merged.columns if c != "__v"]
    order.append(F.desc(F.xxhash64(F.struct(*[F.col(c) for c in data_cols]))))
    w = Window.partitionBy(*keys).orderBy(*order)
    return (
        merged.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .drop("__rn", "__v")
    )


def upsert_parquet(
    batch_df: DataFrame,
    path: str,
    keys: Sequence[str],
    order_col: str | None = None,
    partition_cols: Sequence[str] | None = None,
) -> None:
    """Merge a micro-batch into a parquet table, last-writer-wins per key.

    Crash-safe and object-store-aware:

    - **Unpartitioned** (dimension-sized gold tables): the merged
      result is written to a sibling temp directory first, then swapped
      in with two renames (current → ``__old__``, temp → current) and
      the backup deleted. A crash at any point leaves either the old
      committed table, or the backup that the next call auto-restores —
      never a truncated table. Rename is atomic on HDFS/local; on
      S3-style stores it is copy-based, so use Delta/Iceberg MERGE
      there instead (same foreachBatch contract).
    - **Partitioned** (``partition_cols``): only the partitions present
      in the micro-batch are read, merged, and dynamically overwritten
      — per-batch cost scales with the batch's partitions, not the
      table. COLLECT BOUND CONTRACT: the distinct partition-value
      collect returns at most one row per partition the batch
      touches; ``partition_cols`` must therefore be coarse-grained
      (date/hour), never a raw key — a high-cardinality partition
      column would make this collect (and the table layout itself)
      unbounded.
    - ``order_col`` (e.g. an event-time column) makes "last writer"
      deterministic when one batch carries several rows per key; a
      full-row hash breaks any remaining tie, so a retried batch always
      elects the same winner.
    """
    spark = batch_df.sparkSession
    fs, jpath, jtmp, jold, tmp_path, exists = _swap_paths(spark, path)

    if partition_cols:
        parts = (
            batch_df.select(*partition_cols).distinct().collect()
        )  # micro-batch-bounded
        in_batch = reduce(
            lambda a, b: a | b,
            [
                reduce(
                    lambda a, b: a & b,
                    [F.col(c).eqNullSafe(F.lit(r[c])) for c in partition_cols],
                )
                for r in parts
            ],
            F.lit(False),
        )
        old = spark.read.parquet(path).where(in_batch) if exists else None
        result = _merge_last_writer_wins(old, batch_df, keys, order_col)
        # Dynamic overwrite replaces exactly the touched partitions;
        # materialize first (eagerly, and durably when a checkpoint
        # dir is set) because the plan reads the same path it
        # rewrites.
        (
            reliable_materialize(result)
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy(*partition_cols)
            .parquet(path)
        )
        return

    old = spark.read.parquet(path) if exists else None
    result = _merge_last_writer_wins(old, batch_df, keys, order_col)
    # Never overwrite in place: write the merge beside the table, then
    # swap via rename. A crash at any point leaves a complete table
    # (current, or the __old__ backup auto-restored above). NOTE the
    # swap is two renames, so a CONCURRENT reader can hit a brief
    # path-not-found window between them — this sink assumes the
    # single-writer/reader-retries discipline usual for foreachBatch
    # gold tables; use `merge_upsert_delta` where readers must never
    # observe the gap.
    _swap_write(fs, result, path, tmp_path, jpath, jtmp, jold, exists)


def replace_parquet(df: DataFrame, path: str) -> None:
    """Whole-table replace behind the same crash-safe staged-rename
    swap as `upsert_parquet`, WITHOUT reading or merging the stored
    table.

    For writers whose frame already IS the complete next state: every
    sketch twin reads the state once, merges it in-plan, and re-emits
    every key — routing that through the keyed upsert would re-read
    the same parquet a second time and run a per-key winner election
    whose old side is provably fully overridden, doubling the fixed
    per-batch state I/O for nothing. Callers that do NOT carry every
    stored key (e.g. the retention/zonemap PAIR tables, which emit
    only the batch's touched keys) must keep using `upsert_parquet`
    — this function drops any key absent from ``df``.
    """
    spark = df.sparkSession
    fs, jpath, jtmp, jold, tmp_path, exists = _swap_paths(spark, path)
    _swap_write(fs, df, path, tmp_path, jpath, jtmp, jold, exists)


def committed_marker_check(marker, batch_id: int) -> bool:
    """The sketch twins' exactly-once contract in ONE place (every
    twin stores its last-merged foreachBatch batch_id as an in-table
    marker row): returns True when ``batch_id`` equals the committed
    ``marker`` — a foreachBatch RETRY of the already-merged batch,
    which the caller must skip (idempotent either way, but skipping
    keeps the marker monotone and the write amplification zero) — and
    False when the batch is new (marker is None or batch_id is
    ahead).

    A batch id BELOW the committed marker cannot be a retry
    (foreachBatch re-delivers the same id): the stream's checkpoint
    was reset against existing state. Skipping would silently drop
    those batches' data forever, so this raises instead — the
    operator must delete/repoint either the state path or the
    checkpointLocation. Previously each twin hand-copied this guard
    (ADVICE r10); `tests/test_streaming.py`'s
    checkpoint-reset tests pin the shared contract for all of them.
    """
    if marker is None:
        return False
    if batch_id == marker:
        return True
    if batch_id < marker:
        raise ValueError(
            f"batch_id {batch_id} is below the committed "
            f"marker {marker}: checkpoint/state mismatch "
            "(fresh checkpointLocation over existing state?)"
        )
    return False


# ---------------------------------------------------------------------------
# Shared twin-state commit protocols. The eleven streaming twins use
# three, and every one of them lives below; a twin module supplies only
# its increments, its merge algebra and its probes:
#
# - marker twins (Count-Min, HLL, Bloom, log-histogram, zone-map stats):
#   `merge_marked_state` + `read_marked_state`. The state is one small
#   table holding every key plus a meta row that carries the last
#   merged batch id; each batch re-emits the whole state through one
#   staged-rename swap.
# - (key, src_batch)-partitioned twins (IVF lists, IVF-PQ codes, trade
#   flows, corpus statistics): `commit_partitioned_batch` +
#   `read_partitioned_state` + `compact_partitioned_state`. Each batch
#   writes only its own partitions; the reset guard reads partition
#   directory names.
# - keyed-upsert twins (retention, dedup ingest, zone-map user pairs):
#   `read_state` + `upsert_parquet`, idempotent per key, no marker.
#
# `foreach_batch_sink` drives any of them from a stream.
# ---------------------------------------------------------------------------

COMPACTED_BATCH = -1  # src_batch value reserved for compaction output
MARKER_KEY = -1  # partition-key value reserved for the compaction sentinel


def foreach_batch_sink(
    df: DataFrame,
    merge,
    checkpoint: str,
    query_name: str,
    output_mode: str = "append",
) -> StreamingQuery:
    """Start ``df`` as a foreachBatch query that calls
    ``merge(batch_df, batch_id)`` per micro-batch — the one streaming
    entry point of every twin, the CDC apply and the gold upsert.

    Exactly-once is the merge's job (an in-table marker, a structural
    partition overwrite or a keyed idempotent upsert): foreachBatch
    re-delivers a batch under the same id after a failure. Twins and
    CDC consume append-mode input; the gold upsert passes
    ``output_mode="update"`` to receive re-emitted running aggregates.
    """
    return (
        df.writeStream.foreachBatch(merge)
        .outputMode(output_mode)
        .option("checkpointLocation", checkpoint)
        .queryName(query_name)
        .start()
    )


def merge_marked_state(
    spark: SparkSession,
    state_path: str,
    batch_id: int,
    increments,
    schema: str,
    keys: Sequence[str],
    combine: dict,
    sentinel,
) -> bool:
    """Merge one micro-batch into a marker twin's state table; returns
    False for a retry of the already-merged ``batch_id``.

    The state holds one row per key plus a meta row whose ``keys[0]``
    is ``sentinel`` and whose first ``combine`` column carries the
    last merged batch id; every other column of the meta row is NULL.
    Per batch: the crash-recovering read, the marker check (a retry
    returns False before any write; a batch id below the marker
    raises), ``increments()`` — the batch's cells, called only after
    the check so side writes it makes are skipped on retry — then the
    stored cells and the increments union and group by ``keys`` under
    ``combine`` (column → ``"sum"``/``"min"``/``"max"``, the twin's
    merge algebra), are cast to ``schema`` (a DDL string listing every
    column) and replace the table, meta row included, through one
    staged-rename swap. Marker and cells therefore commit together.
    """
    marker_col = next(iter(combine))
    stored = read_state(spark, state_path)
    if stored is not None:
        marker = (
            stored.where(F.col(keys[0]) == sentinel).agg(F.max(marker_col)).first()[0]
        )
        if committed_marker_check(marker, batch_id):
            return False  # foreachBatch retry of the committed batch
    merged = increments()
    if stored is not None:
        merged = (
            stored.where(F.col(keys[0]) != sentinel)
            .unionByName(merged)
            .groupBy(*keys)
            .agg(*[getattr(F, fn)(c).alias(c) for c, fn in combine.items()])
        )
    # columns absent from the dict row are NULL
    meta = spark.createDataFrame([{keys[0]: sentinel, marker_col: batch_id}], schema)
    out = merged.select(
        *[F.col(f.name).cast(f.dataType) for f in meta.schema.fields]
    ).unionByName(meta)
    replace_parquet(out, state_path)
    return True


def read_marked_state(
    spark: SparkSession, state_path: str, key: str, sentinel
) -> DataFrame:
    """A marker twin's committed cells (meta row excluded), after the
    swap recovery; raises FileNotFoundError naming the path when no
    state exists."""
    stored = read_state(spark, state_path)
    if stored is None:
        raise FileNotFoundError(f"no twin state at {state_path}")
    return stored.where(F.col(key) != sentinel)


def read_state(spark: SparkSession, path: str) -> DataFrame | None:
    """Crash-recovering read of a swap-committed state table.

    Runs the `_swap_paths` restore first (a commit that died between
    the two swap renames leaves the committed table at ``__old__`` —
    every reader of a swap-committed table must recover it, per the
    sinks contract), then returns None ONLY when the table truly does
    not exist. Real read failures PROPAGATE: swallowing one and
    treating it as "first batch" would let a last-writer-wins upsert
    silently overwrite stored state with this batch's version.
    """
    _, _, _, _, _, exists = _swap_paths(spark, path)
    if not exists:
        return None
    return spark.read.parquet(path)


def state_exists_recovered(spark: SparkSession, state_path: str) -> bool:
    """Existence check that FIRST runs the swap-commit crash recovery.
    Every partitioned-state entry point — merge, read, probe, compact
    — goes through here, per the swap-commit contract."""
    return _swap_paths(spark, state_path)[5]


def committed_max_batch(spark: SparkSession, state_path: str):
    """Max src_batch present in a (key, src_batch)-partitioned state
    (None for no state) — read from the PARTITION DIRECTORY NAMES via
    a driver-side Hadoop FS listing, never a Spark job over the data:
    per-batch guard cost is O(partition dirs) (kept small by
    compaction), not O(table). Directories whose src_batch segment
    does not parse are ignored (foreign files can't break the guard
    toward silence — worst case the max is unaffected; the data rows
    themselves are untouched)."""
    if not state_exists_recovered(spark, state_path):
        return None
    fs, _ = _hadoop_fs(spark, state_path)
    jvm = spark._jvm
    glob = jvm.org.apache.hadoop.fs.Path(
        state_path.rstrip("/") + "/*/src_batch=*"
    )
    statuses = fs.globStatus(glob)
    best = None
    if statuses is not None:
        for st in statuses:
            name = st.getPath().getName()  # "src_batch=<N>"
            try:
                val = int(name.split("=", 1)[1])
            except (IndexError, ValueError):
                continue
            best = val if best is None else max(best, val)
    return best


def live_batch_partitions_exist(
    spark: SparkSession, state_path: str, batch_id: int, key_col: str
) -> bool:
    """True iff any NON-SENTINEL (key >= 0) partition directory exists
    for ``src_batch=batch_id`` — a driver-side FS glob, same cost
    class as `committed_max_batch`."""
    fs, _ = _hadoop_fs(spark, state_path)
    jvm = spark._jvm
    glob = jvm.org.apache.hadoop.fs.Path(
        state_path.rstrip("/") + f"/*/src_batch={batch_id}"
    )
    statuses = fs.globStatus(glob)
    if statuses is None:
        return False
    return any(
        st.getPath().getParent().getName() != f"{key_col}={MARKER_KEY}"
        for st in statuses
    )


def read_partitioned_state(
    spark: SparkSession, state_path: str, key_col: str = "cent_id"
) -> DataFrame:
    """A partitioned twin's committed rows, after the swap recovery,
    without the compaction sentinel (``key_col < 0``); raises
    FileNotFoundError naming the path when no state exists."""
    if not state_exists_recovered(spark, state_path):
        raise FileNotFoundError(f"no twin state at {state_path}")
    return spark.read.parquet(state_path).where(F.col(key_col) >= 0)


def _guard_partitioned_commit(
    spark: SparkSession, state_path: str, batch_id: int, key_col: str
) -> None:
    """The partitioned twins' retry/reset guard: raise on a checkpoint
    reset (`committed_marker_check` against the committed max
    src_batch), and on a same-id retry whose live partitions were
    already compacted away. A genuine retry of the newest batch FALLS
    THROUGH — the caller rewrites its partitions, since the previous
    attempt may have committed only some of them.

    Why the compaction case raises (ADVICE r11 #1): if compaction ran
    against its contract (stream not fully committed — e.g. the state
    write landed but the streaming engine's own commit log didn't),
    the newest batch can be redelivered under its old id AFTER its
    partitions were folded into src_batch = -1. Rewriting would then
    ADD the batch on top of the fold that already contains it —
    duplicate rows for the row-preserving index twins, silently
    DOUBLED statistics for the additive twins. So a same-id retry is
    accepted only while the batch's live delta partitions still exist
    (a driver-side directory check)."""
    stored_max = committed_max_batch(spark, state_path)
    committed_marker_check(stored_max, batch_id)
    if (
        stored_max is not None
        and batch_id == stored_max
        and not live_batch_partitions_exist(spark, state_path, batch_id, key_col)
    ):
        raise ValueError(
            f"retry of batch {batch_id} arrived after its partitions "
            f"were compacted away: replaying it would duplicate "
            f"(or, for additive state, double-count) already-folded "
            f"rows. checkpoint/state mismatch — compaction ran before "
            f"the stream fully committed; restore the pre-compaction "
            f"state or rebuild from the corpus."
        )


def _write_partitioned(
    inc: DataFrame, state_path: str, batch_id: int, key_col: str
) -> None:
    """Write ``inc`` as its (key_col, src_batch=batch_id) partitions
    via dynamic partition overwrite."""
    (
        inc.withColumn("src_batch", F.lit(batch_id).cast("bigint"))
        # Cluster by the partition key before the write (guide §6,
        # r15): without it every shuffle task holding rows for a
        # (key, batch) value emits its own file — up to
        # shuffle.partitions tiny files per state partition, paid on
        # every commit AND every read (listing + per-file open). One
        # narrow shuffle of the micro-batch-sized delta buys one file
        # per live partition; rows and values are unchanged, so the
        # structural-idempotency contract (a retry rewrites identical
        # partitions) is untouched.
        .repartition(F.col(key_col), F.col("src_batch"))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(key_col, "src_batch")
        .parquet(state_path)
    )


def commit_partitioned_batch(
    inc: DataFrame, state_path: str, batch_id: int, key_col: str = "cent_id"
) -> bool:
    """The structural-idempotency commit shared by the partitioned
    twins: `_guard_partitioned_commit`, then write ``inc`` — which
    must be a pure deterministic function of the batch — as its
    (key_col, src_batch=batch_id) partitions via dynamic overwrite, so
    a retry replaces exactly its own partitions. Returns True when the
    commit ran.

    ``key_col`` is the state's partition key: ``cent_id`` for the
    vector-index twins, ``bkt`` (hash bucket) for the corpus-stats and
    trade-flow twins — any non-negative integer key works; negative
    values are reserved for the compaction sentinel."""
    _guard_partitioned_commit(inc.sparkSession, state_path, batch_id, key_col)
    _write_partitioned(inc, state_path, batch_id, key_col)
    return True


def commit_partitioned_batches_overlapped(
    slices: "list[DataFrame]",
    state_path: str,
    key_col: str = "cent_id",
    max_workers: int = 2,
) -> None:
    """Replay a KNOWN-FINAL batch sequence through the guarded commit
    with the writes overlapped (guide §2.6: independent jobs from a
    small thread pool back-fill each other's task tails).

    ``slices[b]`` commits as batch id ``b`` through the same guard and
    write as `commit_partitioned_batch`. Each guard runs INLINE in
    submission order — when batch b's guard runs, only writes 0..b−1
    have been submitted, so the observed stored_max is at most b−1 and
    the reset check can never false-fire. Only the WRITE jobs overlap.
    A live stream must keep the strictly sequential
    `commit_partitioned_batch` — micro-batches there are not
    known-final.

    Committer/filesystem assumption: concurrent dynamic-overwrite jobs
    into one table are safe because the batches touch DISJOINT
    (key, src_batch=b) partitions, and Spark's default commit protocol
    stages each job in its own ``.spark-staging-<jobId>`` directory
    before renaming only that job's partitions into place. Both hold
    on HDFS and local filesystems. On object stores where rename is a
    copy, or with a committer that shares one staging area per table,
    pass ``max_workers=1``: the replay is then strictly sequential,
    identical to calling `commit_partitioned_batch` per slice.

    Used by the ingest-state ARTIFACT builds (VERDICT r15 #4): the
    replay's wall-clock was dominated by serial per-commit write jobs.
    """
    from concurrent.futures import ThreadPoolExecutor

    spark = slices[0].sparkSession
    with ThreadPoolExecutor(max_workers=max_workers) as pool:
        futures = []
        for b, inc in enumerate(slices):
            _guard_partitioned_commit(spark, state_path, b, key_col)
            futures.append(pool.submit(_write_partitioned, inc, state_path, b, key_col))
        for f in futures:
            f.result()  # propagate the first failure


def compact_partitioned_state(
    spark: SparkSession,
    state_path: str,
    key_col: str = "cent_id",
    fold=None,
) -> None:
    """Maintenance-window compaction for ANY (key_col, src_batch)-
    partitioned index state (stream PAUSED with its final batch
    committed): fold every per-batch file set into src_batch = -1
    partitions, plus ONE sentinel row under
    (key_col = -1, src_batch = old max) so max(src_batch) — and with
    it the checkpoint-reset guard — is exactly what it was before
    compaction. Committed through the staged-rename swap: a crash at
    any point leaves either the old state or the compacted one, and
    the next entry point's recovery restores a half-swapped table.

    ``fold`` chooses the merge algebra: None preserves rows verbatim
    (the index twins' layout — every non-partition column rides
    through unchanged); an additive twin passes a callable applied to
    the src_batch-stripped live rows (e.g. the corpus-stats
    per-(bkt, term) sum), and the sentinel's payload columns are
    NULLed against the FOLDED schema."""
    old_max = committed_max_batch(spark, state_path)
    if old_max is None:
        raise FileNotFoundError(f"no index state at {state_path}")
    data = spark.read.parquet(state_path).drop("src_batch")
    live = data.where(F.col(key_col) >= 0)
    if fold is not None:
        live = fold(live)
    payload = [f for f in live.schema.fields if f.name != key_col]
    # Sentinel from a constant one-row frame, NOT live.limit(1): a
    # state whose live half is empty (e.g. re-compacting an already
    # fully-compacted guard-only state) must still keep its guard.
    marker = spark.range(1).select(
        F.lit(MARKER_KEY).cast("bigint").alias(key_col),
        *[F.lit(None).cast(f.dataType).alias(f.name) for f in payload],
        F.lit(old_max).cast("bigint").alias("src_batch"),
    )
    compacted = live.withColumn(
        "src_batch", F.lit(COMPACTED_BATCH).cast("bigint")
    ).unionByName(marker)
    fs, jpath, jtmp, jold, tmp_path, exists = _swap_paths(spark, state_path)
    _swap_write(
        fs, compacted, state_path, tmp_path, jpath, jtmp, jold, exists,
        partition_by=[key_col, "src_batch"],
    )


def _swap_paths(spark: SparkSession, path: str):
    """Resolve the swap-commit sibling paths for ``path`` and run
    crash recovery: a previous commit that died between the two swap
    renames leaves the committed table at ``__old__`` — restore it.
    EVERY entry point that reads or rewrites a swap-committed table
    must call this first (a reader that skips it would see the table
    as absent and a writer would silently restart it from one batch).

    Returns (fs, jpath, jtmp, jold, tmp_path, exists).
    """
    fs, jpath = _hadoop_fs(spark, path)
    tmp_path, old_path = path.rstrip("/") + "__tmp__", path.rstrip("/") + "__old__"
    jtmp, jold = _hadoop_fs(spark, tmp_path)[1], _hadoop_fs(spark, old_path)[1]
    if not fs.exists(jpath) and fs.exists(jold):
        fs.rename(jold, jpath)
    return fs, jpath, jtmp, jold, tmp_path, bool(fs.exists(jpath))


def _swap_write(
    fs, result, path, tmp_path, jpath, jtmp, jold, exists, partition_by=None
) -> None:
    """Write ``result`` beside ``path`` then swap via two renames —
    the crash-safe commit shared by every parquet merge sink here."""
    fs.delete(jtmp, True)
    writer = result.write.mode("overwrite")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(tmp_path)
    if exists:
        fs.delete(jold, True)
        fs.rename(jpath, jold)
    fs.rename(jtmp, jpath)
    fs.delete(jold, True)


def _merge_event_time_wins(
    old: DataFrame | None,
    new: DataFrame,
    keys: Sequence[str],
    order_cols: Sequence[str],
) -> DataFrame:
    """One surviving row per key by EVENT-TIME order, not arrival
    order: unlike `_merge_last_writer_wins` (where the new batch
    always beats the table — right for re-emitted running
    aggregates), a CDC changelog must let an already-applied NEWER
    change beat a late-arriving older one, so the merge ranks by
    ``order_cols`` alone with a full-row hash tie-break (retries
    still elect the identical winner)."""
    merged = old.unionByName(new) if old is not None else new
    order: list = [F.desc(c) for c in order_cols]
    order.append(F.desc(F.xxhash64(F.struct(*[F.col(c) for c in merged.columns]))))
    w = Window.partitionBy(*keys).orderBy(*order)
    return (
        merged.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .drop("__rn")
    )


def cdc_upsert_parquet(
    batch_df: DataFrame,
    path: str,
    keys: Sequence[str],
    order_cols: Sequence[str],
    tombstone_col: str,
    n_buckets: int | None = None,
    bucket_col: str = "bkt",
) -> None:
    """Apply a CDC micro-batch (upserts + delete tombstones) to a
    parquet snapshot table — the streaming twin of the
    ``pipeline_cdc_apply`` batch query.

    Semantics: per key, the change with the greatest ``order_cols``
    (event time + a unique change id) wins, whether it arrived in
    this batch or an earlier one — out-of-order and re-delivered
    batches converge to the same state. Tombstone rows
    (``tombstone_col`` true) are RETAINED in the stored table rather
    than dropped: a tombstone that vanished immediately could be
    silently overridden by a late-arriving older upsert. Readers get
    the live view via `current_snapshot`; bound the retained-tombstone
    footprint with `expire_tombstones` once the pipeline's lateness
    horizon has passed (Kafka compaction's delete-retention, same
    idea).

    Scale: pass ``n_buckets`` and the snapshot is stored PARTITIONED
    by a hash bucket of the key (``bucket_col``). Each batch then
    collects only its own distinct buckets (bounded by the batch's key
    count), reads just those partitions, and replaces just those
    partitions — per-batch cost O(touched buckets), never O(snapshot),
    the same layout streaming/dedup_ingest.py uses for its corpus
    state. The bucket replacement is a staged PER-BUCKET rename swap
    (not dynamic partition overwrite, whose delete-then-write window
    can lose a bucket's pre-batch rows to a crash): every bucket is
    always a complete pre- or post-batch directory, interrupted swaps
    are finished on the next call, and batch replay converges.
    Without ``n_buckets`` the whole table is merged under the
    crash-safe `upsert_parquet` swap commit — fine for
    dimension-sized snapshots.
    """
    spark = batch_df.sparkSession
    if tombstone_col not in batch_df.columns:
        # Validated at write time even though only readers consult it:
        # a typo'd flag column would otherwise surface much later as
        # deleted keys served live by current_snapshot.
        raise ValueError(
            f"tombstone_col {tombstone_col!r} not in batch columns "
            f"{batch_df.columns}"
        )
    # Shared-path resolution ALSO runs __old__ crash recovery — the
    # bucketed branch needs it too: expire_tombstones swap-commits
    # even on bucketed layouts, and a merge that missed the restore
    # would silently restart the snapshot from one micro-batch.
    fs, jpath, jtmp, jold, tmp_path, exists = _swap_paths(spark, path)
    if n_buckets is not None:
        # Finish any bucket-level swap a previous run crashed inside
        # of BEFORE probing the snapshot (a half-swapped bucket read
        # as-is would merge against corrupted pre-batch state).
        _recover_bucket_swaps(fs, spark, path)
        batch = batch_df.withColumn(
            bucket_col,
            F.pmod(F.xxhash64(*[F.col(k) for k in keys]), F.lit(n_buckets)).cast("int"),
        )
        old = None
        if exists:
            # COLLECT BOUND CONTRACT: ≤ min(batch keys, n_buckets)
            # values — bucket_col is pmod into the FIXED n_buckets,
            # so this can never grow past the configured bucket total
            touched = [
                r[0] for r in batch.select(bucket_col).distinct().collect()
            ]
            old = spark.read.parquet(path).where(F.col(bucket_col).isin(touched))
        result = _merge_event_time_wins(old, batch, keys, order_cols)
        # Commit: stage the merged touched buckets to a sibling dir,
        # then swap each bucket directory with the same rename
        # discipline as the flat path. Dynamic partition overwrite
        # would delete-then-write each bucket in place — a crash in
        # that window loses the bucket's pre-batch rows and the
        # replayed batch then merges against the corrupted snapshot.
        # With the per-bucket swap, a crash leaves every bucket either
        # fully pre-batch or fully post-batch (recovery above restores
        # any bucket caught mid-rename), and replay converges because
        # the event-time-wins merge is idempotent. Staging also means
        # the write no longer reads the partitions it replaces, so the
        # eager pre-materialization is gone. Same single-writer /
        # reader-retries discipline as the flat swap: a concurrent
        # reader can see a bucket vanish for the instant between its
        # two renames. BUT atomicity here is PER BUCKET, not per
        # table (ADVICE r8): a reader listing between bucket renames
        # — or after a mid-loop crash, until the next batch replays —
        # observes a MIX of pre- and post-batch buckets, unlike the
        # flat path's single table-level swap. Readers needing
        # cross-key snapshot consistency (a report joining rows whose
        # keys hash to different buckets) must either read through
        # `current_snapshot` retried until quiescent, or the writer
        # must route multi-bucket batches through the whole-table
        # swap (`bucket_col=None`), trading rewrite cost for
        # one-rename atomicity.
        fs.delete(jtmp, True)
        result.write.mode("overwrite").partitionBy(bucket_col).parquet(tmp_path)
        if not exists:
            fs.rename(jtmp, jpath)
            return
        old_path = path.rstrip("/") + "__old__"
        fs.mkdirs(jold)
        for st in fs.listStatus(jtmp):
            name = st.getPath().getName()
            if not name.startswith(f"{bucket_col}="):
                continue  # _SUCCESS etc.
            jb_cur = _hadoop_fs(spark, path.rstrip("/") + "/" + name)[1]
            jb_old = _hadoop_fs(spark, old_path + "/" + name)[1]
            fs.delete(jb_old, True)
            if fs.exists(jb_cur):
                fs.rename(jb_cur, jb_old)
            fs.rename(st.getPath(), jb_cur)
            fs.delete(jb_old, True)
        fs.delete(jtmp, True)
        fs.delete(jold, True)
        return
    old = spark.read.parquet(path) if exists else None
    result = _merge_event_time_wins(old, batch_df, keys, order_cols)
    _swap_write(fs, result, path, tmp_path, jpath, jtmp, jold, exists)


def current_snapshot(
    spark: SparkSession, path: str, tombstone_col: str | None = None
) -> DataFrame:
    """Live view of a CDC snapshot table: everything that is not a
    retained delete tombstone. NULL in the tombstone column reads as
    live (upstreams that never delete need no flag maintenance)."""
    df = spark.read.parquet(path)
    if tombstone_col is not None:
        df = df.where(~F.coalesce(F.col(tombstone_col), F.lit(False))).drop(
            tombstone_col
        )
    return df


def expire_tombstones(
    spark: SparkSession,
    path: str,
    tombstone_col: str,
    order_col: str,
    horizon,
    partition_cols: Sequence[str] | None = None,
) -> None:
    """Drop tombstones older than ``horizon`` (exclusive) from a CDC
    snapshot table — safe once no in-flight change can predate the
    horizon (the stream's watermark bound). Same crash-safe swap
    commit as the merge itself. The table's partition layout is
    AUTO-DETECTED from its directory structure (the swap, not dynamic
    overwrite, because a bucket whose rows ALL expire must end up
    deleted, not left stale — but the rewrite must reproduce the
    layout, or the next bucketed merge would leave a mixed-depth
    directory that parquet partition discovery rejects). Pass
    ``partition_cols`` only to override the detection."""
    fs, jpath, jtmp, jold, tmp_path, exists = _swap_paths(spark, path)
    if not exists:
        return
    if partition_cols is None:
        partition_cols = _detect_partition_cols(fs, jpath)
    # Layout-preserving read: the rewrite must reproduce partition
    # directory names exactly (see `read_layout_preserving`).
    df = read_layout_preserving(spark, path) if partition_cols else spark.read.parquet(path)
    keep = ~(
        F.coalesce(F.col(tombstone_col), F.lit(False))
        & (F.col(order_col) < F.lit(horizon))
    )
    result = df.where(keep)
    if partition_cols and result.isEmpty():
        # A partitionBy write of zero rows emits no data files at all
        # (only _SUCCESS) — an unreadable directory. A fully-expired
        # snapshot is semantically an ABSENT table (the next merge
        # recreates it), so delete it through the same crash window
        # the swap uses: back up, then drop the backup.
        fs.delete(jold, True)
        fs.rename(jpath, jold)
        fs.delete(jold, True)
        return
    # No materialization needed: the tmp write executes while the
    # current table is still in place; only then do the renames run.
    _swap_write(
        fs, result, path, tmp_path, jpath, jtmp, jold, True,
        partition_by=partition_cols or None,
    )


def read_layout_preserving(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet`` that keeps partition columns as the EXACT
    directory text, for rewrites that must reproduce the table's
    directory layout.

    Default partition inference parses ``dt=01`` as integer 1 and
    ``flag=true`` as a boolean; a rewrite then emits ``dt=1`` —
    silently renaming partition directories and retyping their values
    (ADVICE r6). This read instead passes a USER-SPECIFIED schema —
    the data columns from one leaf file's footer plus every partition
    column typed string — so Spark skips value inference entirely and
    the partition columns hold the raw directory text (``"01"``),
    letting ``partitionBy`` reproduce the original names
    byte-for-byte. Partition values are never stored inside the data
    files, so data-column types are untouched.

    The schema is scoped to THIS DataFrameReader call — no session
    conf is toggled, so concurrently analyzed reads in the same
    SparkSession are unaffected (ADVICE r8; the previous
    implementation flipped partitionColumnTypeInference at session
    scope and relied on caller serialization).

    Partition column names and their directory order come from one
    leaf data file's relative path (hive-style ``col=value``
    segments — the only layout the engine's writers produce).
    """
    from pyspark.sql.types import StringType, StructField, StructType

    fs, jroot = _hadoop_fs(spark, path)
    # Qualify the root BEFORE the prefix strip below: listStatus
    # returns fully-qualified (scheme-prefixed) child paths, so an
    # unqualified/relative caller path would misalign the character
    # slice and could parse ancestor directories containing '=' as
    # phantom partition columns (ADVICE r8).
    jroot = fs.makeQualified(jroot)

    def _find_leaf(jdir):
        # lexicographically stable walk; partition dirs before files
        for st in fs.listStatus(jdir):
            name = st.getPath().getName()
            if st.isDirectory():
                if name.startswith("_") or name.endswith("__old__"):
                    continue
                leaf = _find_leaf(st.getPath())
                if leaf is not None:
                    return leaf
            elif not name.startswith(("_", ".")):
                return st.getPath()
        return None

    jleaf = _find_leaf(jroot)
    if jleaf is None:
        # empty/absent table: nothing to preserve, plain read
        return spark.read.parquet(path)
    rel = str(jleaf)[len(str(jroot)) :].strip("/")
    dir_segs = rel.split("/")[:-1]
    if not all("=" in seg for seg in dir_segs):
        # Non-hive directory segment under the root: this is not a
        # layout the engine's writers produce — fall back to a plain
        # read rather than silently dropping the segment (which would
        # misalign the inferred partition schema).
        return spark.read.parquet(path)
    part_cols = [seg.split("=", 1)[0] for seg in dir_segs]
    if not part_cols:
        return spark.read.parquet(path)
    data_schema = spark.read.parquet(str(jleaf)).schema
    full = StructType(
        list(data_schema.fields)
        + [StructField(c, StringType(), True) for c in part_cols]
    )
    return spark.read.schema(full).parquet(path)


def _recover_bucket_swaps(fs, spark: SparkSession, path: str) -> None:
    """Finish a per-bucket swap commit that crashed mid-sequence.

    A bucket directory left under ``__old__`` whose twin is missing
    from the table was caught between its two renames — restore it. A
    backup whose twin exists means that bucket's swap completed (or a
    whole-table swap died after its final rename) — the backup is
    stale, drop it. Runs only when BOTH the table and ``__old__``
    exist; the table-missing case is the whole-table restore that
    `_swap_paths` already performs.
    """
    jpath = _hadoop_fs(spark, path)[1]
    old_path = path.rstrip("/") + "__old__"
    jold = _hadoop_fs(spark, old_path)[1]
    if not (fs.exists(jold) and fs.exists(jpath)):
        return
    for st in fs.listStatus(jold):
        name = st.getPath().getName()
        if "=" not in name:
            fs.delete(st.getPath(), True)  # stray commit-metadata file
            continue
        jb_cur = _hadoop_fs(spark, path.rstrip("/") + "/" + name)[1]
        if fs.exists(jb_cur):
            fs.delete(st.getPath(), True)
        else:
            fs.rename(st.getPath(), jb_cur)
    fs.delete(jold, True)


def _detect_partition_cols(fs, jpath) -> "list[str]":
    """Partition columns of an on-disk parquet table, read off its
    ``col=value`` directory levels (depth-first along the first
    subdirectory chain — hive layouts are uniform across siblings)."""
    cols: list[str] = []
    current = jpath
    while True:
        subdirs = [
            st.getPath()
            for st in fs.listStatus(current)
            if st.isDirectory() and "=" in st.getPath().getName()
        ]
        if not subdirs:
            return cols
        cols.append(subdirs[0].getName().split("=", 1)[0])
        current = subdirs[0]


def delta_available(spark: SparkSession) -> bool:
    """True when the delta-spark package AND its JVM classes are on
    this session's classpath (both are required for MERGE INTO)."""
    try:
        import delta  # noqa: F401
    except ImportError:
        return False
    try:
        spark._jvm.io.delta.tables.DeltaTable  # noqa: B018 — probe
        return True
    except Exception:  # pragma: no cover — jar missing
        return False


def merge_upsert_delta(
    batch_df: DataFrame,
    path: str,
    keys: Sequence[str],
    order_col: str | None = None,
) -> None:
    """`upsert_parquet` contract over a Delta table: MERGE INTO.

    The S3-complete variant of the gold upsert — Delta's transaction
    log gives atomic commits on object stores where directory rename
    is copy-based and non-atomic, and concurrent readers always see a
    complete snapshot (no rename-swap window). Package-gated exactly
    like the Kafka connector: call `delta_available` first; the
    foreachBatch contract, keying, and last-writer-wins semantics are
    identical to `upsert_parquet`, so sinks can switch per deployment.

    Idempotent under micro-batch retries: the batch is pre-collapsed
    to one deterministic winner per key (same tie-break as the parquet
    path), then MERGE matches on ``keys`` — re-delivery updates rows
    to the values they already hold.
    """
    from delta.tables import DeltaTable  # gated import

    spark = batch_df.sparkSession
    batch = _merge_last_writer_wins(None, batch_df, keys, order_col)
    if not DeltaTable.isDeltaTable(spark, path):
        batch.write.format("delta").mode("overwrite").save(path)
        return
    target = DeltaTable.forPath(spark, path)
    cond = " AND ".join(f"t.`{k}` = s.`{k}`" for k in keys)
    (
        target.alias("t")
        .merge(batch.alias("s"), cond)
        .whenMatchedUpdateAll()
        .whenNotMatchedInsertAll()
        .execute()
    )


def start_fanout(sinks: Sequence[tuple[DataFrame, dict]]) -> list[StreamingQuery]:
    """Start N streaming queries off (possibly shared) lineages.

    Each entry is (df, writeStream-kwargs-like dict with 'format',
    'outputMode', 'options', 'queryName'). Every query gets its own
    checkpoint — the reference's W4 pattern.
    """
    queries = []
    for df, spec in sinks:
        writer = df.writeStream.format(spec["format"]).outputMode(spec["outputMode"])
        for k, v in spec.get("options", {}).items():
            writer = writer.option(k, v)
        if "queryName" in spec:
            writer = writer.queryName(spec["queryName"])
        queries.append(writer.start())
    return queries

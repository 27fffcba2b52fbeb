"""Streaming sinks: parquet append, foreachBatch, the keyed upsert.

Reference sinks rebuilt (SURVEY §2.2):
- K2/K3 parquet append + checkpoint → `parquet_append_sink`;
- K5 foreachBatch JDBC append (which produced duplicate/evolving
  window rows in Postgres — SURVEY §2.6 W3) → `foreach_batch_sink`
  driving `upsert_parquet` in update mode, an IDEMPOTENT merge keyed
  on the window identity: re-delivered micro-batches and update-mode
  re-emissions overwrite instead of duplicating;
- W4 multi-query fan-out → one `parquet_append_sink` or
  `foreach_batch_sink` query per sink, each with its own checkpoint.

Every keyed merge — the gold upsert, the CDC snapshot
(`cdc_upsert_parquet`) and the dedup-ingest stores — is one kernel,
`_keyed_upsert`: the micro-batch's plan runs once per call (the batch
is persisted, and an EMPTY batch is a no-op that reads nothing,
writes nothing and creates no table), then swap recovery, a read of
the stored rows by path with the batch's schema (for a partitioned
table only the partition directories the batch touches), one winner
per key, and a commit that never overwrites in place. Every write
that replaces part or all of a parquet table (these merges, twin
state, compaction, expiry, the backfill) is a staged-rename swap:
`replace_parquet` swaps the whole table in by two renames;
`replace_partitions` swaps each staged partition directory the same
way, so per-batch cost is O(touched partitions), not O(table), and a
crash leaves every partition complete, pre- or post-commit. Existence checks and renames go through the Hadoop
FileSystem API, so the sinks work on HDFS/local identically. On
S3-style object stores rename is copy-based (not atomic) — a 100 TB
gold layer there should swap the merge body for Delta/Iceberg MERGE
INTO (`merge_upsert_delta`); the `foreachBatch` contract and keying
logic are identical.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery
from pyspark.sql.types import StringType, StructField, StructType

from real_time_data_pipeline_spark.operators.dedup import dedup_deterministic
from real_time_data_pipeline_spark.operators.materialize import cache_scope, persist_tracked


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


BUCKET_COL = "bkt"  # default partition column of hash-bucketed state


def bucket_of(*cols: Column | str, n_buckets: int) -> Column:
    """Deterministic partition bucket for a key tuple."""
    return F.pmod(F.xxhash64(*cols), F.lit(n_buckets)).cast("int")


def touched_buckets(df: DataFrame, col: str = BUCKET_COL) -> list:
    """Distinct ``col`` values of a (small) micro-batch-derived frame.

    COLLECT BOUND CONTRACT: one value per partition the batch touches
    — for a `bucket_of` column at most min(batch key count, n_buckets)
    integers, because the bucket is a pmod into a FIXED count. Never
    partition (and so never collect) on a raw key: the driver-side
    list and the table layout itself would be unbounded.
    """
    return [r[0] for r in df.select(col).distinct().collect()]


def read_buckets(spark: SparkSession, path: str, buckets: list) -> DataFrame:
    """Partition-pruned read of a bucketed table, after the
    `_swap_paths` recovery (a bucket parked mid-swap would otherwise
    read as empty): only the listed `BUCKET_COL` partitions are
    scanned (static partition pruning on the literal IN-list — verify
    with `.explain`'s PartitionFilters). A None in ``buckets`` selects
    the NULL partition, as ``eqNullSafe`` would; an empty list scans
    nothing."""
    _swap_paths(spark, path)
    live = [b for b in buckets if b is not None]
    cond = F.col(BUCKET_COL).isin(live) if live else F.lit(False)
    if len(live) < len(buckets):
        cond = cond | F.col(BUCKET_COL).isNull()
    return spark.read.parquet(path).where(cond)


def _elect_winners(df: DataFrame, keys: Sequence[str], order: "list[Column]") -> DataFrame:
    """One row per key, first by ``order``, then by a full-row hash of
    the data columns (the kernel's ``__v`` rank column excluded), so a
    retried batch elects the identical winner."""
    data_cols = [c for c in df.columns if c != "__v"]
    tie_break = F.desc(F.xxhash64(F.struct(*[F.col(c) for c in data_cols])))
    return dedup_deterministic(df, keys, [*order, tie_break])


def _keyed_upsert(
    batch_df: DataFrame,
    path: str,
    keys: Sequence[str],
    order: "list[Column]",
    partition_col: str | None,
    batch_wins: bool,
) -> None:
    """The one keyed-merge commit behind `upsert_parquet` and
    `cdc_upsert_parquet`: persist, recover, read, elect, swap.

    - The batch's plan runs ONCE: the batch is persisted for the call
      (`cache_scope`, released on return), and `isEmpty` is that run.
      An empty batch returns there — no read, no election, no write,
      no table created — which is the no-data micro-batch a watermarked
      update-mode query delivers after every batch that moves the
      watermark. The touched-partition collect and the write read the
      cache.
    - The read (`_read_stored`: the whole table, or with
      ``partition_col`` only the partitions the batch touches, by path
      with the batch's schema, so no schema-inference job runs)
      recovers an interrupted swap first: reading first would merge
      against half-swapped state. The partition value must be a
      function of the key (a bucket of it, a shard, a window date): a
      key that moved partition would keep its old row in an untouched
      one.
    - ``batch_wins`` ranks every batch row above every stored row
      before ``order`` — last writer wins, right for re-emitted running
      aggregates. Without it ``order`` alone ranks, so an already
      stored newer change beats a late older one (CDC).
    - The commit is `replace_parquet` for a flat table,
      `replace_partitions` for a partitioned one. Both stage the result
      beside the table, so the write never reads the path it rewrites
      (no materialization), and a replay after a crash converges
      because the election is idempotent.
    """
    spark = batch_df.sparkSession
    with cache_scope():
        batch_df = persist_tracked(batch_df)
        if batch_df.isEmpty():
            return
        values = None
        if partition_col is not None:
            values = touched_buckets(
                batch_df.select(F.col(partition_col).cast("string").alias(partition_col)),
                partition_col,
            )
        old = _read_stored(spark, path, batch_df.schema, partition_col, values)
        if batch_wins:
            batch_df = batch_df.withColumn("__v", F.lit(1))
            old = old.withColumn("__v", F.lit(0)) if old is not None else None
            order = [F.desc("__v"), *order]
        merged = old.unionByName(batch_df) if old is not None else batch_df
        result = _elect_winners(merged, keys, order).drop("__v")
        if partition_col is None:
            replace_parquet(result, path)
        else:
            replace_partitions(result, path, [partition_col])


def _read_stored(
    spark: SparkSession,
    path: str,
    schema: StructType,
    partition_col: str | None = None,
    values: list | None = None,
) -> DataFrame | None:
    """The stored rows of a swap-committed table (None if none is
    stored), after the `_swap_paths` recovery, read by path with
    ``schema``: Spark runs no schema-inference job and infers no
    partition types (a string ``dt=01`` would read back as 1).

    Without ``partition_col`` the whole table is read. With it, only
    the partitions named by ``values`` — the partition values as
    Spark's writer renders them (the value cast to string; None for
    NULL) — are read, each existing directory by path with
    ``basePath``, so Spark lists no other partition. Directory names
    are built as that writer builds them, with
    `getPartitionPathString` (escaping; NULL as the default partition
    name)."""
    fs, jpath, *_, exists = _swap_paths(spark, path)
    if not exists:
        return None
    reader = spark.read.schema(schema)
    if partition_col is None:
        return reader.parquet(path)
    utils = spark._jvm.org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
    names = [utils.getPartitionPathString(partition_col, v) for v in values]
    dirs = [f"{path.rstrip('/')}/{n}" for n in names if fs.exists(jpath.suffix("/" + n))]
    if not dirs:
        return None
    return reader.option("basePath", path).parquet(*dirs)


def upsert_parquet(
    batch_df: DataFrame,
    path: str,
    keys: Sequence[str],
    order_col: str | None = None,
    partition_col: str | None = None,
) -> None:
    """Merge a micro-batch into a parquet table, last-writer-wins per key.

    The batch beats the stored table. ``order_col`` (desc, e.g. an
    event-time column) makes "last writer" deterministic when one
    batch carries several rows per key; a full-row hash breaks any
    remaining tie, so a retried batch always elects the same winner.

    One execution of ``batch_df``'s plan per call: the batch is
    persisted for the call, and an empty batch (the no-data
    micro-batch of a watermarked update-mode query) is a no-op — it
    reads nothing, writes nothing and creates no table.

    Unpartitioned (dimension-sized gold tables) the whole table is
    merged and swapped in; with ``partition_col`` only the partitions
    present in the batch are read, merged and swapped, so per-batch
    cost scales with the batch's partitions, not the table
    (`_keyed_upsert`; ``partition_col`` must be coarse — a date, a
    hash bucket — never a raw key). A crash at any point leaves
    complete committed data that the next call recovers, never a
    truncated table. Rename is atomic on HDFS/local; on S3-style
    stores it is copy-based, so use `merge_upsert_delta` there (same
    foreachBatch contract). A CONCURRENT reader can hit a brief
    path-not-found window between the swap's renames: single writer,
    readers retry (`replace_partitions` states the partitioned case).
    """
    order = [F.desc(order_col)] if order_col is not None else []
    _keyed_upsert(batch_df, path, keys, order, partition_col, batch_wins=True)


def replace_parquet(df: DataFrame, path: str, partition_by=None) -> None:
    """Whole-table replace, WITHOUT reading the stored table: ``df`` is
    written beside ``path`` (laid out by ``partition_by``), the table
    parked at ``__old__``, the staged one renamed in, the backup
    dropped; `_swap_paths` finishes a swap a crash interrupted. A
    partitioned backup is given a ``_SUCCESS`` file (Spark's committer
    writes one by default), which marks it a WHOLE table for that
    recovery. A partitioned ``df`` of zero rows stages no partition
    directory, so the table is then ABSENT (never unreadable).

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
    fs, jpath, jtmp, jold, tmp_path, exists = _swap_paths(df.sparkSession, path)
    fs.delete(jtmp, True)
    writer = df.write.mode("overwrite")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(tmp_path)
    if exists:
        fs.delete(jold, True)
        fs.rename(jpath, jold)
        if partition_by:
            fs.createNewFile(jold.suffix("/_SUCCESS"))
    if partition_by and not _staged_partitions(fs, jtmp, partition_by[0]):
        fs.delete(jtmp, True)
    else:
        fs.rename(jtmp, jpath)
    fs.delete(jold, True)


def replace_partitions(df: DataFrame, path: str, partition_by: Sequence[str]) -> None:
    """Replace every top-level ``partition_by[0]`` partition ``df``
    holds with ``df``'s rows for it (its complete next state, laid out
    below it by the rest of ``partition_by``); leave the others.

    Recovery first (`_swap_paths`). ``df`` is
    staged beside the table (a first commit is one rename), then each
    staged top-level partition directory swaps in: current →
    ``__old__``, staged → current, drop the backup. Dynamic partition
    overwrite deletes a partition before its replacement exists; here
    a crash leaves every partition fully pre- or post-commit. An empty
    ``df`` stages no partition directory (read off the listing, no
    extra job), so it changes nothing and never creates a table.

    Concurrency: ONE writer per table — the staging directory
    ``__tmp__`` is shared, and a live partitioned gold upsert and a
    backfill must never commit at once. Each partition is replaced
    atomically, the table is not: a reader
    listing mid-loop, or after a crash until the next commit recovers,
    sees a MIX of pre- and post-commit partitions (ADVICE r8). For
    cross-partition snapshot reads, read until quiescent or keep the
    table flat under `replace_parquet`.
    """
    fs, jpath, jtmp, jold, tmp_path, exists = _swap_paths(df.sparkSession, path)
    fs.delete(jtmp, True)
    df.write.mode("overwrite").partitionBy(*partition_by).parquet(tmp_path)
    staged = _staged_partitions(fs, jtmp, partition_by[0])
    if not staged:
        fs.delete(jtmp, True)
        return
    if not exists:
        fs.rename(jtmp, jpath)
        return
    fs.mkdirs(jold)
    for name in staged:
        # child paths by suffix: one JVM call each, this loop runs per
        # touched partition on every batch
        jb_cur, jb_old = jpath.suffix("/" + name), jold.suffix("/" + name)
        fs.delete(jb_old, True)
        if fs.exists(jb_cur):
            fs.rename(jb_cur, jb_old)
        fs.rename(jtmp.suffix("/" + name), jb_cur)
        fs.delete(jb_old, True)
    fs.delete(jtmp, True)
    fs.delete(jold, True)


def _staged_partitions(fs, jdir, partition_col: str) -> "list[str]":
    """The ``partition_col=`` directory names a write left in ``jdir``."""
    names = [st.getPath().getName() for st in fs.listStatus(jdir)]
    return [n for n in names if n.startswith(f"{partition_col}=")]


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
# three, all of them in this module; a twin module supplies only its
# increments, its merge algebra and its probes:
#
# - marker twins (Count-Min, HLL, Bloom, log-histogram, zone-map stats):
#   `merge_marked_state` + `read_marked_state`. The state is one small
#   table holding every key plus a meta row that carries the last
#   merged batch id; each batch re-emits the whole state through
#   `replace_parquet`.
# - (src_batch, key)-partitioned twins (IVF lists, IVF-PQ codes, trade
#   flows, corpus statistics): `commit_partitioned_batch` +
#   `read_partitioned_state` + `compact_partitioned_state`. The state
#   is laid out ``src_batch=<b>/<key>=<k>/``, so each batch is one
#   top-level directory, committed by one `replace_partitions` swap:
#   a retry replaces exactly its own batch; the reset guard reads the
#   top-level directory names; compaction commits through
#   `replace_parquet`.
# - keyed-upsert state (retention, zone-map user pairs: flat; the four
#   dedup-ingest stores: bucket-partitioned): `upsert_parquet`, read
#   back with `read_state` (None until a non-empty batch commits),
#   idempotent per key, no marker. It is the same
#   `_keyed_upsert` kernel as the CDC snapshot; a partitioned table
#   commits through `replace_partitions`.
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

    Exactly-once is the merge's job (an in-table marker, a per-batch
    partition swap or a keyed idempotent upsert): foreachBatch
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
    if not state_exists_recovered(spark, path):
        return None
    return spark.read.parquet(path)


def state_exists_recovered(spark: SparkSession, state_path: str) -> bool:
    """Existence check that FIRST runs the swap-commit crash recovery.
    Every partitioned-state entry point — merge, read, probe, compact
    — goes through here, per the swap-commit contract."""
    return _swap_paths(spark, state_path)[5]


def committed_max_batch(spark: SparkSession, state_path: str):
    """Max src_batch present in a (src_batch, key)-partitioned state
    (None for no state) — read from the top-level ``src_batch=<N>``
    DIRECTORY NAMES (one driver-side Hadoop listing), never a Spark
    job over the data: per-batch guard cost is O(batch dirs) (kept
    small by compaction), not O(table). Directories whose src_batch
    value does not parse are ignored (foreign files can't break the
    guard toward silence — worst case the max is unaffected; the data
    rows themselves are untouched).

    A state written key-first (``<key>=<k>/src_batch=<b>/``, the
    layout before src_batch led) raises ValueError naming the path: a
    ``src_batch=`` directory committed beside ``<key>=`` ones makes
    Spark reject the whole table as conflicting directory structures.
    The commit guard and compaction both call this before any write."""
    fs, jpath, *_, exists = _swap_paths(spark, state_path)
    if not exists:
        return None
    names = [st.getPath().getName() for st in fs.listStatus(jpath) if st.isDirectory()]
    batches = [n.split("=", 1)[1] for n in names if n.startswith("src_batch=")]
    if not batches and any("=" in n for n in names):
        raise ValueError(
            f"twin state at {state_path} is in the key-first layout "
            f"(<key>=/src_batch=/), which src_batch-first commits cannot "
            f"extend: rebuild the state (replay the stream into an empty "
            f"path)."
        )
    return max((int(v) for v in batches if v.removeprefix("-").isdecimal()), default=None)


def live_batch_partitions_exist(
    spark: SparkSession, state_path: str, batch_id: int, key_col: str
) -> bool:
    """True iff ``src_batch=batch_id`` holds any NON-SENTINEL
    (key >= 0) partition directory — one driver-side listing."""
    fs, jdir = _hadoop_fs(spark, f"{state_path.rstrip('/')}/src_batch={batch_id}")
    return bool(fs.exists(jdir)) and any(
        st.isDirectory() and st.getPath().getName() != f"{key_col}={MARKER_KEY}"
        for st in fs.listStatus(jdir)
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
    THROUGH — the caller swaps its batch directory in again (the
    previous attempt's rows, if any, are replaced whole).

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


def commit_partitioned_batch(
    inc: DataFrame, state_path: str, batch_id: int, key_col: str = "cent_id"
) -> bool:
    """The structural-idempotency commit shared by the partitioned
    twins: `_guard_partitioned_commit`, then ``inc`` — which must be a
    pure deterministic function of the batch — is committed as the
    ``src_batch=batch_id`` directory by `replace_batch_partitions`: one
    staged swap, so a retry replaces exactly its own batch and a crash
    leaves the batch fully pre- or post-commit. Returns True when the
    commit ran (an empty ``inc`` commits nothing and creates no state).

    ``key_col`` is the state's second partition level: ``cent_id`` for
    the vector-index twins, ``bkt`` (hash bucket) for the corpus-stats
    and trade-flow twins — any non-negative integer key works; negative
    values are reserved for the compaction sentinel. ONE writer per
    twin table: every commit stages in the table's one ``__tmp__``."""
    _guard_partitioned_commit(inc.sparkSession, state_path, batch_id, key_col)
    replace_batch_partitions(inc.withColumn("src_batch", F.lit(batch_id)), state_path, key_col)
    return True


def replace_batch_partitions(inc: DataFrame, state_path: str, key_col: str = "cent_id") -> None:
    """Swap ``inc``'s ``src_batch=<b>`` directories (its ``src_batch``
    column, laid out ``src_batch=<b>/<key_col>=<k>/``) into the state
    through one `replace_partitions`, WITHOUT the retry/reset guard.
    Behind `commit_partitioned_batch`; a KNOWN-FINAL replay into an
    empty directory (the ingest-state artifact builds) calls it once
    with every batch's rows."""
    replace_partitions(
        # Cluster by the partition key before the write (guide §6,
        # r15): without it every shuffle task holding rows for a
        # (batch, key) value emits its own file — up to
        # shuffle.partitions tiny files per state partition, paid on
        # every commit AND every read (listing + per-file open). One
        # narrow shuffle of the micro-batch-sized delta buys one file
        # per leaf; rows and values are unchanged, so a retry still
        # rewrites identical partitions.
        inc.repartition(F.col("src_batch"), F.col(key_col)),
        state_path,
        ["src_batch", key_col],
    )


def compact_partitioned_state(
    spark: SparkSession,
    state_path: str,
    key_col: str = "cent_id",
    fold=None,
) -> None:
    """Maintenance-window compaction for ANY (src_batch, key_col)-
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
    replace_parquet(compacted, state_path, ["src_batch", key_col])


def _swap_paths(spark: SparkSession, path: str):
    """Resolve the swap-commit sibling paths for ``path`` and finish
    any commit a crash interrupted (`_recover_swap`). EVERY entry point
    that reads or rewrites a swap-committed table must call this first
    (a reader that skips it would see the table, or a partition of it,
    as absent, and a rewrite would then drop it for good); outside the
    two commits, `state_exists_recovered` and `read_state` are that
    call.

    Returns (fs, jpath, jtmp, jold, tmp_path, exists).
    """
    fs, jpath = _hadoop_fs(spark, path)
    tmp_path, old_path = path.rstrip("/") + "__tmp__", path.rstrip("/") + "__old__"
    jtmp, jold = _hadoop_fs(spark, tmp_path)[1], _hadoop_fs(spark, old_path)[1]
    if fs.exists(jold):
        _recover_swap(fs, jpath, jold)
    return fs, jpath, jtmp, jold, tmp_path, bool(fs.exists(jpath))


def _recover_swap(fs, jpath, jold) -> None:
    """Finish the swap commit whose ``__old__`` backup ``jold`` a crash
    left behind.

    - No table: a `replace_parquet` died between its two renames; the
      backup IS the committed table — restore it.
    - A backup holding anything but ``col=`` directories (data files,
      or a partitioned table's ``_SUCCESS``) is a whole table whose
      swap completed — drop it. Restoring its partitions would bring
      back the ones the new table dropped (expired buckets).
    - Otherwise it is `replace_partitions`' backup: a partition whose
      twin is missing from the table was caught between its two
      renames — restore it; one whose twin exists was swapped — drop it.
    """
    if not fs.exists(jpath):
        fs.rename(jold, jpath)
        return
    parked = [st.getPath() for st in fs.listStatus(jold)]
    if all("=" in jb.getName() for jb in parked):
        for jb_old in parked:
            jb_cur = jpath.suffix("/" + jb_old.getName())
            if not fs.exists(jb_cur):
                fs.rename(jb_old, jb_cur)
    fs.delete(jold, True)


def cdc_upsert_parquet(
    batch_df: DataFrame,
    path: str,
    keys: Sequence[str],
    order_cols: Sequence[str],
    tombstone_col: str,
    n_buckets: int | None = None,
    bucket_col: str = BUCKET_COL,
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
    by `bucket_of` the key (``bucket_col``), the layout
    streaming/dedup_ingest.py uses for its corpus state. Each batch
    then reads and replaces only its own buckets — per-batch cost
    O(touched buckets), never O(snapshot) — through the per-partition
    swap of `replace_partitions`. Without ``n_buckets`` the whole table is
    merged under the flat swap — fine for dimension-sized snapshots.
    """
    if tombstone_col not in batch_df.columns:
        # Validated at write time even though only readers consult it:
        # a typo'd flag column would otherwise surface much later as
        # deleted keys served live by current_snapshot.
        raise ValueError(
            f"tombstone_col {tombstone_col!r} not in batch columns "
            f"{batch_df.columns}"
        )
    partition_col = None
    if n_buckets is not None:
        partition_col = bucket_col
        batch_df = batch_df.withColumn(bucket_col, bucket_of(*keys, n_buckets=n_buckets))
    order = [F.desc(c) for c in order_cols]
    _keyed_upsert(batch_df, path, keys, order, partition_col, batch_wins=False)


def current_snapshot(
    spark: SparkSession, path: str, tombstone_col: str | None = None
) -> DataFrame:
    """Live view of a CDC snapshot table: everything that is not a
    retained delete tombstone. NULL in the tombstone column reads as
    live (upstreams that never delete need no flag maintenance).
    Swap-recovered; raises FileNotFoundError naming the path when no
    snapshot exists (an empty batch creates none)."""
    if not state_exists_recovered(spark, path):
        raise FileNotFoundError(f"no CDC snapshot at {path}")
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
    horizon (the stream's watermark bound). The whole table is
    rewritten through `replace_parquet`, not partition by partition,
    because a bucket whose rows ALL expire must end up deleted, not
    left stale; a snapshot whose rows all expire ends up absent (the
    next merge recreates it). The table's partition layout is
    AUTO-DETECTED from its directory structure — the rewrite must
    reproduce it, or the next bucketed merge would leave a mixed-depth
    directory that parquet partition discovery rejects. Pass
    ``partition_cols`` only to override the detection."""
    if not state_exists_recovered(spark, path):
        return
    if partition_cols is None:
        partition_cols = _detect_partition_cols(*_hadoop_fs(spark, path))
    # Layout-preserving read: the rewrite must reproduce partition
    # directory names exactly (see `read_layout_preserving`).
    df = read_layout_preserving(spark, path) if partition_cols else spark.read.parquet(path)
    keep = ~(
        F.coalesce(F.col(tombstone_col), F.lit(False))
        & (F.col(order_col) < F.lit(horizon))
    )
    # No materialization needed: the staged write executes while the
    # current table is still in place; only then do the renames run.
    replace_parquet(df.where(keep), path, partition_cols or None)


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
    batch = _elect_winners(
        batch_df, keys, [F.desc(order_col)] if order_col is not None else []
    )
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

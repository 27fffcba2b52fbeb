"""SparkSession factory with scale-aware defaults.

The reference never tunes Spark (default 200 shuffle partitions, no AQE
config — BASELINE.md "Shuffle partitions" row). This engine centralizes
session construction so every entry point (tests, bench, driver) gets
the same scale posture:

- AQE on (runtime partition coalescing, skew-join splitting) — on a
  1000-executor cluster this is what keeps one hot key from stalling a
  stage; locally it collapses tiny shuffles.
- UTC session timezone — deterministic event-time semantics across
  driver/oracle/cluster.
- Arrow enabled — any unavoidable pandas-UDF path moves columnar
  batches, never pickled rows.
- Two shuffle widths, because Spark plans batch and streaming
  exchanges differently:

  * **Batch width** = ``spark.sql.adaptive.coalescePartitions.initialPartitionNum``,
    the core count. Batch plans run with AQE on, so it is only the
    width an exchange starts from before coalescing;
    :func:`batch_width` is how operators that size an explicit
    exchange (``repartitionByRange``) read it.
  * **Stream width** = ``spark.sql.shuffle.partitions``: 1 on a
    ``local[*]`` master, the core count otherwise. Spark turns AQE
    off inside every streaming query — the foreachBatch frame
    included — so this is the real fan-out of every micro-batch
    exchange and the number of state-store partitions of every
    stateful operator. It is pinned in a checkpoint's offset log at
    the query's FIRST start; a restart keeps the checkpoint's width
    whatever the session says. A foreachBatch body's own exchanges
    (joins against state tables, a repartition before a write) run at
    this width too; a body doing batch-sized work sizes them with
    :func:`batch_width`.

  ``shuffle_partitions=N`` sets both widths to N. A deployment that
  wants a different stream width alone passes
  ``extra_conf={"spark.sql.shuffle.partitions": "<n>"}`` (or a
  ``--conf`` on spark-submit when it builds its own session) before
  the stream's first start.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

BATCH_WIDTH = "spark.sql.adaptive.coalescePartitions.initialPartitionNum"
STREAM_WIDTH = "spark.sql.shuffle.partitions"

# Defaults chosen for local[N] testing; on a real cluster the same code
# runs with spark-submit --conf overrides (every setting here is a
# plain Spark conf, nothing engine-private).
_DEFAULTS = {
    # --- adaptive execution: the 100 TB safety net ---------------------
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # --- determinism ---------------------------------------------------
    "spark.sql.session.timeZone": "UTC",
    # --- python boundary: Arrow batches only ---------------------------
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # --- scans: keep splits big enough to amortize task overhead -------
    "spark.sql.files.maxPartitionBytes": "134217728",  # 128 MiB
    # parquet footer-level pruning works out of the box; make sure
    # nothing disables vectorized reads
    "spark.sql.parquet.enableVectorizedReader": "true",
    # auto-broadcast threshold: dims like region/nation/supplier must
    # broadcast, never shuffle (10 MiB default is fine; be explicit)
    "spark.sql.autoBroadcastJoinThreshold": "10485760",
    # --- streaming: refuse stateful plans whose results would be wrong
    "spark.sql.streaming.statefulOperator.checkCorrectness.enabled": "true",
    # Cap in-flight UI/event history memory in long local runs.
    "spark.ui.enabled": "false",
    # Reliable-checkpoint files (operators/materialize.py) are deleted
    # once their RDD is GC'd instead of accumulating until session end.
    "spark.cleaner.referenceTracking.cleanCheckpoints": "true",
}


def get_spark(
    app_name: str = "real-time-data-pipeline-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the configured SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (driver
    contract); pass an explicit master URL for cluster deployment.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count() or 4))
    master = master or os.environ.get("SPARK_MASTER", f"local[{cpus}]")

    builder = SparkSession.builder.appName(app_name).master(master)
    conf = dict(_DEFAULTS)
    if master.startswith("local"):
        # In local[N] the driver JVM IS the only executor, and Spark's
        # 1 GiB driver default leaves ~430 MB of unified memory for N
        # concurrent tasks' joins/aggregations/caches — measured on
        # this box (guide §5): constant spill/eviction churn that
        # dominates the dedup/embed families. Size the one JVM like
        # the executor it is. Plain Spark conf, env-overridable; on a
        # real cluster the master is non-local and driver/executor
        # memory comes from spark-submit, so this never applies there.
        # Takes effect only at JVM launch (first session in the
        # process); getOrCreate on a live JVM ignores it, exactly like
        # every other launch-time conf. 4g measured best across the
        # whole 230-query bench: 1g starves concurrent tasks, 10g lets
        # session garbage accumulate into long GC tails that tax the
        # many sub-second queries (A/B'd at 1g/4g/10g over full bench
        # runs, docs/bench/r15_opt_*). On hosts with less than ~5 GB
        # of RAM the 4g default can over-commit or fail JVM launch
        # (ADVICE r15 #4) — set SPARK_GRAFT_DRIVER_MEM=1g (or any
        # size) to override; every knob here is env-first.
        conf["spark.driver.memory"] = os.environ.get(
            "SPARK_GRAFT_DRIVER_MEM", "4g"
        )
        # The ContextCleaner reclaims broadcasts / shuffle files / RDD
        # blocks only when driver GC collects their references. The
        # 1 GiB default heap GC'd constantly (prompt cleanup, terrible
        # memory); a sized heap almost never GCs, so a multi-hundred-
        # query session accumulates dead broadcasts until late queries
        # pay multi-second pauses (measured: the graph family 9.8 ->
        # 26.7 s at the tail of a 230-query bench). Spark's stock
        # answer is periodic GC; its 30 min default is longer than the
        # whole bench — shorten it for local sessions.
        conf.setdefault("spark.cleaner.periodicGC.interval", "90s")
        # ...and make that explicit GC a CONCURRENT G1 cycle instead of
        # a single-threaded stop-the-world full collection: the
        # periodic System.gc() otherwise lands multi-second pauses on
        # whichever query is running when the timer fires (measured:
        # one bench cell absorbed ~19 s). Reference processing (what
        # the cleaner needs) happens in the concurrent cycle too.
        conf.setdefault(
            "spark.driver.extraJavaOptions", "-XX:+ExplicitGCInvokesConcurrent"
        )
        # List partition directories on the driver. Above the threshold
        # (default 32 paths) Spark lists with a Spark job per level —
        # one per src_batch= directory of a (src_batch, key) twin
        # holding more than 32 keys — but a local master's tasks read
        # the same disk the driver does. Measured on a 4-core box
        # (local[4], 10 batches x 69 keys of tiny rows, a warm count):
        # 13 jobs and 3.5-3.6 s at the default, 3 jobs and 0.7-0.8 s
        # with this threshold, which no engine table reaches.
        conf["spark.sql.sources.parallelPartitionDiscovery.threshold"] = "1000000"
    conf.update(width_conf(master, cpus, shuffle_partitions))
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    # Reliable checkpoint dir for iterative queries (graph family —
    # operators/materialize.py): on a cluster point this at shared
    # storage (HDFS/S3) so executor loss recomputes instead of failing;
    # unset, those queries fall back to localCheckpoint.
    ckpt = os.environ.get("SPARK_GRAFT_CHECKPOINT_DIR")
    if ckpt and spark.sparkContext.getCheckpointDir() is None:
        spark.sparkContext.setCheckpointDir(ckpt)
    return spark


def width_conf(
    master: str, cpus: str, shuffle_partitions: int | None = None
) -> dict[str, str]:
    """The batch and stream shuffle widths ``get_spark`` sets (module
    doc). The engine's streams carry small state (the station
    pipeline: one row per station per snapshot), yet every state
    partition costs a task, a state delta with its checksum file and
    the local file system's shell-outs on every micro-batch — so one
    partition is the cheap width on a single local JVM. On a cluster
    the core count keeps the state spread over the executors."""
    if shuffle_partitions is not None:
        return {BATCH_WIDTH: str(shuffle_partitions), STREAM_WIDTH: str(shuffle_partitions)}
    return {BATCH_WIDTH: cpus, STREAM_WIDTH: "1" if master.startswith("local") else cpus}


def batch_width(spark: SparkSession) -> int:
    """The partition count a batch exchange starts from: the batch
    width when the session sets one, else ``spark.sql.shuffle.partitions``
    (a vanilla session, where both are the same number)."""
    return int(spark.conf.get(BATCH_WIDTH, None) or spark.conf.get(STREAM_WIDTH))


ROCKSDB_PROVIDER = (
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
)


def use_rocksdb_state(spark: SparkSession, changelog_checkpointing: bool = True) -> None:
    """Switch streaming state to the RocksDB provider (runtime conf —
    applies to queries started afterwards).

    The default HDFS-backed store keeps every key in executor heap; at
    100 TB-scale state (sessionization, dedup over days of keys) that
    is an OOM, not a tuning problem. RocksDB spills to local disk,
    bounds heap by block cache, and with changelog checkpointing
    uploads per-batch deltas instead of full snapshots.
    """
    spark.conf.set("spark.sql.streaming.stateStore.providerClass", ROCKSDB_PROVIDER)
    spark.conf.set(
        "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled",
        str(changelog_checkpointing).lower(),
    )

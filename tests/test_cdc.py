"""CDC apply: streaming changelog → snapshot table.

Covers the event-time-wins merge (`cdc_upsert_parquet`), tombstone
retention + expiry, and stream/batch parity against the
`pipeline_cdc_apply` registry query — the same rows replayed as
micro-batches must converge to the batch query's snapshot.
"""

import datetime

from pyspark.sql import Row
from pyspark.sql import functions as F

from real_time_data_pipeline_spark.streaming.sinks import (
    cdc_upsert_parquet,
    current_snapshot,
    expire_tombstones,
    foreach_batch_sink,
)
from real_time_data_pipeline_spark.streaming.sources import file_stream
from tests.test_streaming import replay_dir  # noqa: F401  (module-scoped fixture)


def _ts(s: int):
    return datetime.datetime(2024, 1, 1, 0, 0, s)


def _chg(spark, rows):
    return spark.createDataFrame(
        [Row(user_id=k, ts=_ts(t), event_id=e, value=float(v), is_delete=d)
         for (k, t, e, v, d) in rows],
        "user_id bigint, ts timestamp, event_id bigint, value double, is_delete boolean",
    )


def _snap(spark, path):
    return {
        r.user_id: (r.value, r.ts)
        for r in current_snapshot(spark, path, "is_delete").collect()
    }


def test_cdc_tombstone_beats_late_older_upsert(spark, tmp_path):
    """A late-arriving upsert OLDER than an applied tombstone must not
    resurrect the key — the property arrival-order merges get wrong."""
    path = str(tmp_path / "snap")
    cdc_upsert_parquet(
        _chg(spark, [(1, 10, 100, 1.0, False), (1, 20, 101, 0.0, True),
                     (2, 10, 102, 5.0, False)]),
        path, keys=["user_id"], order_cols=["ts", "event_id"],
        tombstone_col="is_delete",
    )
    assert _snap(spark, path) == {2: (5.0, _ts(10))}
    # late batch: older change for the deleted key, newer for key 2
    cdc_upsert_parquet(
        _chg(spark, [(1, 15, 103, 2.0, False), (2, 30, 104, 6.0, False)]),
        path, keys=["user_id"], order_cols=["ts", "event_id"],
        tombstone_col="is_delete",
    )
    assert _snap(spark, path) == {2: (6.0, _ts(30))}
    # tombstone row is RETAINED in storage (so the guard keeps holding)
    stored = spark.read.parquet(path)
    assert stored.where("is_delete").count() == 1


def test_cdc_redelivered_batch_is_idempotent(spark, tmp_path):
    path = str(tmp_path / "snap")
    batch = _chg(spark, [(1, 10, 100, 1.0, False), (1, 12, 101, 2.0, False)])
    for _ in range(3):  # retries converge to the identical state
        cdc_upsert_parquet(
            batch, path, keys=["user_id"], order_cols=["ts", "event_id"],
            tombstone_col="is_delete",
        )
    assert _snap(spark, path) == {1: (2.0, _ts(12))}
    assert spark.read.parquet(path).count() == 1


def test_expire_tombstones_bounds_state(spark, tmp_path):
    path = str(tmp_path / "snap")
    cdc_upsert_parquet(
        _chg(spark, [(1, 10, 100, 1.0, False), (1, 20, 101, 0.0, True),
                     (2, 25, 102, 3.0, True)]),
        path, keys=["user_id"], order_cols=["ts", "event_id"],
        tombstone_col="is_delete",
    )
    # horizon between the two tombstones: only the older one expires
    expire_tombstones(spark, path, "is_delete", "ts", _ts(22))
    stored = spark.read.parquet(path)
    assert stored.where("is_delete").count() == 1
    assert _snap(spark, path) == {}


def test_cdc_stream_matches_batch_query(spark, tmp_path, replay_dir):
    """events replayed as micro-batches through foreach_batch_sink + cdc_upsert_parquet
    converge to exactly the `pipeline_cdc_apply` batch snapshot."""
    from real_time_data_pipeline_spark.queries import REGISTRY

    d, schema = replay_dir
    stream = file_stream(spark, d, schema, max_files_per_trigger=1)
    changelog = stream.where(
        F.col("event_type").isin("purchase", "signup", "error")
    ).select(
        "user_id", "ts", "event_id",
        F.round("value", 6).alias("value"),
        (F.col("event_type") == "error").alias("is_delete"),
    )
    path = str(tmp_path / "cdc_snap")
    q = foreach_batch_sink(
        changelog,
        lambda b, _: cdc_upsert_parquet(
            b, path, keys=["user_id"], order_cols=["ts", "event_id"],
            tombstone_col="is_delete",
        ),
        checkpoint=str(tmp_path / "ck"),
        query_name="cdc_stream",
    )
    q.processAllAvailable()
    q.stop()

    want = {
        r.user_id: (r.last_value, r.updated_at)
        for r in REGISTRY["pipeline_cdc_apply"].fn(spark, "/root/testdata/sf0.001").collect()
    }
    assert _snap(spark, path) == want


def test_cdc_bucketed_layout_and_semantics(spark, tmp_path):
    """Bucketed snapshot: partitioned on disk by the key bucket, same
    event-time-wins + tombstone semantics, batch merges touch only
    their own buckets."""
    import os

    path = str(tmp_path / "snap_bkt")
    kw = dict(keys=["user_id"], order_cols=["ts", "event_id"],
              tombstone_col="is_delete", n_buckets=8)
    cdc_upsert_parquet(
        _chg(spark, [(k, 10, 100 + k, float(k), False) for k in range(1, 7)]),
        path, **kw,
    )
    assert any(d.startswith("bkt=") for d in os.listdir(path))
    # second batch: tombstone one key, update another, late-older a third
    cdc_upsert_parquet(
        _chg(spark, [(1, 20, 201, 0.0, True), (2, 20, 202, 9.0, False),
                     (3, 5, 203, 99.0, False)]),
        path, **kw,
    )
    got = _snap(spark, path)
    assert got[2] == (9.0, _ts(20))      # newer update wins
    assert got[3] == (3.0, _ts(10))      # late older change loses
    assert 1 not in got                  # tombstoned
    assert set(got) == {2, 3, 4, 5, 6}
    # retention preserves the partitioned layout and drops the tombstone
    expire_tombstones(spark, path, "is_delete", "ts", _ts(30))
    assert any(d.startswith("bkt=") for d in os.listdir(path))
    stored = spark.read.parquet(path)
    assert stored.where("is_delete").count() == 0
    assert _snap(spark, path) == got


def test_cdc_bucketed_merge_prunes_partitions(spark, tmp_path):
    """The probe read of the stored snapshot is partition-pruned to
    the micro-batch's own buckets (PartitionFilters on bkt)."""
    path = str(tmp_path / "snap_bkt")
    kw = dict(keys=["user_id"], order_cols=["ts", "event_id"],
              tombstone_col="is_delete", n_buckets=16)
    cdc_upsert_parquet(
        _chg(spark, [(k, 10, 100 + k, float(k), False) for k in range(1, 30)]),
        path, **kw,
    )
    batch = _chg(spark, [(1, 20, 300, 7.0, False)])
    bkt = batch.select(
        F.pmod(F.xxhash64("user_id"), F.lit(16)).cast("int").alias("b")
    ).first().b
    pruned = spark.read.parquet(path).where(F.col("bkt").isin([bkt]))
    plan = pruned._sc._jvm.PythonSQLUtils.explainString(
        pruned._jdf.queryExecution(), "formatted"
    )
    assert "PartitionFilters" in plan and "bkt" in plan
    # and the end-to-end merge still lands the row
    cdc_upsert_parquet(batch, path, **kw)
    assert _snap(spark, path)[1] == (7.0, _ts(20))


def test_cdc_bucketed_crash_recovery_restores_backup(spark, tmp_path):
    """A crash between expire_tombstones' two swap renames leaves the
    snapshot only at __old__; the next bucketed merge must restore it
    rather than silently restarting the table from one micro-batch."""
    import os
    import shutil

    path = str(tmp_path / "snap_bkt")
    kw = dict(keys=["user_id"], order_cols=["ts", "event_id"],
              tombstone_col="is_delete", n_buckets=8)
    cdc_upsert_parquet(
        _chg(spark, [(k, 10, 100 + k, float(k), False) for k in range(1, 6)]),
        path, **kw,
    )
    # simulate the mid-swap crash state
    shutil.move(path, path + "__old__")
    assert not os.path.exists(path)
    cdc_upsert_parquet(_chg(spark, [(9, 20, 200, 9.0, False)]), path, **kw)
    got = _snap(spark, path)
    assert set(got) == {1, 2, 3, 4, 5, 9}  # old snapshot recovered + merged


def test_expiry_crash_after_its_swap_keeps_expired_buckets_gone(
    spark, tmp_path, monkeypatch
):
    """expire_tombstones died after its staged table was renamed in but
    before the pre-expiry backup was dropped. That backup is a whole
    table, so the next merge drops it instead of restoring the buckets
    expiry removed (as a crashed per-bucket swap would be) — also when
    the committer writes no ``_SUCCESS`` file."""
    import os

    import pytest

    from real_time_data_pipeline_spark.streaming import sinks

    kw = dict(keys=["user_id"], order_cols=["ts", "event_id"],
              tombstone_col="is_delete", n_buckets=4)
    path = str(tmp_path / "snap")
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    flag = "mapreduce.fileoutputcommitter.marksuccessfuljobs"
    saved = conf.get(flag)
    conf.set(flag, "false")
    try:
        cdc_upsert_parquet(
            _chg(spark, [(k, 10, 100 + k, float(k), k != 1) for k in range(1, 9)]),
            path, **kw,
        )

        def crash(*_):
            raise RuntimeError("writer died")

        # dies after parking the table at __old__, before the rename in
        monkeypatch.setattr(sinks, "_staged_partitions", crash)
        with pytest.raises(RuntimeError, match="writer died"):
            expire_tombstones(spark, path, "is_delete", "ts", _ts(30))
        monkeypatch.undo()
        os.rename(path + "__tmp__", path)  # the swap's rename in completed
        buckets = {d for d in os.listdir(path) if d.startswith("bkt=")}
        assert buckets < {d for d in os.listdir(path + "__old__") if d.startswith("bkt=")}

        cdc_upsert_parquet(_chg(spark, [(9, 20, 209, 9.0, False)]), path, **kw)
    finally:
        if saved is None:
            conf.unset(flag)
        else:
            conf.set(flag, saved)
    assert spark.read.parquet(path).where("is_delete").count() == 0
    assert _snap(spark, path) == {1: (1.0, _ts(10)), 9: (9.0, _ts(20))}
    assert not os.path.exists(path + "__old__")


def test_expire_tombstones_autodetects_bucketed_layout(spark, tmp_path):
    """Retention called WITHOUT partition_cols on a bucketed snapshot
    must preserve the bkt= layout (a flat rewrite would leave the next
    bucketed merge with a mixed-depth directory parquet rejects)."""
    import os

    path = str(tmp_path / "snap_bkt")
    kw = dict(keys=["user_id"], order_cols=["ts", "event_id"],
              tombstone_col="is_delete", n_buckets=8)
    cdc_upsert_parquet(
        _chg(spark, [(1, 10, 100, 1.0, False), (2, 20, 101, 0.0, True)]),
        path, **kw,
    )
    expire_tombstones(spark, path, "is_delete", "ts", _ts(30))  # no partition_cols
    assert any(d.startswith("bkt=") for d in os.listdir(path))
    cdc_upsert_parquet(_chg(spark, [(3, 30, 102, 3.0, False)]), path, **kw)
    assert _snap(spark, path) == {1: (1.0, _ts(10)), 3: (3.0, _ts(30))}


def test_cdc_rejects_missing_tombstone_column(spark, tmp_path):
    import pytest

    batch = _chg(spark, [(1, 10, 100, 1.0, False)])
    with pytest.raises(ValueError, match="tombstone_col"):
        cdc_upsert_parquet(
            batch, str(tmp_path / "s"), keys=["user_id"],
            order_cols=["ts", "event_id"], tombstone_col="deleted_flag",
        )


def test_cdc_bucketed_merge_rewrites_only_touched_buckets(spark, tmp_path):
    """The O(touched buckets) claim, physically: merging a one-key
    batch must leave every other bucket's files byte-identical and
    untouched on disk (dynamic partition overwrite, not a table
    rewrite)."""
    import os

    path = str(tmp_path / "snap_bkt")
    kw = dict(keys=["user_id"], order_cols=["ts", "event_id"],
              tombstone_col="is_delete", n_buckets=8)
    cdc_upsert_parquet(
        _chg(spark, [(k, 10, 100 + k, float(k), False) for k in range(1, 40)]),
        path, **kw,
    )

    def bucket_files(root):
        out = {}
        for d in os.listdir(root):
            if d.startswith("bkt="):
                full = os.path.join(root, d)
                out[d] = {
                    f: os.stat(os.path.join(full, f)).st_mtime_ns
                    for f in os.listdir(full) if f.endswith(".parquet")
                }
        return out

    before = bucket_files(path)
    batch = _chg(spark, [(1, 20, 500, 42.0, False)])
    touched = "bkt=%d" % batch.select(
        F.pmod(F.xxhash64("user_id"), F.lit(8)).cast("int").alias("b")
    ).first().b
    cdc_upsert_parquet(batch, path, **kw)
    after = bucket_files(path)

    assert before.keys() == after.keys()
    for d in before:
        if d == touched:
            assert before[d] != after[d], "touched bucket must be rewritten"
        else:
            assert before[d] == after[d], f"untouched bucket {d} was rewritten"
    assert _snap(spark, path)[1] == (42.0, _ts(20))


def test_expire_tombstones_fully_expired_bucketed_table_becomes_absent(spark, tmp_path):
    """When EVERY row is an expired tombstone, a partitionBy write of
    zero rows would leave an unreadable directory (no data files) —
    the table must instead become absent, which the next merge
    recreates cleanly."""
    import os

    path = str(tmp_path / "snap_bkt")
    kw = dict(keys=["user_id"], order_cols=["ts", "event_id"],
              tombstone_col="is_delete", n_buckets=4)
    cdc_upsert_parquet(
        _chg(spark, [(1, 10, 100, 0.0, True), (2, 11, 101, 0.0, True)]),
        path, **kw,
    )
    expire_tombstones(spark, path, "is_delete", "ts", _ts(30))
    assert not os.path.exists(path)
    # the maintenance DAG's next step / next merge must both work
    cdc_upsert_parquet(_chg(spark, [(3, 20, 102, 3.0, False)]), path, **kw)
    assert _snap(spark, path) == {3: (3.0, _ts(20))}


def test_cdc_bucketed_commit_is_per_bucket_swap(spark, tmp_path):
    """ADVICE r6 (medium): the bucketed merge must never delete a
    bucket before its replacement is in place. The commit stages
    touched buckets to __tmp__ and swaps each via renames — at every
    point the table holds only complete pre- or post-batch buckets.
    Here: inject the worst crash state (bucket renamed away to
    __old__, replacement not yet installed) and verify the next merge
    restores it and the replayed batch converges to the no-crash
    answer."""
    import os
    import shutil

    kw = dict(keys=["user_id"], order_cols=["ts", "event_id"],
              tombstone_col="is_delete", n_buckets=4)
    b1 = [(k, 10, 100 + k, float(k), False) for k in range(1, 9)]
    b2 = [(1, 20, 201, 0.0, True), (2, 20, 202, 9.0, False),
          (9, 20, 209, 9.9, False)]

    # reference run, no crash
    ref = str(tmp_path / "ref")
    cdc_upsert_parquet(_chg(spark, b1), ref, **kw)
    cdc_upsert_parquet(_chg(spark, b2), ref, **kw)
    want = _snap(spark, ref)

    # crashed run: batch 2 dies with one touched bucket mid-swap —
    # current dir renamed to __old__, replacement never installed
    path = str(tmp_path / "snap")
    cdc_upsert_parquet(_chg(spark, b1), path, **kw)
    victim = next(d for d in os.listdir(path) if d.startswith("bkt="))
    os.makedirs(path + "__old__", exist_ok=True)
    shutil.move(os.path.join(path, victim), os.path.join(path + "__old__", victim))
    # plus leftover staging from the dead writer
    os.makedirs(path + "__tmp__", exist_ok=True)
    with open(os.path.join(path + "__tmp__", "_SUCCESS"), "w"):
        pass

    cdc_upsert_parquet(_chg(spark, b2), path, **kw)  # replay
    assert _snap(spark, path) == want
    assert not os.path.exists(path + "__old__")
    assert not os.path.exists(path + "__tmp__")


def test_cdc_bucketed_completed_swap_backup_is_dropped(spark, tmp_path):
    """Crash AFTER a bucket's swap completed but before its backup was
    deleted: recovery must keep the new bucket and drop the stale
    backup, not resurrect pre-batch rows."""
    import os
    import shutil

    kw = dict(keys=["user_id"], order_cols=["ts", "event_id"],
              tombstone_col="is_delete", n_buckets=4)
    path = str(tmp_path / "snap")
    cdc_upsert_parquet(
        _chg(spark, [(k, 10, 100 + k, float(k), False) for k in range(1, 9)]),
        path, **kw,
    )
    before = _snap(spark, path)
    # stale backup: a COPY of a live bucket left under __old__
    victim = next(d for d in os.listdir(path) if d.startswith("bkt="))
    os.makedirs(path + "__old__", exist_ok=True)
    shutil.copytree(os.path.join(path, victim),
                    os.path.join(path + "__old__", victim))
    cdc_upsert_parquet(_chg(spark, [(1, 20, 300, 7.0, False)]), path, **kw)
    got = _snap(spark, path)
    assert got[1] == (7.0, _ts(20))
    assert {k: v for k, v in got.items() if k != 1} == {
        k: v for k, v in before.items() if k != 1
    }
    assert not os.path.exists(path + "__old__")

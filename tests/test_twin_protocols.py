"""The shared twin commit protocols in streaming/sinks.py, tested across
every merge algebra: crash windows of the staged-rename swap, absent
state, state written in the layout before `merge_marked_state`
existed, the partitioned twins' per-batch swap (crash windows, empty
first batch, key-first state, the one-write known-final replay), and
the per-partition swap of the partitioned keyed upsert.
"""

import datetime as dt
import functools
import os
import re
import shutil

import pytest
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from real_time_data_pipeline_spark.streaming import (
    bloom_ingest,
    corpusstats_ingest,
    countmin_ingest,
    graph_ingest,
    histogram_ingest,
    hll_ingest,
    ivf_ingest,
    ivfpq_ingest,
    zonemap_ingest,
)
from real_time_data_pipeline_spark.streaming.sinks import (
    _hadoop_fs,
    bucket_of,
    commit_partitioned_batch,
    committed_max_batch,
    replace_batch_partitions,
    upsert_parquet,
)

# Batch 0 holds words and shingles no later batch repeats, so a merge
# that lost it shows under the idempotent algebras (max, union) too.
DOCS = [
    [(1, "alpha beta gamma delta epsilon zeta"), (2, "chi psi omega beta gamma delta eta")],
    [(3, "gamma delta epsilon zeta eta theta iota"), (4, "alpha alpha beta kappa lambda mu nu")],
    [(5, "omicron pi rho sigma tau upsilon phi"), (6, "alpha beta gamma delta epsilon zeta")],
]
_T0 = dt.datetime(2024, 3, 1, 12)
EVENTS = [
    [(1, _T0, 10, 1.5), (2, _T0, 11, 0.25)],
    [(3, _T0 + dt.timedelta(days=1), 10, 8.0), (4, _T0, 12, 3.0)],
    [(5, _T0 + dt.timedelta(days=2), 13, 0.75), (6, _T0, 10, 40.0)],
]


def _frames(spark, kind):
    if kind == "docs":
        return [spark.createDataFrame(r, "doc_id long, text string") for r in DOCS]
    return [
        spark.createDataFrame(
            r, "event_id long, ts timestamp, user_id long, value double"
        )
        for r in EVENTS
    ]


def _rows(df):
    return {tuple(r) for r in df.collect()}


def _zm_merge(b, root, i):
    return zonemap_ingest.merge_zonemap_batch(
        b, os.path.join(root, "stats"), os.path.join(root, "users"), i
    )


def _cs_read(spark, root):
    path = os.path.join(root, "state")
    return _rows(corpusstats_ingest.read_term_stats(spark, path)) | _rows(
        corpusstats_ingest.read_corpus_scalars(spark, path)
    )


# One entry per merge algebra: input kind, merge(batch, root, id),
# read(spark, root) -> row set, and the table whose swap is cut.
TWINS = {
    "countmin_sum": (
        "docs",
        lambda b, root, i: countmin_ingest.merge_countmin_batch(b, os.path.join(root, "state"), i),
        lambda spark, root: _rows(countmin_ingest.read_sketch(spark, os.path.join(root, "state"))),
        "state",
    ),
    "hll_max": (
        "docs",
        lambda b, root, i: hll_ingest.merge_hll_batch(b, os.path.join(root, "state"), i),
        lambda spark, root: _rows(hll_ingest.read_registers(spark, os.path.join(root, "state"))),
        "state",
    ),
    "bloom_union": (
        "docs",
        lambda b, root, i: bloom_ingest.merge_bloom_batch(b, os.path.join(root, "state"), i),
        lambda spark, root: _rows(bloom_ingest.read_bloom(spark, os.path.join(root, "state"))),
        "state",
    ),
    "histogram_sum": (
        "events",
        lambda b, root, i: histogram_ingest.merge_histogram_batch(b, os.path.join(root, "state"), i),
        lambda spark, root: _rows(histogram_ingest.read_histogram(spark, os.path.join(root, "state"))),
        "state",
    ),
    "zonemap_composite": (
        "events",
        _zm_merge,
        lambda spark, root: _rows(
            zonemap_ingest.read_zonemap(
                spark, os.path.join(root, "stats"), os.path.join(root, "users")
            )
        ),
        "stats",
    ),
    "corpus_stats_partitioned": (
        "docs",
        lambda b, root, i: corpusstats_ingest.merge_corpus_stats_batch(
            b, os.path.join(root, "state"), i
        ),
        _cs_read,
        "state",
    ),
}

WINDOWS = ("tmp_written", "parked_at_old", "renamed_old_kept")


def _cut_swap(spark, root, pre_root, post_root, swapped, window):
    """Lay out on disk the state a staged-rename swap leaves when it
    dies at ``window``: ``pre_root`` holds the committed state before
    the swapped step, ``post_root`` the state after it. Tables other
    than ``swapped`` are written before the swap, so they are taken
    from ``post_root``."""
    shutil.copytree(pre_root, root)
    for name in os.listdir(post_root):
        if name != swapped:
            shutil.rmtree(os.path.join(root, name), ignore_errors=True)
            shutil.copytree(os.path.join(post_root, name), os.path.join(root, name))
    table = os.path.join(root, swapped)
    staged = table + "__staged"
    shutil.copytree(os.path.join(post_root, swapped), staged)
    fs, jtable = _hadoop_fs(spark, table)
    jtmp, jold, jstaged = (
        _hadoop_fs(spark, p)[1] for p in (table + "__tmp__", table + "__old__", staged)
    )
    # the swap's own steps, stopped at the crash point
    assert fs.rename(jstaged, jtmp)  # merged state fully written to __tmp__
    if window in ("parked_at_old", "renamed_old_kept"):
        assert fs.rename(jtable, jold)  # current -> __old__
    if window == "renamed_old_kept":
        assert fs.rename(jtmp, jtable)  # __tmp__ -> current, backup not yet deleted


@pytest.mark.parametrize("twin", sorted(TWINS))
def test_swap_crash_windows_recover_to_no_crash_state(spark, tmp_path, twin):
    """For every merge algebra: a crash in each window of the
    staged-rename swap, followed by a re-run of the crashed step and
    the next batch, leaves exactly the state of a run without a crash.
    The marker twins' swapped step is the merge of batch 1 (re-run
    under the same id: a retry); the partitioned twin's is the
    compaction, its only swap-committed write. Each reader also names
    the path when the state is absent."""
    kind, merge, read, swapped = TWINS[twin]
    b = _frames(spark, kind)
    partitioned = twin.endswith("_partitioned")

    missing = str(tmp_path / "absent")
    with pytest.raises(FileNotFoundError, match=re.escape(missing)):
        read(spark, missing)

    def setup(root):
        merge(b[0], root, 0)
        if partitioned:
            merge(b[1], root, 1)

    def step(root):
        if partitioned:
            corpusstats_ingest.compact_corpus_stats(spark, os.path.join(root, swapped))
            return None
        return merge(b[1], root, 1)

    pre, post, ref = (str(tmp_path / n) for n in ("pre", "post", "ref"))
    setup(pre)
    setup(post)
    step(post)
    shutil.copytree(post, ref)
    merge(b[2], ref, 2)
    want = read(spark, ref)
    assert want

    for w in WINDOWS:
        root = str(tmp_path / w)
        _cut_swap(spark, root, pre, post, swapped, w)
        ran = step(root)
        if not partitioned:
            # the marker committed with the swap decides: before the
            # second rename the retry merges, after it the retry skips
            assert ran is (w != "renamed_old_kept"), w
        merge(b[2], root, 2)
        assert read(spark, root) == want, w


def test_partitioned_readers_name_the_absent_path(spark, tmp_path):
    """Every partitioned twin's reader goes through the shared
    `read_partitioned_state` and raises naming the path."""
    missing = str(tmp_path / "absent")
    for read in (
        ivf_ingest.read_ivf_state,
        ivfpq_ingest.read_ivfpq_state,
        graph_ingest.read_trade_flows,
        corpusstats_ingest.read_term_stats,
        corpusstats_ingest.read_corpus_scalars,
    ):
        with pytest.raises(FileNotFoundError, match=re.escape(missing)):
            read(spark, missing)


def _cs_slices(spark):
    return [corpusstats_ingest.corpus_stats_increments(d) for d in _frames(spark, "docs")]


def _batch_dirs(path):
    return sorted(d for d in os.listdir(path) if d.startswith("src_batch="))


def test_known_final_replay_matches_sequential_commits(spark, tmp_path):
    """The ingest-state artifact builds' replay — every batch's rows,
    labelled by ``src_batch``, committed by one
    `replace_batch_partitions` — leaves the state that committing the
    batches one by one through `commit_partitioned_batch` leaves:
    the same rows, the same src_batch directories, the same max."""
    slices = _cs_slices(spark)
    seq = str(tmp_path / "seq")
    for i, inc in enumerate(slices):
        commit_partitioned_batch(inc, seq, i, key_col="bkt")

    one = str(tmp_path / "one_write")
    labelled = [inc.withColumn("src_batch", F.lit(i)) for i, inc in enumerate(slices)]
    replace_batch_partitions(functools.reduce(DataFrame.unionByName, labelled), one, "bkt")
    assert _rows(spark.read.parquet(one)) == _rows(spark.read.parquet(seq))
    assert _batch_dirs(one) == _batch_dirs(seq) == [f"src_batch={i}" for i in range(3)]
    assert committed_max_batch(spark, one) == 2


@pytest.mark.parametrize("window", ["tmp_staged", "parked_at_old"])
def test_partitioned_batch_swap_crash_recovers_on_retry(spark, tmp_path, window):
    """A batch commit of a partitioned twin that died mid-swap: with
    the batch staged in ``__tmp__`` and nothing renamed yet, or (on a
    retry of the newest batch) with its ``src_batch=<b>`` directory
    parked under ``__old__``. A retry of the same id, then the next
    batch, leaves exactly the state of a run without a crash, and no
    swap sibling remains."""
    b = _frames(spark, "docs")
    root = str(tmp_path / "ref")
    for i in range(3):
        corpusstats_ingest.merge_corpus_stats_batch(b[i], os.path.join(root, "state"), i)
    want = _cs_read(spark, root)

    root = str(tmp_path / window)
    path = os.path.join(root, "state")
    for i in range(2):
        corpusstats_ingest.merge_corpus_stats_batch(b[i], path, i)
    os.makedirs(path + "__tmp__")
    shutil.copytree(os.path.join(path, "src_batch=1"), os.path.join(path + "__tmp__", "src_batch=1"))
    if window == "parked_at_old":
        os.makedirs(path + "__old__")
        shutil.move(os.path.join(path, "src_batch=1"), path + "__old__")
    else:
        shutil.rmtree(os.path.join(path, "src_batch=1"))  # the first attempt never landed

    assert corpusstats_ingest.merge_corpus_stats_batch(b[1], path, 1) is True  # retry
    corpusstats_ingest.merge_corpus_stats_batch(b[2], path, 2)
    assert _cs_read(spark, root) == want
    assert _batch_dirs(path) == [f"src_batch={i}" for i in range(3)]
    assert not os.path.exists(path + "__old__")
    assert not os.path.exists(path + "__tmp__")


def test_partitioned_twin_after_an_empty_first_batch(spark, sf_dir, tmp_path):
    """A zero-row first batch commits nothing and leaves no state, so
    the reader names the path instead of failing to infer a schema,
    and the next batch is the first commit."""
    from real_time_data_pipeline_spark.operators.similarity import stride_centroids
    from real_time_data_pipeline_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    cents = stride_centroids(emb, "vec_id", "embedding").localCheckpoint()
    path = str(tmp_path / "state")
    assert ivf_ingest.merge_ivf_batch(emb.limit(0), path, 0, cents) is True
    assert not os.path.exists(path)
    with pytest.raises(FileNotFoundError, match=re.escape(path)):
        ivf_ingest.read_ivf_state(spark, path)

    assert ivf_ingest.merge_ivf_batch(emb, path, 1, cents) is True
    got = ivf_ingest.read_ivf_state(spark, path)
    want = ivf_ingest.ivf_state_build(emb, cents).select(*got.columns)
    assert got.count() == emb.count()
    assert got.exceptAll(want).isEmpty() and want.exceptAll(got).isEmpty()
    assert _batch_dirs(path) == ["src_batch=1"]


def test_partitioned_read_lists_on_the_driver(spark, tmp_path):
    """A (src_batch, key) state read on a local master runs the same
    number of jobs at 3 batches as at 6, though every ``src_batch=``
    directory holds more keys than Spark's parallel-listing threshold
    (32): each directory is listed on the driver, not by a listing
    job of its own."""
    import uuid

    from real_time_data_pipeline_spark.streaming.sinks import read_partitioned_state

    sc = spark.sparkContext

    def jobs_of_count(n_batches):
        path = str(tmp_path / f"b{n_batches}")
        spark.range(n_batches * 40).select(
            (F.col("id") / 40).cast("long").alias("src_batch"),
            (F.col("id") % 40).alias("cent_id"),
            F.col("id").alias("v"),
        ).write.partitionBy("src_batch", "cent_id").parquet(path)
        group = f"listing-{uuid.uuid4().hex}"
        sc.setJobGroup(group, "partitioned state read")
        try:
            assert read_partitioned_state(spark, path).count() == n_batches * 40
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return len(sc.statusTracker().getJobIdsForGroup(group))

    assert jobs_of_count(6) == jobs_of_count(3)


def test_partitioned_commit_rejects_state_in_the_key_first_layout(spark, tmp_path):
    """State written key-first (``bkt=<k>/src_batch=<b>/``, the layout
    before src_batch led) gets no src_batch= directory beside it —
    Spark would then reject the whole table: the commit and the
    compaction raise naming the path and leave every file as it was."""
    path = str(tmp_path / "state")
    inc = _cs_slices(spark)[0]
    inc.withColumn("src_batch", F.lit(0)).write.partitionBy("bkt", "src_batch").parquet(path)
    before = _files(str(tmp_path))
    with pytest.raises(ValueError, match=re.escape(path) + ".*rebuild"):
        commit_partitioned_batch(inc, path, 1, key_col="bkt")
    with pytest.raises(ValueError, match=re.escape(path)):
        corpusstats_ingest.compact_corpus_stats(spark, path)
    assert _files(str(tmp_path)) == before


# The marker twins' state layout as written before the shared kernel:
# DDL, meta row for a given batch id, and the batch's cells as tuples
# in DDL column order (increments -> rows).
PREVIOUS_LAYOUTS = {
    "countmin": (
        "docs",
        "salt_id int, bucket bigint, bc bigint",
        lambda bid: (-1, 0, bid),
        countmin_ingest.sketch_increments,
        countmin_ingest.merge_countmin_batch,
        countmin_ingest.read_sketch,
        "salt_id",
        "bc",
    ),
    "hll": (
        "docs",
        "reg bigint, rho bigint",
        lambda bid: (-1, bid),
        hll_ingest.hll_register_increments,
        hll_ingest.merge_hll_batch,
        hll_ingest.read_registers,
        "reg",
        "rho",
    ),
    "bloom": (
        "docs",
        "pos bigint, bid bigint",
        lambda bid: (-1, bid),
        lambda b: bloom_ingest.bloom_bit_increments(b).selectExpr("pos", "0 AS bid"),
        bloom_ingest.merge_bloom_batch,
        bloom_ingest.read_bloom,
        "pos",
        "bid",
    ),
    "histogram": (
        "events",
        "bucket bigint, cnt bigint",
        lambda bid: (-(10**9), bid),
        histogram_ingest.histogram_increments,
        histogram_ingest.merge_histogram_batch,
        histogram_ingest.read_histogram,
        "bucket",
        "cnt",
    ),
    "zonemap": (
        "events",
        zonemap_ingest._STATS_SCHEMA,
        lambda bid: ("\x00meta", bid, None, None, None, None),
        zonemap_ingest.zonemap_increments,
        None,  # two-path merge, wired below
        zonemap_ingest.read_zonemap_stats,
        "part_date",
        "n_rows",
    ),
}


@pytest.mark.parametrize("twin", sorted(PREVIOUS_LAYOUTS))
def test_marker_state_in_previous_layout_still_merges(spark, tmp_path, twin):
    """State committed by the per-twin merge bodies the kernel replaced
    (same columns and types, same sentinel key, marker in the same
    column; Count-Min's meta row had bucket = 0 where the kernel now
    writes NULL) merges the next batch id into the same cells as a
    one-shot build, keeps its schema, and keeps its marker contract."""
    kind, ddl, meta, increments, merge, read, key, marker_col = PREVIOUS_LAYOUTS[twin]
    b = _frames(spark, kind)
    path = str(tmp_path / "state")
    if merge is None:
        users = str(tmp_path / "users")
        upsert_parquet(zonemap_ingest.zonemap_user_pairs(b[0]), users, keys=["part_date", "user_id"])

        def merge(frame, p, i):
            return zonemap_ingest.merge_zonemap_batch(frame, p, users, i)

    cells = [tuple(r) for r in increments(b[0]).collect()]
    spark.createDataFrame(cells + [meta(0)], ddl).write.parquet(path)
    before = spark.read.parquet(path).schema

    assert merge(b[1], path, 1) is True
    got = read(spark, path)
    one_shot = increments(b[0].unionByName(b[1])).select(*got.columns)
    assert _rows(got) == _rows(one_shot)
    stored = spark.read.parquet(path)
    assert stored.schema == before
    sentinel = meta(0)[0]
    assert [r[marker_col] for r in stored.where(stored[key] == sentinel).collect()] == [1]
    assert merge(b[1], path, 1) is False
    with pytest.raises(ValueError, match="checkpoint/state mismatch"):
        merge(b[0], path, 0)


def _bucketed_upsert(spark, rows, path):
    """`upsert_parquet` into a table partitioned by a 4-way key bucket."""
    batch = spark.createDataFrame(rows, "user_id long, ts long, value double")
    upsert_parquet(
        batch.withColumn("bkt", bucket_of("user_id", n_buckets=4)),
        path, keys=["user_id"], order_col="ts", partition_col="bkt",
    )


def _upserted(spark, path):
    return _rows(spark.read.parquet(path).select("user_id", "ts", "value"))


def test_partitioned_upsert_commit_is_per_partition_swap(spark, tmp_path):
    """A partitioned upsert that died with one touched partition parked
    under __old__ (its replacement never installed) and its staging
    dir left behind: the replayed batch restores the partition and
    converges to the no-crash table, and neither directory remains."""
    b1 = [(k, 10, float(k)) for k in range(1, 9)]
    b2 = [(1, 20, 0.5), (2, 20, 9.0), (9, 20, 9.9)]
    ref = str(tmp_path / "ref")
    _bucketed_upsert(spark, b1, ref)
    _bucketed_upsert(spark, b2, ref)

    path = str(tmp_path / "table")
    _bucketed_upsert(spark, b1, path)
    victim = next(d for d in os.listdir(path) if d.startswith("bkt="))
    os.makedirs(path + "__old__")
    shutil.move(os.path.join(path, victim), os.path.join(path + "__old__", victim))
    os.makedirs(path + "__tmp__")
    open(os.path.join(path + "__tmp__", "_SUCCESS"), "w").close()

    _bucketed_upsert(spark, b2, path)  # replay
    assert _upserted(spark, path) == _upserted(spark, ref)
    assert not os.path.exists(path + "__old__")
    assert not os.path.exists(path + "__tmp__")


def test_partitioned_upsert_completed_swap_backup_is_dropped(spark, tmp_path):
    """A partition whose swap completed but whose backup was not yet
    deleted: the next upsert keeps the live partition and drops the
    stale backup instead of resurrecting pre-batch rows."""
    path = str(tmp_path / "table")
    _bucketed_upsert(spark, [(k, 10, float(k)) for k in range(1, 9)], path)
    before = _upserted(spark, path)
    victim = next(d for d in os.listdir(path) if d.startswith("bkt="))
    os.makedirs(path + "__old__")
    shutil.copytree(os.path.join(path, victim), os.path.join(path + "__old__", victim))

    _bucketed_upsert(spark, [(1, 20, 7.0)], path)
    assert _upserted(spark, path) == {r for r in before if r[0] != 1} | {(1, 20, 7.0)}
    assert not os.path.exists(path + "__old__")


def test_partitioned_upsert_matches_the_null_partition(spark, tmp_path):
    """A NULL partition value is a partition like any other: a re-sent
    key in it replaces its row instead of adding a second one."""
    path = str(tmp_path / "table")
    schema = "k long, dt string, v double"
    upsert_parquet(
        spark.createDataFrame([(1, None, 1.0), (2, "a", 2.0)], schema),
        path, keys=["k"], partition_col="dt",
    )
    upsert_parquet(
        spark.createDataFrame([(1, None, 5.0)], schema), path, keys=["k"], partition_col="dt"
    )
    assert _rows(spark.read.parquet(path).select("k", "dt", "v")) == {
        (1, None, 5.0), (2, "a", 2.0)
    }


def test_partitioned_upsert_keeps_a_string_partition_value(spark, tmp_path):
    """A numeric-looking string partition value ("01") is matched as
    written: a re-sent key replaces its row under ``dt=01`` instead of
    landing beside it in a ``dt=1`` directory."""
    path = str(tmp_path / "table")
    schema = "k long, dt string, v double"
    upsert_parquet(
        spark.createDataFrame([(1, "01", 1.0), (2, "01", 2.0)], schema),
        path, keys=["k"], partition_col="dt",
    )
    upsert_parquet(
        spark.createDataFrame([(1, "01", 5.0)], schema), path, keys=["k"], partition_col="dt"
    )
    assert [d for d in os.listdir(path) if d.startswith("dt=")] == ["dt=01"]
    stored = spark.read.schema(schema).parquet(path).select("k", "dt", "v")
    assert _rows(stored) == {(1, "01", 5.0), (2, "01", 2.0)}


def test_partitioned_upsert_after_an_empty_first_batch(spark, tmp_path):
    """A zero-row first batch creates no table, so the next batch is
    the first commit instead of failing to infer a schema."""
    path = str(tmp_path / "table")
    schema = "k long, dt string, v double"
    upsert_parquet(spark.createDataFrame([], schema), path, keys=["k"], partition_col="dt")
    assert not os.path.exists(path)
    upsert_parquet(
        spark.createDataFrame([(1, "a", 1.0), (2, "b", 2.0)], schema),
        path, keys=["k"], partition_col="dt",
    )
    assert _rows(spark.read.parquet(path).select("k", "dt", "v")) == {
        (1, "a", 1.0), (2, "b", 2.0)
    }


def _files(root):
    """(relative path, size, mtime) of every file under ``root``, the
    table's swap siblings included."""
    out = []
    for d, _, names in os.walk(root):
        for n in names:
            st = os.stat(os.path.join(d, n))
            out.append((os.path.relpath(os.path.join(d, n), root), st.st_size, st.st_mtime_ns))
    return sorted(out)


def test_flat_upsert_after_an_empty_first_batch(spark, tmp_path):
    """The flat twin of the partitioned test above: a zero-row first
    batch creates no table, so the next batch is the first commit."""
    path = str(tmp_path / "table")
    schema = "k long, v double"
    upsert_parquet(spark.createDataFrame([], schema), path, keys=["k"])
    assert not os.path.exists(path)
    upsert_parquet(spark.createDataFrame([(1, 1.0), (2, 2.0)], schema), path, keys=["k"])
    assert _rows(spark.read.parquet(path).select("k", "v")) == {(1, 1.0), (2, 2.0)}


def test_flat_upsert_of_an_empty_batch_leaves_the_table_untouched(spark, tmp_path):
    """An empty batch over a stored flat table commits nothing: the
    same part files stay, and no staging or backup directory is left
    beside the table."""
    path = str(tmp_path / "table")
    schema = "k long, v double"
    upsert_parquet(spark.createDataFrame([(1, 1.0), (2, 2.0)], schema), path, keys=["k"])
    before = _files(str(tmp_path))
    upsert_parquet(spark.createDataFrame([], schema), path, keys=["k"])
    assert _files(str(tmp_path)) == before
    assert sorted(os.listdir(tmp_path)) == ["table"]


@pytest.mark.parametrize("partition_col", ["p", None])
def test_upsert_executes_the_batch_plan_once(spark, tmp_path, partition_col):
    """Each upsert runs the batch's plan once: a Python UDF in the
    batch runs once per batch row, on the first commit and on a merge
    into stored rows, partitioned or flat."""
    from pyspark.sql import functions as F

    calls = spark.sparkContext.accumulator(0)

    def part_of(k):
        calls.add(1)
        return k % 3

    part = F.udf(part_of, "long")
    path = str(tmp_path / "table")
    for lo, hi in [(0, 20), (10, 40)]:
        before = calls.value
        batch = spark.range(lo, hi).withColumn("p", part("id"))
        upsert_parquet(batch, path, keys=["id"], partition_col=partition_col)
        assert calls.value - before == hi - lo
    assert spark.read.parquet(path).count() == 40


def test_backfill_restores_a_day_parked_mid_swap(spark, tmp_path):
    """A backfill re-run that died mid-swap — the day's gold partition
    parked under ``gold__old__``, its staging dir left behind: the
    next backfill of another day restores the parked day, and a replay
    of the crashed day leaves exactly the gold of a run without a
    crash."""
    from real_time_data_pipeline_spark.jobs.backfill import backfill_day
    from real_time_data_pipeline_spark.schemas import STATION_STATUS_RAW_SCHEMA

    raw = spark.createDataFrame(
        [
            ("a", "3", None, "9", "1", "1", "1", "1715012345"),  # 2024-05-06
            ("b", "2", None, "8", "1", "1", "1", "1715012400"),
            ("c", "1", None, "4", "1", "1", "1", "1714900000"),  # 2024-05-05
        ],
        STATION_STATUS_RAW_SCHEMA,
    )

    def backfill(root, day):
        backfill_day(raw, day, os.path.join(root, "silver"), os.path.join(root, "gold"))
        return _rows(spark.read.parquet(os.path.join(root, "gold")))

    ref = str(tmp_path / "ref")
    backfill(ref, "2024-05-06")
    want = backfill(ref, "2024-05-05")

    gold = str(tmp_path / "crash" / "gold")
    backfill(str(tmp_path / "crash"), "2024-05-06")
    os.makedirs(gold + "__old__")
    shutil.move(os.path.join(gold, "date=2024-05-06"), gold + "__old__")
    os.makedirs(gold + "__tmp__")
    open(os.path.join(gold + "__tmp__", "_SUCCESS"), "w").close()

    assert backfill(str(tmp_path / "crash"), "2024-05-05") == want
    assert backfill(str(tmp_path / "crash"), "2024-05-06") == want  # replay
    assert not os.path.exists(gold + "__old__")
    assert not os.path.exists(gold + "__tmp__")


def test_compaction_restores_a_day_parked_mid_swap(spark, tmp_path):
    """A day that a crashed partition swap left under ``__old__``
    survives a compaction run before the next backfill: the compaction
    restores it before reading the table, instead of rewriting the
    table without it and dropping the backup."""
    from pyspark.sql import functions as F

    from real_time_data_pipeline_spark.operators.layout import compact_parquet

    path = str(tmp_path / "gold")
    day = F.date_add(F.lit("2024-05-05").cast("date"), (F.col("id") % 3).cast("int"))
    spark.range(30).withColumn("date", day).write.partitionBy("date").parquet(path)
    os.makedirs(path + "__old__")
    shutil.move(os.path.join(path, "date=2024-05-06"), path + "__old__")

    compact_parquet(spark, path)
    assert sorted(d for d in os.listdir(path) if d.startswith("date=")) == [
        "date=2024-05-05", "date=2024-05-06", "date=2024-05-07"
    ]
    assert _rows(spark.read.parquet(path).select("id")) == {(i,) for i in range(30)}
    assert not os.path.exists(path + "__old__")

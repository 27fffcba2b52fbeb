"""Z-order layout: the clustering must actually bound BOTH dimensions
per output partition — the property that makes multi-dim data
skipping work — not just compute a curve value."""

from pyspark.sql import functions as F

from real_time_data_pipeline_spark.operators.layout import zorder_layout
from real_time_data_pipeline_spark.sources.tables import load_table


def _partition_areas(df, n_parts):
    spans = (
        df.withColumn("_pid", F.spark_partition_id())
        .groupBy("_pid")
        .agg(
            (F.max("user_id") - F.min("user_id") + 1).alias("du"),
            (F.max("vf") - F.min("vf") + 1).alias("dv"),
        )
        .collect()
    )
    return [(r.du, r.dv) for r in spans]


def test_zorder_partitions_bound_the_non_sort_dimension(spark):
    """A user_id-sorted layout leaves every partition spanning the FULL
    value range (a value-filtered scan prunes nothing); the z-ordered
    layout must bound the value dimension for the typical partition.
    (The test data is value-dominant — value has ~9 significant bits
    to user_id's 4 — so the curve's wins show on the value axis; see
    the operator docstring on pre-scaling dims for balanced wins.)"""
    ev = load_table(spark, "/root/testdata/sf0.001", "events").select(
        "user_id", F.expr("CAST(floor(value) AS BIGINT)").alias("vf")
    )
    n_parts = 8
    gv = ev.agg((F.max("vf") - F.min("vf") + 1).alias("gv")).first().gv

    z_areas = _partition_areas(
        zorder_layout(ev, "user_id", "vf", num_partitions=n_parts), n_parts
    )
    single = ev.repartitionByRange(n_parts, "user_id").sortWithinPartitions("user_id")
    s_areas = _partition_areas(single, n_parts)

    s_dvs = sorted(dv for _, dv in s_areas)
    z_dvs = sorted(dv for _, dv in z_areas)
    # user-sorted: the value dimension is unbounded in (nearly) every partition
    assert s_dvs[len(s_dvs) // 2] > 0.8 * gv
    # z-ordered: the median partition bounds the value dimension tightly
    assert z_dvs[len(z_dvs) // 2] <= gv / 4


def test_compact_parquet_reduces_files_and_preserves_data(spark, tmp_path):
    """Many micro-batch-sized files collapse to ~target-sized few;
    rows and values survive byte-identically; swap commit leaves no
    temp/backup dirs behind."""
    import os

    from real_time_data_pipeline_spark.operators.layout import compact_parquet

    path = str(tmp_path / "small_files")
    for i in range(12):  # 12 tiny append commits = 12+ files
        spark.range(i * 100, (i + 1) * 100).withColumn(
            "v", F.col("id") * 2
        ).coalesce(1).write.mode("append").parquet(path)
    before = sum(f.endswith(".parquet") for f in os.listdir(path))
    assert before >= 12

    n_after = compact_parquet(spark, path, target_file_bytes=1 << 30)
    assert n_after < before
    assert n_after == sum(f.endswith(".parquet") for f in os.listdir(path))
    got = {(r.id, r.v) for r in spark.read.parquet(path).collect()}
    assert got == {(i, i * 2) for i in range(1200)}
    assert not os.path.exists(path + "__tmp__")
    assert not os.path.exists(path + "__old__")


def test_compact_parquet_preserves_partition_layout(spark, tmp_path):
    import os

    from real_time_data_pipeline_spark.operators.layout import compact_parquet

    path = str(tmp_path / "part_small")
    for i in range(6):
        (
            spark.range(i * 50, (i + 1) * 50)
            .withColumn("shard", (F.col("id") % 3).cast("int"))
            .repartition(2)
            .write.mode("append")
            .partitionBy("shard")
            .parquet(path)
        )
    compact_parquet(spark, path, target_file_bytes=1 << 30)
    assert sorted(
        d for d in os.listdir(path) if d.startswith("shard=")
    ) == ["shard=0", "shard=1", "shard=2"]
    got = {(r.id, r.shard) for r in spark.read.parquet(path).collect()}
    assert got == {(i, i % 3) for i in range(300)}


def test_compact_parquet_splits_large_partitions_by_target(spark, tmp_path):
    """A partition directory bigger than the target must come out as
    MULTIPLE right-sized files, not one file per partition value."""
    import os

    from real_time_data_pipeline_spark.operators.layout import compact_parquet

    path = str(tmp_path / "skewed")
    (
        spark.range(0, 20000)
        .withColumn("shard", (F.col("id") % 2).cast("int"))
        .withColumn("pad", F.sha2(F.col("id").cast("string"), 256))
        .write.partitionBy("shard")
        .parquet(path)
    )
    # pick a target ~1/4 of a partition's bytes -> expect >=2 files/dir
    dir0 = os.path.join(path, "shard=0")
    part_bytes = sum(
        os.path.getsize(os.path.join(dir0, f))
        for f in os.listdir(dir0) if f.endswith(".parquet")
    )
    compact_parquet(spark, path, target_file_bytes=max(1, part_bytes // 4))
    for d in ("shard=0", "shard=1"):
        files = [f for f in os.listdir(os.path.join(path, d)) if f.endswith(".parquet")]
        assert len(files) >= 2, f"{d} collapsed to one file despite small target"
    got = spark.read.parquet(path)
    assert got.count() == 20000
    assert got.select(F.count_distinct("id")).first()[0] == 20000


def test_compact_parquet_refuses_filestreamsink_tables(spark, tmp_path):
    import os

    import pytest

    from real_time_data_pipeline_spark.operators.layout import compact_parquet

    path = str(tmp_path / "sinkish")
    spark.range(10).write.parquet(path)
    os.makedirs(os.path.join(path, "_spark_metadata"))
    with pytest.raises(ValueError, match="_spark_metadata"):
        compact_parquet(spark, path)


def test_compact_parquet_preserves_type_ambiguous_partition_values(spark, tmp_path):
    """ADVICE r6: a string partition value that PARSES as a number
    (dt=01) must come back under the identical directory name after
    compaction — type inference on the rewrite read would silently
    rename it to dt=1."""
    import os

    from real_time_data_pipeline_spark.operators.layout import compact_parquet

    path = str(tmp_path / "t")
    df = spark.createDataFrame(
        [("01", i, float(i)) for i in range(20)]
        + [("2", i, float(i)) for i in range(20)],
        "dt string, k int, v double",
    )
    df.repartition(4).write.partitionBy("dt").parquet(path)
    assert sorted(d for d in os.listdir(path) if d.startswith("dt=")) == [
        "dt=01", "dt=2"
    ]
    compact_parquet(spark, path, target_file_bytes=1 << 30)
    assert sorted(d for d in os.listdir(path) if d.startswith("dt=")) == [
        "dt=01", "dt=2"
    ]
    got = spark.read.parquet(path)
    assert got.count() == 40
    # exact stored values visible through an inference-free read
    # (a default read re-parses "01" as 1 — reader-side behavior,
    # orthogonal to the layout which must stay byte-identical)
    exact = spark.read.schema("k int, v double, dt string").parquet(path)
    assert {r.dt for r in exact.select("dt").distinct().collect()} == {"01", "2"}
    # conf restored for the rest of the session
    assert (
        spark.conf.get("spark.sql.sources.partitionColumnTypeInference.enabled")
        != "false"
    )


def test_compact_parquet_zero_row_partitioned_table_stays_readable(spark, tmp_path):
    """ADVICE r6: an existing-but-empty partitioned table (all files
    zero-row) must not be swapped for a dataless directory parquet
    cannot read — compaction leaves it as-is."""
    from real_time_data_pipeline_spark.operators.layout import compact_parquet

    path = str(tmp_path / "t")
    # a table whose data files hold ZERO rows but a real schema (an
    # all-rows-expired or fully-filtered rewrite leaves exactly this);
    # an empty flat write emits one schema-bearing zero-row file
    df = spark.createDataFrame([], "dt string, k int, v double")
    df.coalesce(1).write.parquet(path)
    assert spark.read.parquet(path).count() == 0  # readable before
    # pre-fix: bytes_per_row=0 → zero-row partitionBy rewrite → swap
    # installs a directory with no data files, which read.parquet rejects
    compact_parquet(spark, path)
    assert spark.read.parquet(path).count() == 0  # still readable after


def test_expire_tombstones_preserves_type_ambiguous_partition_values(spark, tmp_path):
    """Same inference hazard on the retention rewrite path."""
    import datetime
    import os

    from real_time_data_pipeline_spark.streaming.sinks import expire_tombstones

    path = str(tmp_path / "t")
    ts = datetime.datetime(2024, 1, 1)
    df = spark.createDataFrame(
        [("07", 1, ts, False), ("07", 2, ts, True), ("8", 3, ts, False)],
        "dt string, k int, ts timestamp, is_delete boolean",
    )
    df.write.partitionBy("dt").parquet(path)
    expire_tombstones(
        spark, path, "is_delete", "ts", datetime.datetime(2024, 2, 1)
    )
    assert sorted(d for d in os.listdir(path) if d.startswith("dt=")) == [
        "dt=07", "dt=8"
    ]
    got = spark.read.parquet(path)
    assert got.where("is_delete").count() == 0
    assert got.count() == 2


def test_layout_preserving_rewrite_ancestor_dir_with_equals(spark, tmp_path):
    """ADVICE r8: an '=' in an ANCESTOR directory of the table root
    (e.g. /data/ds=2024/tbl) must never be parsed as a phantom
    partition column by a layout-preserving rewrite — only directories
    BELOW the root count."""
    import os

    from real_time_data_pipeline_spark.operators.layout import compact_parquet

    root = tmp_path / "ds=2024" / "tbl"
    df = spark.createDataFrame(
        [("01", i, float(i)) for i in range(5)], "dt string, k int, v double"
    )
    df.write.partitionBy("dt").parquet(str(root))
    compact_parquet(spark, str(root), target_file_bytes=1 << 30)
    # exactly the real partition column, holding the raw text: a
    # phantom ``ds`` would have been written as a directory level
    assert sorted(d for d in os.listdir(root) if "=" in d) == ["dt=01"]
    assert not [d for d in os.listdir(root / "dt=01") if "=" in d]
    got = spark.read.schema("k int, v double, dt string").parquet(str(root))
    assert [f.name for f in got.schema.fields if f.name == "ds"] == []
    assert {r.dt for r in got.select("dt").distinct().collect()} == {"01"}
    assert got.count() == 5

"""Storage-layout scale properties: partition pruning and bucketed
co-located joins.

These are the two layout decisions that matter most at 100 TB — a
date filter must prune whole partitions at file-listing time, and a
repeated join key can pre-shuffle ONCE at write time (bucketing) so
every later join runs exchange-free.
"""

from pyspark.sql import functions as F

from real_time_data_pipeline_spark.plans import executed_plan, formatted_plan
from real_time_data_pipeline_spark.sources.tables import load_table
from real_time_data_pipeline_spark.streaming.sinks import replace_partitions


def test_date_partition_pruning(spark, sf_dir, tmp_path):
    ev = load_table(spark, sf_dir, "events").withColumn("date", F.to_date("ts"))
    path = str(tmp_path / "events_by_date")
    replace_partitions(ev, path, ["date"])

    back = spark.read.parquet(path).where(F.col("date") == "2024-01-02")
    plan = formatted_plan(back)
    # the date predicate lands in PartitionFilters (directory-level
    # pruning at listing time), NOT as a row-level PushedFilter
    assert "PartitionFilters" in plan
    assert "date" in plan.split("PartitionFilters")[1].split("]")[0]
    assert back.count() > 0
    # pruned read returns exactly the partition's rows
    want = ev.where(F.to_date("ts") == "2024-01-02").count()
    assert back.count() == want


def test_bucketed_join_is_exchange_free(spark, sf_dir):
    # managed tables in the session's default warehouse; dropped below
    spark.sql("DROP TABLE IF EXISTS b_orders")
    spark.sql("DROP TABLE IF EXISTS b_lineitem")
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    (
        orders.write.bucketBy(8, "o_orderkey").sortBy("o_orderkey")
        .mode("overwrite").saveAsTable("b_orders")
    )
    (
        li.write.bucketBy(8, "l_orderkey").sortBy("l_orderkey")
        .mode("overwrite").saveAsTable("b_lineitem")
    )
    # disable auto-broadcast so the join would otherwise shuffle both sides
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        j = spark.table("b_lineitem").join(
            spark.table("b_orders"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        ).groupBy("o_orderstatus").agg(F.count(F.lit(1)).alias("n"))
        plan = executed_plan(j)
        # bucket layout replaces BOTH shuffle exchanges of the join:
        # the only exchange left is the final tiny aggregate's
        assert plan.count("Exchange hashpartitioning") <= 1
        assert "SortMergeJoin" in plan
        # and results agree with the unbucketed plan
        want = (
            li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
            .groupBy("o_orderstatus").agg(F.count(F.lit(1)).alias("n"))
        )
        assert sorted(map(tuple, j.collect())) == sorted(map(tuple, want.collect()))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS b_orders")
        spark.sql("DROP TABLE IF EXISTS b_lineitem")

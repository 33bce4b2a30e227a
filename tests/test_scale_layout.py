"""Storage-layout scale techniques (M5): bucketed co-located joins,
partition pruning on the split output, order preservation when a file
splits into many read partitions."""

import pandas as pd
import pytest
from pyspark.sql import functions as F

from glue_parquet_splitter_spark.catalog import load_table
from glue_parquet_splitter_spark.pipeline.splitter import split_day, write_partitioned



def test_bucketed_join_no_exchange(spark, sf_dir, tmp_path):
    """Both sides bucketed on the join key → the join runs without any
    Exchange (the 100 TB co-located join: shuffle paid once at write
    time, amortized over every subsequent join)."""
    # (warehouse dir is a static conf; managed tables land in
    # ./spark-warehouse and are dropped below)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")  # force the issue
    spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    try:
        o = load_table(spark, sf_dir, "orders")
        li = load_table(spark, sf_dir, "lineitem")
        (o.write.mode("overwrite").bucketBy(8, "o_orderkey")
           .sortBy("o_orderkey").saveAsTable("orders_b"))
        (li.write.mode("overwrite").bucketBy(8, "l_orderkey")
           .sortBy("l_orderkey").saveAsTable("lineitem_b"))
        j = (
            spark.table("lineitem_b")
            .join(spark.table("orders_b"),
                  F.col("l_orderkey") == F.col("o_orderkey"))
            .groupBy("o_orderstatus").agg(F.count("*").alias("n"))
        )
        j.collect()
        plan = j._jdf.queryExecution().executedPlan().toString()
        # the join itself must not re-shuffle either bucketed side
        join_part = plan[: plan.index("HashAggregate")] if "HashAggregate" in plan else plan
        assert plan.count("Exchange hashpartitioning(l_orderkey") == 0
        assert plan.count("Exchange hashpartitioning(o_orderkey") == 0
    finally:
        spark.sql("DROP TABLE IF EXISTS orders_b")
        spark.sql("DROP TABLE IF EXISTS lineitem_b")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")


def test_partition_pruning_on_split_output(spark, tmp_path, sample_data):
    """Reading one key from the partitionBy layout scans only that
    partition (PartitionFilters, not a full-scan + filter)."""
    df = spark.read.parquet(f"{sample_data}/input/20251107.parquet")
    out = str(tmp_path / "hive")
    write_partitioned(df, out, key="item_id")
    q = spark.read.parquet(out).filter(F.col("item_id") == "0000000007")
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [isnotnull(item_id" in plan
    assert q.count() == df.filter(F.col("item_id") == "0000000007").count()


def test_order_preserved_across_many_partitions(spark, tmp_path, sample_data):
    """Exact-layout split keeps input row order even when the input file
    is read as many partitions (order restored from the pre-shuffle
    monotonic id, whose partition-index high bits follow file order)."""
    src = f"{sample_data}/input/20251114.parquet"
    spark.conf.set("spark.sql.files.maxPartitionBytes", str(16 * 1024))
    try:
        df = spark.read.parquet(src)
        assert df.rdd.getNumPartitions() > 1  # the premise: a real split
        split_day(df, str(tmp_path / "out"), "20251114", key="item_id")
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
    inp = pd.read_parquet(src)
    for k in ["0000000001", "0000000013", "0000000030"]:
        ours = pd.read_parquet(str(tmp_path / "out" / k / "20251114.parquet"))
        want = inp[inp.item_id == k].reset_index(drop=True)
        pd.testing.assert_frame_equal(ours.reset_index(drop=True), want)


def test_dynamic_partition_pruning(spark, sf_dir, tmp_path):
    """A date-partitioned fact joined to a filtered dim must prune fact
    PARTITIONS at runtime (dynamic partition pruning): the selective
    dim predicate becomes a subquery filter on the fact's partition
    column — at 100 TB this is the difference between scanning 3 days
    and scanning 3 years."""
    fact_dir = str(tmp_path / "fact_part")
    li = load_table(spark, sf_dir, "lineitem")
    # 'd'-prefixed partition values stay strings (partition-type
    # inference would read bare digits back as INT and the resulting
    # cast blocks the pruning rule's partition-column match)
    (li.select("l_orderkey", "l_quantity",
               F.concat(F.lit("d"), F.date_format("l_shipdate", "yyyyMMdd"))
               .alias("ship_day"))
       .write.partitionBy("ship_day").mode("overwrite").parquet(fact_dir))
    fact = spark.read.parquet(fact_dir)
    # a real selective FILTER on the dim (a LIMIT is not a predicate
    # and does not qualify for pruning-subquery insertion)
    dim = (load_table(spark, sf_dir, "orders")
           .where(F.col("o_orderpriority") == "1-URGENT")
           .where(F.dayofmonth("o_orderdate") <= 3)
           .select(F.concat(F.lit("d"),
                            F.date_format("o_orderdate", "yyyyMMdd"))
                   .alias("ship_day"))
           .distinct())
    spark.conf.set("spark.sql.optimizer.dynamicPartitionPruning.enabled",
                   "true")
    j = fact.join(dim, "ship_day").agg(F.sum("l_quantity").alias("q"))
    plan = j._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan.lower(), plan[:2000]
    j.collect()


def test_range_clustered_layout_skips_row_groups(spark, sf_dir, tmp_path):
    """Row-group data skipping: the SAME selective value filter reads
    far fewer bytes from a range-clustered (repartitionByRange + local
    sort) layout than from a value-scattered one, because parquet
    min/max footer stats let whole row groups be skipped.  This is the
    scan-side payoff the z-order/range-layout writers exist for — at
    100 TB the difference is reading ~1 % of files vs all of them."""
    from glue_parquet_splitter_spark.observability import run_with_metrics

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    scattered, clustered = str(tmp_path / "sc"), str(tmp_path / "cl")
    # scatter: order by a hash so every file spans the full value range
    ev.repartition(8).write.parquet(scattered)
    (ev.repartitionByRange(8, "value").sortWithinPartitions("value")
       .write.parquet(clustered))

    hi = ev.agg(F.expr("percentile(value, 0.99)")).first()[0]
    pred = (F.col("value") >= hi)
    _, m_sc = run_with_metrics(
        spark.read.parquet(scattered).where(pred).select("event_id"))
    _, m_cl = run_with_metrics(
        spark.read.parquet(clustered).where(pred).select("event_id"))
    # same result either way; the clustered scan DECODES a fraction of
    # the rows (scan_output_rows counts rows surviving row-group
    # min/max pruning — scan_bytes_read reports planned file size, so
    # it cannot show skipping)
    assert m_sc["output_rows"] == m_cl["output_rows"] > 0
    assert m_cl["scan_output_rows"] * 3 <= m_sc["scan_output_rows"], (
        m_cl, m_sc)

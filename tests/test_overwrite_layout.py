"""Idempotent partition replay (dynamic partition overwrite) and
range-clustered output layout (M5)."""

import os

import pyarrow.parquet as pq
from pyspark.sql import functions as F



def test_dynamic_partition_overwrite(spark, tmp_path, sample_data):
    """Re-processing one day must replace ONLY that day's partitions —
    the write-side half of exactly-once replay (marker redo is safe
    because the overwrite is partition-scoped, not table-scoped)."""
    out = str(tmp_path / "t")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        d1 = spark.read.parquet(f"{sample_data}/input/20251107.parquet").withColumn("day", F.lit("20251107"))
        d2 = spark.read.parquet(f"{sample_data}/input/20251114.parquet").withColumn("day", F.lit("20251114"))
        d1.unionByName(d2).write.partitionBy("day").mode("overwrite").parquet(out)
        assert spark.read.parquet(out).count() == 20_000

        # replay day 2 with a filtered variant — day 1 must survive
        d2b = d2.filter(F.col("item_id") == "0000000001")
        d2b.write.partitionBy("day").mode("overwrite").parquet(out)
        back = spark.read.parquet(out)
        assert back.filter(F.col("day") == "20251107").count() == 10_000
        assert back.filter(F.col("day") == "20251114").count() == d2b.count()
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", "static")


def test_range_clustered_layout(spark, sf_dir, tmp_path):
    """repartitionByRange + sortWithinPartitions produces files with
    disjoint key ranges — the layout that turns key-range predicates
    into file skipping (parquet min/max stats) at 100 TB."""
    out = str(tmp_path / "ranged")
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    (li.repartitionByRange(4, "l_orderkey")
       .sortWithinPartitions("l_orderkey")
       .write.mode("overwrite").parquet(out))
    ranges = []
    for f in os.listdir(out):
        if f.endswith(".parquet"):
            md = pq.read_metadata(os.path.join(out, f))
            mins, maxs = [], []
            for rg in range(md.num_row_groups):
                col = md.row_group(rg).column(0)  # l_orderkey
                mins.append(col.statistics.min)
                maxs.append(col.statistics.max)
            ranges.append((min(mins), max(maxs)))
    ranges.sort()
    assert len(ranges) == 4
    for (lo1, hi1), (lo2, _hi2) in zip(ranges, ranges[1:]):
        assert hi1 <= lo2  # disjoint, ordered key ranges across files

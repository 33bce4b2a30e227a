"""Source/sink format coverage, schema evolution, compaction, CLI."""

import os
import subprocess
import sys

import pytest
from pyspark.sql import functions as F

from glue_parquet_splitter_spark.catalog import load_table
from glue_parquet_splitter_spark.pipeline.compact import compact_dataset

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_json_csv_roundtrip(spark, sf_dir, tmp_path):
    """JSON and CSV sinks/sources (the reference only writes JSON
    markers; the engine supports them as full table formats)."""
    d = load_table(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    jdir, cdir = str(tmp_path / "j"), str(tmp_path / "c")
    d.write.mode("overwrite").json(jdir)
    d.write.mode("overwrite").option("header", True).csv(cdir)
    jback = spark.read.json(jdir)
    cback = spark.read.option("header", True).option("inferSchema", True).csv(cdir)
    assert jback.count() == d.count() == cback.count()
    assert set(jback.columns) == {"doc_id", "lang", "n_chars"}
    got = {r.lang for r in cback.select("lang").distinct().collect()}
    assert got == {r.lang for r in d.select("lang").distinct().collect()}


def test_schema_evolution_merge(spark, tmp_path):
    """mergeSchema read across files with evolving columns
    (SURVEY.md §1.4: the reference has no evolution handling; the
    engine gets Spark's for free)."""
    p = str(tmp_path / "evo")
    spark.range(5).select(F.col("id"), F.lit("a").alias("v1")).write.parquet(f"{p}/f1")
    spark.range(5).select(F.col("id"), F.lit(2.5).alias("v2")).write.parquet(f"{p}/f2")
    merged = spark.read.option("mergeSchema", True).parquet(f"{p}/f1", f"{p}/f2")
    assert set(merged.columns) == {"id", "v1", "v2"}
    assert merged.count() == 10
    assert merged.filter(F.col("v2").isNull()).count() == 5


def test_compaction_preserves_partition_values(spark, tmp_path, sample_data):
    """Fan-out layout → bounded files per partition, same rows, and the
    zero-padded partition dir names/values survive verbatim (type
    inference would rewrite ``item_id=0000000005`` as ``item_id=5``)."""
    df = spark.read.parquet(f"{sample_data}/input/20251107.parquet")
    src = str(tmp_path / "fanout")
    # simulate a small-file layout: many files per partition
    df.repartition(16).write.partitionBy("item_id").parquet(src)

    def part_dirs():
        return sorted(d for d in os.listdir(src) if d.startswith("item_id="))

    def n_files():
        return sum(len([f for f in files if f.endswith(".parquet")])
                   for _, _, files in os.walk(src))

    dirs_before, files_before = part_dirs(), n_files()
    assert len(dirs_before) == 30
    assert any("=0" in d for d in dirs_before)  # zero-padded keys present

    stats = compact_dataset(spark, src, partition_by=["item_id"])
    assert stats["rows"] == 10_000
    assert part_dirs() == dirs_before  # dir names byte-identical
    assert stats["files_after"] == n_files() == 30 < files_before

    spark.conf.set(
        "spark.sql.sources.partitionColumnTypeInference.enabled", "false")
    try:
        back = spark.read.parquet(src)
        keys = {r.item_id for r in back.select("item_id").distinct().collect()}
    finally:
        spark.conf.set(
            "spark.sql.sources.partitionColumnTypeInference.enabled", "true")
    assert keys == {d.split("=", 1)[1] for d in dirs_before}


def test_cli_entry(tmp_path, sample_data):
    """O1/O20 parity: the module CLI runs an incremental pass."""
    out = subprocess.run(
        [sys.executable, "-m", "glue_parquet_splitter_spark",
         "--KIND", "cli-test",
         "--IN_DIR", f"{sample_data}/input",
         "--OUT_DIR", str(tmp_path / "out"),
         "--MARKER_DIR", str(tmp_path / "markers")],
        cwd=REPO, capture_output=True, text=True, timeout=300,
        env={**os.environ, "SPARK_GRAFT_CPUS": "8", "SPARK_GRAFT_DRIVER_MEM": "4g"},
    )
    assert out.returncode == 0, out.stderr[-2000:]
    assert "'processed_days': 3" in out.stderr + out.stdout
    assert len(os.listdir(tmp_path / "markers")) == 3

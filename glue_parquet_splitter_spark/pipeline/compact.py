"""Small-file compaction for split outputs.

The split pipeline's exact layout accrues one file per (key, day) —
after a year of dailies that is 365 small objects per key, and at
millions of keys the listing itself becomes the bottleneck (the classic
object-store small-file problem).  Compaction rewrites a dataset with
the same rows into the same partition layout but target-sized files.

Pattern (safe on object stores, no in-place mutation):

1. read the dataset, count rows in the same job
2. write the compacted copy to ``<dir>__compacting`` (partition layout
   preserved, ``maxRecordsPerFile`` bounds file size)
3. verify the copy's row count equals the source's
4. atomic-ish swap: source → ``<dir>__precompact`` backup, copy → source
5. drop the backup only on ``keep_backup=False``

A crash before step 4 leaves the source untouched (re-run safe); a
crash between the two renames leaves the backup in place for manual
restore — the same conservative commit order as the marker protocol
(markers only after outputs, ``incremental.py``).
"""

from __future__ import annotations

import contextlib
import logging

from pyspark.sql import SparkSession

log = logging.getLogger(__name__)

_COMPACT_CONFS = {
    # Read hive partition values as strings, not inferred types: the
    # split layout's partition values are zero-padded strings
    # (``item_id=0000000005``); default inference would re-type them as
    # long ``5`` and the compacted rewrite would silently corrupt every
    # partition key.
    "spark.sql.sources.partitionColumnTypeInference.enabled": "false",
    # Pack many small files per scan task — the input is BY DEFINITION
    # a many-tiny-files layout, and per-file tasks make the rewrite
    # scheduling-bound (1,200 files → 1,200 tasks under a small
    # maxPartitionBytes; with packing, ~#cores tasks).  128 MB splits /
    # 4 MB open cost are Spark's cluster defaults.
    "spark.sql.files.maxPartitionBytes": str(128 * 1024 * 1024),
    "spark.sql.files.openCostInBytes": str(4 * 1024 * 1024),
}


@contextlib.contextmanager
def _compact_read_confs(spark: SparkSession):
    """Apply ``_COMPACT_CONFS`` for the duration, restoring after."""
    prev = {k: spark.conf.get(k, None) for k in _COMPACT_CONFS}
    for k, v in _COMPACT_CONFS.items():
        spark.conf.set(k, v)
    try:
        yield
    finally:
        for k, v in prev.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def _hadoop_fs(spark: SparkSession, path: str):
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    return hpath.getFileSystem(spark._jsc.hadoopConfiguration()), hpath, jvm


def count_data_files(spark: SparkSession, directory: str,
                     suffix: str = ".parquet") -> int:
    """Recursive data-file count — the before/after compaction metric.

    Listed via pyarrow.fs, not the Hadoop ``listFiles`` iterator: the
    iterator costs one py4j round trip per entry, which on exactly the
    many-small-files input compaction targets dominated the whole
    operation (~6 s of a ~9 s compaction at 1,200 files); pyarrow
    recurses natively and returns the listing in one call.
    """
    from pyarrow.fs import FileSelector

    from .splitter import resolve_fs

    filesystem, fs_path = resolve_fs(directory)
    infos = filesystem.get_file_info(
        FileSelector(fs_path, recursive=True, allow_not_found=True))
    return sum(1 for i in infos if i.base_name.endswith(suffix))


def content_fingerprint_cols(df):
    """(count, fingerprint) aggregate columns for an order-insensitive
    content check: per-row ``xxhash64`` over ALL columns (sorted by
    name, so write-time and read-back column orders agree), summed as
    ``decimal(38,0)`` — commutative, so file/partition order is
    irrelevant, and 38 digits absorbs 10^12 rows of 64-bit hashes
    without ANSI overflow.  A row-count tie with a fingerprint mismatch
    means VALUE corruption (e.g. a re-typed partition key), which a
    count-only verify cannot see.
    """
    from pyspark.sql import functions as F

    cols = sorted(df.columns)
    return (
        F.count(F.lit(1)).alias("n"),
        F.coalesce(
            F.sum(F.xxhash64(*cols).cast("decimal(38,0)")),
            F.lit(0).cast("decimal(38,0)")).alias("fp"),
    )


def compact_dataset(spark: SparkSession, directory: str,
                    partition_by: list[str] | None = None,
                    max_records_per_file: int = 5_000_000,
                    keep_backup: bool = False) -> dict:
    """Rewrite ``directory`` into target-sized files, preserving rows
    and partition layout.  Returns a summary dict.

    ``partition_by`` must name the dataset's physical partition columns
    (e.g. ``["item_id"]`` for the scale split layout); ``None`` for an
    unpartitioned dataset.  Row count AND an order-insensitive content
    fingerprint (see :func:`content_fingerprint_cols`) are verified
    before the swap; any mismatch aborts with the source untouched.
    """
    partition_by = list(partition_by or [])
    src = directory.rstrip("/")
    tmp, backup = f"{src}__compacting", f"{src}__precompact"
    fs, src_path, jvm = _hadoop_fs(spark, src)
    tmp_path = jvm.org.apache.hadoop.fs.Path(tmp)
    backup_path = jvm.org.apache.hadoop.fs.Path(backup)
    for stale in (tmp_path, backup_path):
        if fs.exists(stale):  # prior crashed/unfinished run
            raise RuntimeError(
                f"refusing to compact: leftover {stale.toString()} exists "
                "(restore or delete it first)")

    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    with _compact_read_confs(spark):
        df = spark.read.parquet(src)
        files_before = count_data_files(spark, src)

        # source count + content fingerprint observed DURING the rewrite
        # job — a separate aggregation would be a second full scan of
        # exactly the many-small-files layout compaction exists to fix
        obs = Observation("compact_src_rows")
        observed = df.observe(obs, *content_fingerprint_cols(df))
        writer = (observed.repartition(*partition_by) if partition_by
                  else observed.coalesce(
                      max(1, spark.sparkContext.defaultParallelism))
                  ).write.mode("overwrite").option(
                      "maxRecordsPerFile", str(max_records_per_file))
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.parquet(tmp)
        n_src, fp_src = obs.get["n"], obs.get["fp"]

        # independent read-back of the copy: the verify half of the swap
        tmp_df = spark.read.parquet(tmp)
        row = tmp_df.agg(*content_fingerprint_cols(tmp_df)).collect()[0]
        n_tmp, fp_tmp = row["n"], row["fp"]
    if (n_tmp, fp_tmp) != (n_src, fp_src):
        fs.delete(tmp_path, True)
        raise RuntimeError(
            f"compaction verify mismatch (rows {n_src} -> {n_tmp}, "
            f"fingerprint {fp_src} -> {fp_tmp}); aborted, source untouched")

    if not fs.rename(src_path, backup_path):
        fs.delete(tmp_path, True)
        raise RuntimeError(f"could not move {src} aside; aborted")
    if not fs.rename(tmp_path, src_path):
        # restore the original before failing
        fs.rename(backup_path, src_path)
        raise RuntimeError(f"could not move compacted data into {src}; restored")
    if not keep_backup:
        fs.delete(backup_path, True)

    files_after = count_data_files(spark, src)
    summary = {
        "rows": n_src,
        "files_before": files_before,
        "files_after": files_after,
        "backup": backup if keep_backup else None,
    }
    log.info("[compact] %s: %s", src, summary)
    return summary

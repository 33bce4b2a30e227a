"""The split operator: fan a day's rows out into one parquet per key.

Reference semantics (/root/reference/src/Split/parquet-splitter.py:153-171):
for input day ``d``, every distinct ``item_id`` value ``k`` yields an
output object ``<out>/<k>/<d>.parquet`` holding exactly
``input[input.item_id == k]`` with input row order preserved; an empty
input is skipped; a missing ``item_id`` column is a hard error.

Three writers:

- :func:`write_partitioned` — the idiomatic scale path:
  ``df.write.partitionBy(key)``. One shuffle-free distributed write;
  Hive layout ``item_id=<k>/part-*.parquet``. At 100 TB this is the
  right shape (parallel tasks, S3A committer, ``maxRecordsPerFile`` to
  bound small files).

- :func:`split_files` — the reference's ``<k>/<d>.parquet`` layout for
  day *files* (the incremental driver's catch-up).  The files are packed
  into at most ``defaultParallelism`` Python tasks of one
  ``mapInArrow`` job; each task reads its files with pyarrow, sorts
  each by key (stable, so input order holds within a key) and writes
  one slice per key.  No Spark scan, shuffle or row id: a day file
  already holds its rows together.  Outputs keep the input file's own
  Arrow schema (timestamps keep their unit, ints stay ints, each day
  its own columns), minus schema-level metadata such as the pandas
  block.  With one wave of tasks, a task's fixed start-up cost counts
  as much as its I/O.  On CPython < 3.13 a reused worker re-parses
  every zip archive on its import path at the start of each task
  (``pyspark.zip``, the spark-core jar, this package's zip) unless
  ``session.guard_zip_rereads`` runs there; a task installs it when it
  unpickles ``_split_file`` and so imports the package, and from then
  on the worker skips the archives that have not changed.  Each
  worker's first task still pays.

- :func:`split_groups` — the same layout for a DataFrame, which has no
  files (:func:`split_day`): ``groupBy(key).applyInArrow``.  Each group
  arrives as one ``pyarrow.Table``; its order is restored from a
  pre-shuffle row id with ``take(sort_indices(...))``.  Outputs keep
  the Arrow schema Spark read: integers with nulls stay integers,
  timestamps carry Spark's microsecond unit and the session's UTC tz,
  decimals keep their declared precision.

Both parity writers write through pyarrow.fs (:func:`write_parquet_object`),
so paths may be plain local paths or ``file://``/``s3://``/``s3a://``/
``gs://``/``hdfs://`` URIs — no extra executor dependencies — and
neither writes pandas schema metadata.
"""

from __future__ import annotations

import json
from typing import TYPE_CHECKING, Iterable, Iterator, Mapping

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

if TYPE_CHECKING:
    import pyarrow as pa

ORDER_COL = "__row_order"
MANIFEST_SCHEMA = "date string, out_path string, rows long"
MAX_RECORDS_PER_FILE = 5_000_000


def resolve_fs(path: str):
    """(pyarrow filesystem, in-fs path) for a plain path or URI.

    Executor-side parity writes go through pyarrow.fs — built into the
    pyarrow wheel Spark already requires, so local, ``file://``,
    ``s3://``/``s3a://``, ``gs://`` and ``hdfs://`` all work without
    fsspec/s3fs on the workers.  Hadoop's ``s3a``/``s3n`` scheme names
    map onto pyarrow's S3 implementation.
    """
    from pyarrow import fs as pafs

    if path.startswith(("s3a://", "s3n://")):
        path = "s3://" + path.split("://", 1)[1]
    if path.startswith("file:"):
        # Hadoop renders local URIs as file:/x (single slash); pyarrow
        # only accepts file:///x — normalize both to a plain path
        return pafs.LocalFileSystem(), "/" + path[5:].lstrip("/")
    if "://" in path:
        return pafs.FileSystem.from_uri(path)
    return pafs.LocalFileSystem(), path


def write_parquet_object(table: pa.Table, path: str) -> None:
    """Write one Arrow table as a single parquet object at ``path``
    (any pyarrow-supported filesystem; parent dirs created)."""
    import pyarrow.parquet as pq

    filesystem, fs_path = resolve_fs(path)
    parent = fs_path.rsplit("/", 1)[0]
    filesystem.create_dir(parent, recursive=True)
    pq.write_table(table, fs_path, filesystem=filesystem,
                   compression="snappy")


def write_bytes(path: str, data: bytes) -> None:
    """Write ``data`` as the object at ``path``, replacing any object
    there (any pyarrow-supported filesystem; parent dirs created)."""
    filesystem, fs_path = resolve_fs(path)
    filesystem.create_dir(fs_path.rsplit("/", 1)[0], recursive=True)
    with filesystem.open_output_stream(fs_path) as f:
        f.write(data)


def parquet_footer(path: str) -> tuple[int, list[str]]:
    """(row count, top-level column names) from the footer of the
    parquet object at ``path`` — metadata only, no data pages read."""
    import pyarrow.parquet as pq

    filesystem, fs_path = resolve_fs(path)
    with filesystem.open_input_file(fs_path) as f:
        pf = pq.ParquetFile(f)
        return pf.metadata.num_rows, pf.schema_arrow.names


def require_columns(df: DataFrame, cols: Iterable[str]) -> None:
    """Schema assertion (reference parquet-splitter.py:157-159)."""
    missing = [c for c in cols if c not in df.columns]
    if missing:
        raise ValueError(f"required column(s) missing: {missing}")


def write_partitioned(df: DataFrame, out_dir: str,
                      key: str = "item_id") -> None:
    """Idiomatic Spark partitioned write (Hive layout ``key=value/``).

    ``maxRecordsPerFile`` bounds file size at scale; snappy parquet is
    the Spark default (matches the reference's codec choice,
    parquet-splitter.py:96-98).
    """
    require_columns(df, [key])
    (df.write.mode("overwrite")
       .option("maxRecordsPerFile", str(MAX_RECORDS_PER_FILE))
       .partitionBy(key)
       .parquet(out_dir))


def split_day(df: DataFrame, out_dir: str, date: str,
              key: str = "item_id") -> list[str]:
    """Split one day's DataFrame by ``key`` into ``<out>/<k>/<date>.parquet``.

    Returns the list of output paths (the marker manifest's ``outputs``,
    reference parquet-splitter.py:162-171).  Row order within each
    output equals input order (pandas-groupby semantics the reference's
    golden files exhibit), restored from a monotonic row id captured
    before the shuffle.

    The returned list is collected to the driver — one row per key,
    fine at reference shape.  At millions of keys/day use
    ``run_incremental(..., manifest="counts")`` (executor-written
    manifests, in-plan counts, no driver-side per-key list) or
    :func:`write_partitioned`.
    """
    require_columns(df, [key])
    # Reference parity: pandas groupby silently drops NaN keys
    # (parquet-splitter.py:166, pandas dropna=True default) — drop
    # null-key rows explicitly so the fan-out is total over outputs.
    df = df.filter(F.col(key).isNotNull())
    if df.isEmpty():
        return []
    manifest = split_groups(df, out_dir, key, date).collect()  # one row per key
    return sorted(r.out_path for r in manifest)


def split_groups(df: DataFrame, out_dir: str, key: str,
                 date: str) -> DataFrame:
    """Exact-layout fan-out of ``df`` into ``<out>/<k>/<date>.parquet``,
    as a LAZY manifest DataFrame (``date``, ``out_path``, ``rows`` — one
    row per output object).

    Each group crosses into Python as one Arrow table; rows keep their
    input order, restored from a row id captured before the shuffle.
    Null keys are the caller's to drop.
    """
    import pyarrow as pa
    import pyarrow.compute as pc

    ordered = df.withColumn(ORDER_COL, F.monotonically_increasing_id())

    def _write_group(tbl: pa.Table) -> pa.Table:
        tbl = tbl.take(pc.sort_indices(tbl[ORDER_COL]))
        path = f"{out_dir}/{tbl[key][0].as_py()}/{date}.parquet"
        write_parquet_object(tbl.drop_columns([ORDER_COL]), path)
        return pa.table({"date": [date], "out_path": [path],
                         "rows": [tbl.num_rows]})

    return ordered.groupBy(key).applyInArrow(_write_group,
                                             schema=MANIFEST_SCHEMA)


def split_files(spark: SparkSession, files: Mapping[str, str], out_dir: str,
                key: str = "item_id",
                manifest_dir: str | None = None) -> DataFrame:
    """Exact-layout fan-out of day files into ``<out>/<k>/<date>.parquet``,
    as a LAZY manifest DataFrame (``date``, ``out_path``, ``rows`` — one
    row per output object), like :func:`split_groups`.

    ``files`` maps a date to its file's path; every file must have rows
    and a ``key`` column (the caller reads the footers first).  The
    files go round-robin, in date order, into ``min(len(files),
    defaultParallelism)`` bins, and each bin is one Python task of one
    ``mapInArrow`` job.  A task reads each of its files whole — a day is
    held in one worker's memory, as in the reference — drops null keys
    and writes one file per key, rows in input order.  Given a
    ``manifest_dir``, the task also writes each day's manifest to
    ``<manifest_dir>/<date>/part-0.json``: JSON lines, one ``out_path``
    and ``rows`` object per output, empty for a day whose keys are all
    null, replaced by a retry or a rerun of the day.  Any read or write
    error fails the job.
    """
    n_bins = min(len(files), spark.sparkContext.defaultParallelism)
    bins: list[list[tuple[str, str]]] = [[] for _ in range(n_bins)]
    for i, date in enumerate(sorted(files)):
        bins[i % n_bins].append((date, files[date]))

    def _split(batches):
        for batch in batches:
            for i in batch.column(0).to_pylist():
                for date, path in bins[i]:
                    yield from _split_file(path, date, out_dir, key,
                                           manifest_dir)

    return (spark.range(n_bins, numPartitions=n_bins)
            .mapInArrow(_split, MANIFEST_SCHEMA))


def _split_file(path: str, date: str, out_dir: str, key: str,
                manifest_dir: str | None) -> Iterator[pa.RecordBatch]:
    """Write the day file at ``path`` as one object per non-null key,
    and its manifest under ``manifest_dir`` when given; yields its
    manifest rows (none for a day whose keys are all null)."""
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    filesystem, fs_path = resolve_fs(path)
    with pq.ParquetFile(fs_path, filesystem=filesystem) as pf:
        tbl = pf.read().replace_schema_metadata(None)
    tbl = tbl.filter(pc.is_valid(tbl[key]))
    # a stable sort: rows keep their input order within a key
    tbl = tbl.take(pc.sort_indices(tbl[key]))
    counts = pc.value_counts(tbl[key])  # keys in order of first appearance
    rows = counts.field("counts").to_pylist()
    paths, start = [], 0
    for k, n in zip(counts.field("values").to_pylist(), rows):
        paths.append(f"{out_dir}/{k}/{date}.parquet")
        write_parquet_object(tbl.slice(start, n), paths[-1])
        start += n
    if manifest_dir is not None:
        write_bytes(f"{manifest_dir}/{date}/part-0.json", "".join(
            json.dumps({"out_path": p, "rows": n}, ensure_ascii=False) + "\n"
            for p, n in zip(paths, rows)).encode("utf-8"))
    if paths:  # an all-null-key day writes nothing
        yield pa.RecordBatch.from_pydict(
            {"date": [date] * len(paths), "out_path": paths,
             "rows": counts.field("counts")})

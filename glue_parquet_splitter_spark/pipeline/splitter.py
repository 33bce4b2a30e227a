"""The split operator: fan a day's rows out into one parquet per key.

Reference semantics (/root/reference/src/Split/parquet-splitter.py:153-171):
for input day ``d``, every distinct ``item_id`` value ``k`` yields an
output object ``<out>/<k>/<d>.parquet`` holding exactly
``input[input.item_id == k]`` with input row order preserved; an empty
input is skipped; a missing ``item_id`` column is a hard error.

Three writers:

- :func:`write_partitioned` — Spark's own partitioned write of a
  DataFrame: ``df.write.partitionBy(key)``, Hive layout
  ``item_id=<k>/part-*.parquet``, ``maxRecordsPerFile`` to bound file
  size.  The streaming split (``run_split_stream``) uses it.

- :func:`split_files` — the catch-up's writer for day *files*, in
  either layout.  Its units of work (a whole day file for the
  reference's ``<k>/<d>.parquet`` layout; a split-sized run of a day
  file's row groups for the Hive layout
  ``date=<d>/<key>=<k>/part-<i>.parquet``) are packed into at most
  ``defaultParallelism`` Python tasks of one ``mapInArrow`` job; each
  task reads its units with pyarrow, sorts each by key (stable, so
  input order holds within a key) and writes one slice per key.  No
  Spark scan, shuffle or row id: a day file already holds its rows
  together.  Outputs keep the input file's own Arrow schema
  (timestamps keep their unit, ints stay ints, each day its own
  columns), minus schema-level metadata such as the pandas block.  A
  Hive unit holds about one Spark file split, so the split size bounds
  a task's memory, and its ``<key>=<k>`` dir names are escaped as
  ``partitionBy`` escapes them.  With one wave of tasks, a task's fixed
  start-up cost counts as much as its I/O.  On CPython < 3.13 a reused
  worker re-parses every zip archive on its import path at the start
  of each task (``pyspark.zip``, the spark-core jar, this package's
  zip) unless ``session.guard_zip_rereads`` runs there; a task
  installs it when it unpickles ``_split_file`` and so imports the
  package, and from then on the worker skips the archives that have
  not changed.  Each worker's first task still pays.

- :func:`split_groups` — the exact layout for a DataFrame, which has no
  files (:func:`split_day`): ``groupBy(key).applyInArrow``.  Each group
  arrives as one ``pyarrow.Table``; its order is restored from a
  pre-shuffle row id with ``take(sort_indices(...))``.  Outputs keep
  the Arrow schema Spark read: integers with nulls stay integers,
  timestamps carry Spark's microsecond unit and the session's UTC tz,
  decimals keep their declared precision.

Both pyarrow writers write through pyarrow.fs (:func:`write_parquet_object`),
so paths may be plain local paths or ``file://``/``s3://``/``s3a://``/
``gs://``/``hdfs://`` URIs — no extra executor dependencies — and
neither writes pandas schema metadata.
"""

from __future__ import annotations

import json
from decimal import Decimal
from itertools import accumulate
from typing import TYPE_CHECKING, Iterable, Iterator, Mapping

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

if TYPE_CHECKING:
    import pyarrow as pa
    from pyarrow import fs as pafs

ORDER_COL = "__row_order"
MANIFEST_SCHEMA = "date string, out_path string, rows long"
MAX_RECORDS_PER_FILE = 5_000_000
# the characters Spark's ExternalCatalogUtils.escapePathName writes as
# %XX in a partition dir name (its fixed set off Windows)
_ESCAPES = {c: f"%{c:02X}" for c in [*range(1, 32), *b"\"#%'*/:=?\\\x7f{[]^"]}


def resolve_fs(path: str):
    """(pyarrow filesystem, in-fs path) for a plain path or URI.

    Executor-side parity writes go through pyarrow.fs — built into the
    pyarrow wheel Spark already requires, so local, ``file://``,
    ``s3://``/``s3a://``, ``gs://`` and ``hdfs://`` all work without
    fsspec/s3fs on the workers.  Hadoop's ``s3a``/``s3n`` scheme names
    map onto pyarrow's S3 implementation.  Only a URI's scheme and
    authority go through pyarrow's URI parser; the rest is the in-fs
    path as it stands, as Hadoop's ``Path`` takes it, so an escaped
    Hive dir name such as ``item_id=a%2Fb`` or ``item_id=sp ace`` is
    not percent-decoded or rejected.
    """
    from pyarrow import fs as pafs

    if path.startswith(("s3a://", "s3n://")):
        path = "s3://" + path.split("://", 1)[1]
    if path.startswith("file:"):
        # Hadoop renders local URIs as file:/x (single slash); pyarrow
        # only accepts file:///x — normalize both to a plain path
        return pafs.LocalFileSystem(), "/" + path[5:].lstrip("/")
    if "://" in path:
        scheme, rest = path.split("://", 1)
        authority, slash, rest = rest.partition("/")
        filesystem, root = pafs.FileSystem.from_uri(f"{scheme}://{authority}/")
        return filesystem, root.rstrip("/") + slash + rest
    return pafs.LocalFileSystem(), path


def write_parquet_object(table: pa.Table, path: str,
                         filesystem: pafs.FileSystem | None = None) -> None:
    """Write one Arrow table as a single parquet object at ``path``
    (any pyarrow-supported filesystem; parent dirs created).  Given a
    ``filesystem`` from :func:`resolve_fs`, ``path`` is a path in it,
    and no filesystem is built for the object."""
    import pyarrow.parquet as pq

    if filesystem is None:
        filesystem, path = resolve_fs(path)
    filesystem.create_dir(path.rsplit("/", 1)[0], recursive=True)
    pq.write_table(table, path, filesystem=filesystem, compression="snappy")


def write_bytes(path: str, data: bytes) -> None:
    """Write ``data`` as the object at ``path``, replacing any object
    there (any pyarrow-supported filesystem; parent dirs created)."""
    filesystem, fs_path = resolve_fs(path)
    filesystem.create_dir(fs_path.rsplit("/", 1)[0], recursive=True)
    with filesystem.open_output_stream(fs_path) as f:
        f.write(data)


def parquet_footer(path: str) -> tuple[int, list[int], pa.Schema]:
    """(row count, each row group's compressed bytes, Arrow schema) from
    the footer of the parquet object at ``path`` — metadata only, no
    data pages read."""
    import pyarrow.parquet as pq

    filesystem, fs_path = resolve_fs(path)
    with filesystem.open_input_file(fs_path) as f:
        pf = pq.ParquetFile(f)
        groups = map(pf.metadata.row_group, range(pf.num_row_groups))
        return pf.metadata.num_rows, [
            sum(g.column(j).total_compressed_size
                for j in range(g.num_columns)) for g in groups
        ], pf.schema_arrow


def require_hive_key(schema: pa.Schema, key: str) -> None:
    """Raise ``ValueError`` unless ``key`` is a string, integer, date or
    decimal column (or a dictionary of one): the types whose
    :func:`_hive_dir_value` equals the dir name ``partitionBy`` writes.
    For the others Spark's cast differs from Python's ``str``: ``true``
    for ``True``, ``1.0E20`` for ``1e+20``, ``...05.5`` for
    ``...05.500000``."""
    import pyarrow as pa

    t = schema.field(key).type
    t = t.value_type if pa.types.is_dictionary(t) else t
    if not (pa.types.is_string(t) or pa.types.is_large_string(t)
            or pa.types.is_integer(t) or pa.types.is_date(t)
            or pa.types.is_decimal(t)):
        raise ValueError(f"the Hive layout needs a string, integer, date or "
                         f"decimal key; {key!r} is {t}")


def _hive_dir_value(value) -> str:
    """The ``<key>=`` dir name part ``partitionBy`` writes for a key
    value of a type :func:`require_hive_key` accepts (a decimal in plain
    notation, as Spark casts it: ``0.00000001``, not ``1E-8``)."""
    text = format(value, "f") if isinstance(value, Decimal) else str(value)
    return text.translate(_ESCAPES) or "__HIVE_DEFAULT_PARTITION__"


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
                key: str = "item_id", manifest_dir: str | None = None,
                row_groups: Mapping[str, list[int]] | None = None,
                ) -> DataFrame:
    """Fan-out of day files by ``key``, as a LAZY manifest DataFrame
    (``date``, ``out_path``, ``rows``), like :func:`split_groups`.

    ``files`` maps a date to its file's path; every file must have rows
    and a ``key`` column (the caller reads the footers first).  The
    units of work go round-robin, in date order, into ``min(units,
    defaultParallelism)`` bins, and each bin is one Python task of one
    ``mapInArrow`` job.  A unit drops null keys, sorts stably by key and
    writes one file per key, rows in input order.  Any read or write
    error fails the job.

    - Without ``row_groups``, the exact layout: a unit is a whole day
      file — a day is held in one worker's memory, as in the reference
      — and writes ``<out>/<k>/<date>.parquet``, one manifest row per
      output.  Given a ``manifest_dir``, the task also writes each
      day's manifest to ``<manifest_dir>/<date>/part-0.json``: JSON
      lines, one ``out_path`` and ``rows`` object per output, empty for
      a day whose keys are all null, replaced by a retry or a rerun of
      the day.
    - With ``row_groups`` (date → the compressed bytes of each of the
      file's row groups), the Hive layout: a unit is the run of row
      groups of one day file that Spark's scan of these files would
      give one split (:func:`_row_group_runs`), so a unit holds about
      one split's bytes, or one row group when that is larger.  It writes
      ``<out>/date=<date>/<key>=<k>/part-<i:05d>.parquet``, ``i`` its
      first row group, without the key column and with ``<k>`` escaped
      as ``partitionBy`` escapes it.  It yields one row, ``(date,
      <out>/date=<date>, rows)``, and none when its keys are all null.
      The caller empties the day dirs.
    """
    runs = {d: [None] for d in files}
    if row_groups is not None:
        # Spark's split size for a scan of these files
        # (FilePartition.maxSplitBytes)
        conf = spark._jsparkSession.sessionState().conf()
        open_cost = conf.filesOpenCostInBytes()
        total = sum(sum(g) + open_cost for g in row_groups.values())
        split = min(conf.filesMaxPartitionBytes(), max(
            open_cost, total // spark.sparkContext.defaultParallelism, 1))
        runs = {d: _row_group_runs(g, split) for d, g in row_groups.items()}
    units = [(date, files[date], run) for date in sorted(files)
             for run in runs[date]]
    n_bins = min(len(units), spark.sparkContext.defaultParallelism)
    bins = [units[b::n_bins] for b in range(n_bins)]

    def _split(batches):
        for batch in batches:
            for b in batch.column(0).to_pylist():
                for date, path, run in bins[b]:
                    yield from _split_file(path, date, out_dir, key,
                                           manifest_dir, run)

    return (spark.range(n_bins, numPartitions=n_bins)
            .mapInArrow(_split, MANIFEST_SCHEMA))


def _row_group_runs(sizes: list[int], split: int) -> list[list[int]]:
    """A file's row groups, of ``sizes`` bytes, in runs: a group joins
    the ``split``-byte range of the file that holds its midpoint, as
    Spark's parquet scan gives row groups to file splits."""
    runs: dict[int, list[int]] = {}
    for i, end in enumerate(accumulate(sizes)):
        runs.setdefault((end - sizes[i] // 2) // split, []).append(i)
    return list(runs.values())


def _split_file(path: str, date: str, out_dir: str, key: str,
                manifest_dir: str | None,
                row_groups: list[int] | None) -> Iterator[pa.RecordBatch]:
    """Write the day file at ``path`` (or only its ``row_groups``, in the
    Hive layout) as one object per non-null key, and the day's manifest
    under ``manifest_dir`` when given; yields its manifest rows (none
    when every key is null).  Objects are written through the
    filesystem of ``out_dir``, with their names joined on as plain
    paths."""
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    filesystem, fs_path = resolve_fs(path)
    with pq.ParquetFile(fs_path, filesystem=filesystem) as pf:
        tbl = (pf.read() if row_groups is None
               else pf.read_row_groups(row_groups))
    tbl = tbl.filter(pc.is_valid(tbl[key])).replace_schema_metadata(None)
    by = tbl[key]
    if pa.types.is_dictionary(by.type):  # Arrow sorts only the values
        by = by.cast(by.type.value_type)
    # a stable sort: rows keep their input order within a key
    order = pc.sort_indices(by)
    tbl = tbl.take(order)
    counts = pc.value_counts(by.take(order))  # keys in order of appearance
    keys, rows = (counts.field(f).to_pylist() for f in ("values", "counts"))
    if row_groups is None:
        names = [f"{k}/{date}.parquet" for k in keys]
    else:
        names = [f"date={date}/{key}={_hive_dir_value(k)}/"
                 f"part-{row_groups[0]:05d}.parquet" for k in keys]
        tbl = tbl.drop_columns([key])
    filesystem, base = resolve_fs(out_dir)
    start = 0
    for name, n in zip(names, rows):
        write_parquet_object(tbl.slice(start, n),
                             f"{base.rstrip('/')}/{name}", filesystem)
        start += n
    paths = [f"{out_dir}/{name}" for name in names]
    if row_groups is not None:
        # one row for the unit: the day dir is the day's one output
        paths, rows = (([f"{out_dir}/date={date}"], [start]) if paths
                       else ([], []))
    elif manifest_dir is not None:
        write_bytes(f"{manifest_dir}/{date}/part-0.json", "".join(
            json.dumps({"out_path": p, "rows": n}, ensure_ascii=False) + "\n"
            for p, n in zip(paths, rows)).encode("utf-8"))
    if paths:  # an all-null-key day writes nothing
        yield pa.RecordBatch.from_pydict(
            {"date": [date] * len(paths), "out_path": paths, "rows": rows})

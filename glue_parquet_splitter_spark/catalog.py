"""Table loading for the driver fixtures and reference sample data.

The fixture tables (TESTDATA.md) are plain parquet files; the only
special case is ``events`` whose ``ts`` column is parquet
TIMESTAMP(NANOS) — Spark's reader rejects it, so we read nanos as long
(``spark.sql.legacy.parquet.nanosAsLong``) and truncate to microseconds,
matching what the DuckDB oracle sees (DuckDB surfaces the same column as
a µs TIMESTAMP).

Each table's schema is pinned: the first load of a path infers it with
Spark's reader (one Spark job), and later loads of the same file
identity under the same inference confs pass that schema to the reader
and run no job.  A path given as a URI is never cached and infers on
every load.
"""

from __future__ import annotations

import os
import stat

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructType

from .session import apply_runtime_confs

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

# Session confs that change what Spark infers from the same parquet
# files and that apply_runtime_confs leaves to the caller: binary as
# string, INT96 as timestamp, naive timestamps as TIMESTAMP_NTZ, and,
# for a dir table, schema merging and partition value types.
_INFERENCE_CONFS = (
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.mergeSchema",
    "spark.sql.sources.partitionColumnTypeInference.enabled",
)

# path -> ((file identity, inference conf values), inferred schema)
_SCHEMAS: dict[str, tuple[tuple, StructType]] = {}


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one fixture table as a DataFrame (lazy parquet scan).

    The first load of a path infers its schema with Spark's reader, as
    ``spark.read.parquet(path).schema`` does.  A later load passes that
    schema to the reader, and so runs no inference job, while the
    path's file identity (size and mtime of the file, or of every file
    under a dir table) and the values of the inference confs are those
    it was inferred under; a change to either infers again.  A path
    given as a URI is not cached: its identity cannot be read cheaply,
    so it infers on every load.
    """
    apply_runtime_confs(spark)
    path = f"{sf_dir}/{name}.parquet"
    schema = _pinned_schema(spark, path)
    df = spark.read.schema(schema).parquet(path)
    if (name == "events" and "ts" in schema.names
            and isinstance(schema["ts"].dataType, LongType)):
        # nanos epoch → µs-truncated timestamp (same value DuckDB reads).
        # Integer `div`, NOT float division: double ulp at 1.7e18 is
        # 256 ns, which mis-truncates ~13% of values by 1 µs.
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return normalize_ntz(df)


def _pinned_schema(spark: SparkSession, path: str) -> StructType:
    # The identity is read before inferring: a file rewritten in between
    # leaves a stale stamp, which only forces one more inference later.
    # Each entry is stored as one tuple, so racing loads need no lock.
    identity = _file_identity(path)
    stamp = None if identity is None else (
        identity, tuple(spark.conf.get(k) for k in _INFERENCE_CONFS))
    hit = _SCHEMAS.get(path)
    if hit is not None and hit[0] == stamp:  # a stored stamp is never None
        return hit[1]
    schema = spark.read.parquet(path).schema
    if stamp is not None:
        _SCHEMAS[path] = (stamp, schema)
    return schema


def _file_identity(path: str) -> tuple | None:
    """``(size, mtime_ns)`` of a local file, the sorted ``(relative
    path, size, mtime_ns)`` of every file under a local dir, or None
    for an empty dir or a path ``os.stat`` cannot find, a URI among
    them."""
    try:
        st = os.stat(path)
        if not stat.S_ISDIR(st.st_mode):
            return st.st_size, st.st_mtime_ns
        files = []
        for root, _, names in os.walk(path):
            for n in names:
                f = os.path.join(root, n)
                fst = os.stat(f)
                files.append((os.path.relpath(f, path), fst.st_size,
                              fst.st_mtime_ns))
    except OSError:  # a URI, or a file gone mid-walk: infer every time
        return None
    return tuple(sorted(files)) or None


def normalize_ntz(df: DataFrame) -> DataFrame:
    """Cast any TIMESTAMP_NTZ column to TIMESTAMP (instant).

    Fixture parquet written with naive (non-UTC-adjusted) timestamps is
    read by Spark 3.4+ as TIMESTAMP_NTZ, which cannot be a watermark
    column and rejects ``cast(bigint)``.  Casting to TimestampType
    preserves the wall-clock fields (the session timezone is applied on
    the way in and again by ``date_format``/``to_date`` on the way out),
    so results match what DuckDB computes on the same naive values.
    """
    ntz_cols = [f.name for f in df.schema.fields
                if f.dataType.simpleString() == "timestamp_ntz"]
    for c in ntz_cols:
        df = df.withColumn(c, F.col(c).cast("timestamp"))
    return df


def load_all(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {t: load_table(spark, sf_dir, t) for t in TABLES}


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every fixture table as a temp view for spark.sql use."""
    for t in TABLES:
        load_table(spark, sf_dir, t).createOrReplaceTempView(t)

"""Schema pinning in ``catalog.load_table``.

A repeat load of an unchanged table reuses the schema its first load
inferred and runs no Spark job; a rewrite of the table, or a change to
one of the confs that steer parquet schema inference, infers again.
"""

import contextlib
import datetime
import uuid

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.errors import AnalysisException
from pyspark.sql import functions as F
from pyspark.sql.readwriter import DataFrameReader

from glue_parquet_splitter_spark.catalog import TABLES, load_table, normalize_ntz


def _uncached(spark, sf_dir, name):
    """What ``load_table`` returns when Spark infers the schema itself."""
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return normalize_ntz(df)


def _rows(df):
    return sorted(df.collect(), key=repr)


def _jobs_run_by(spark, fn):
    """Number of Spark jobs ``fn`` starts, read from the status tracker
    through a job group of its own."""
    sc = spark.sparkContext
    group = f"catalog-pin-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "catalog schema pin")
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.fixture
def reader_schemas(monkeypatch):
    """Every schema handed to ``DataFrameReader.schema``, in call order."""
    seen, schema = [], DataFrameReader.schema

    def recording(self, s):
        seen.append(s)
        return schema(self, s)

    monkeypatch.setattr(DataFrameReader, "schema", recording)
    return seen


@pytest.mark.parametrize("name", TABLES)
def test_repeat_load_matches_uncached_read(spark, sf_dir, name):
    load_table(spark, sf_dir, name)
    again = load_table(spark, sf_dir, name)
    expected = _uncached(spark, sf_dir, name)
    assert again.schema == expected.schema
    if name in ("nation", "region"):
        assert _rows(again) == _rows(expected)


def test_repeat_load_runs_no_spark_job(spark, tmp_path):
    pq.write_table(pa.table({"a": [1, 2, 3]}), tmp_path / "t.parquet")
    first = _jobs_run_by(spark, lambda: load_table(spark, str(tmp_path), "t"))
    assert first >= 1  # the inference job: the counter sees jobs
    assert _jobs_run_by(
        spark, lambda: load_table(spark, str(tmp_path), "t")) == 0


def test_uri_path_is_never_cached(spark, tmp_path):
    pq.write_table(pa.table({"a": [1, 2, 3]}), tmp_path / "t.parquet")
    uri = f"file://{tmp_path}"
    for _ in range(2):
        jobs = _jobs_run_by(spark, lambda: load_table(spark, uri, "t"))
        assert jobs >= 1


def test_rewritten_file_is_inferred_again(spark, tmp_path):
    path = tmp_path / "t.parquet"
    pq.write_table(pa.table({"a": [1, 2]}), path)
    assert load_table(spark, str(tmp_path), "t").columns == ["a"]
    pq.write_table(pa.table({"a": [1, 2], "b": ["x", "y"]}), path)
    df = load_table(spark, str(tmp_path), "t")
    assert df.columns == ["a", "b"]
    assert [tuple(r) for r in df.orderBy("a").collect()] == [(1, "x"), (2, "y")]


def test_rewritten_dir_is_inferred_again(spark, tmp_path):
    path = str(tmp_path / "t.parquet")
    spark.createDataFrame([(1,), (2,)], "a long").write.mode(
        "overwrite").parquet(path)
    assert load_table(spark, str(tmp_path), "t").columns == ["a"]
    spark.createDataFrame([(1, "x"), (2, "y")], "a long, b string").write.mode(
        "overwrite").parquet(path)
    df = load_table(spark, str(tmp_path), "t")
    assert df.columns == ["a", "b"]
    assert [tuple(r) for r in df.orderBy("a").collect()] == [(1, "x"), (2, "y")]


@contextlib.contextmanager
def _restored(spark, keys):
    """Put the session confs ``keys`` back as they were on exit."""
    saved = {k: spark.conf.get(k, None) for k in keys}
    try:
        yield
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def _load_per_step(spark, sf_dir, steps, reader_schemas):
    """Set each step's confs, then load table ``t``: the schema handed to
    the reader and the loaded rows must equal Spark's uncached read
    under those confs.  Returns the inferred schema of each step."""
    inferred = []
    with _restored(spark, {k for step in steps for k in step}):
        for step in steps:
            for k, v in step.items():
                spark.conf.set(k, v)
            df = load_table(spark, sf_dir, "t")
            inferred.append(spark.read.parquet(f"{sf_dir}/t.parquet").schema)
            assert reader_schemas[-1] == inferred[-1], step
            expected = _uncached(spark, sf_dir, "t")
            assert df.schema == expected.schema, step
            assert _rows(df) == _rows(expected), step
    return inferred


def _types(schema, *names):
    return tuple(schema[n].dataType.simpleString() for n in names)


# One conf moves at each step, so each must be in the cache key.
def test_inference_conf_change_is_inferred_again(spark, tmp_path,
                                                 reader_schemas):
    pq.write_table(pa.table({
        "ts": pa.array([datetime.datetime(2024, 1, 2, 3, 4, 5)],
                       pa.timestamp("us")),
        "b": pa.array([b"xy"], pa.binary()),
    }), tmp_path / "t.parquet")
    as_string = "spark.sql.parquet.binaryAsString"
    ntz = "spark.sql.parquet.inferTimestampNTZ.enabled"
    inferred = _load_per_step(spark, str(tmp_path), [
        {as_string: "false", ntz: "true"}, {as_string: "true"},
        {ntz: "false"}, {as_string: "false"}], reader_schemas)
    assert [_types(s, "ts", "b") for s in inferred] == [
        ("timestamp_ntz", "binary"), ("timestamp_ntz", "string"),
        ("timestamp", "string"), ("timestamp", "binary")]


def test_dir_inference_conf_change_is_inferred_again(spark, tmp_path,
                                                     reader_schemas):
    # two partitions whose files share no column
    for k, cols in ((1, {"a": [1]}), (2, {"b": ["y"]})):
        part = tmp_path / "t.parquet" / f"k={k}"
        part.mkdir(parents=True)
        pq.write_table(pa.table(cols), part / "part-0.parquet")
    merge = "spark.sql.parquet.mergeSchema"
    typed = "spark.sql.sources.partitionColumnTypeInference.enabled"
    inferred = _load_per_step(spark, str(tmp_path), [
        {merge: "false", typed: "true"}, {merge: "true"},
        {typed: "false"}], reader_schemas)
    # unmerged: one file's column and k, whichever file Spark picks
    assert [len(s.names) for s in inferred] == [2, 3, 3]
    assert [_types(s, "k") for s in inferred] == [
        ("int",), ("int",), ("string",)]


def test_int96_conf_change_is_inferred_again(spark, tmp_path):
    pq.write_table(pa.table({"ts": pa.array(
        [datetime.datetime(2024, 1, 2)], pa.timestamp("us"))}),
        tmp_path / "t.parquet", use_deprecated_int96_timestamps=True)
    int96 = "spark.sql.parquet.int96AsTimestamp"
    with _restored(spark, [int96]):
        spark.conf.set(int96, "true")
        assert load_table(spark, str(tmp_path), "t").dtypes == [
            ("ts", "timestamp")]
        # Spark's own read refuses INT96 now; so must the repeat load
        spark.conf.set(int96, "false")
        with pytest.raises(AnalysisException, match="INT96"):
            load_table(spark, str(tmp_path), "t")

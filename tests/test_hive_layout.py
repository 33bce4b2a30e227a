"""The catch-up's Hive layout (``run_incremental(exact_layout=False)``):
``<out>/date=<d>/<key>=<k>/part-<i>.parquet`` written by the same one
``split_files`` job as the exact layout, one unit of work per run of
row groups that Spark's scan would give one split.  Its dir names equal
``partitionBy``'s, also through a URI out dir, a reopened day loses the
keys that left it, and a backlog is one job of one stage whatever its
days and row groups."""

import datetime
import decimal
import glob
import os
import uuid
from collections import Counter
from contextlib import contextmanager

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyarrow import fs as pafs

from glue_parquet_splitter_spark.pipeline import (run_incremental,
                                                  write_partitioned)
from glue_parquet_splitter_spark.pipeline import splitter

DAY = "20250301"


@contextmanager
def _job_group(sc):
    """Run the block's Spark jobs in a fresh job group; yields a list
    that holds the group's job ids once the block ends."""
    group, jobs = f"hive-{uuid.uuid4().hex[:8]}", []
    sc.setJobGroup(group, "Hive-layout catch-up")
    try:
        yield jobs
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    jobs += sc.statusTracker().getJobIdsForGroup(group)


@contextmanager
def _conf(spark, key: str, value: str):
    prior = spark.conf.get(key)
    spark.conf.set(key, value)
    try:
        yield
    finally:
        spark.conf.set(key, prior)


def _key_dirs(day_dir: str) -> set[str]:
    return {os.path.basename(p) for p in glob.glob(f"{day_dir}/item_id=*")}


def test_dir_names_equal_partition_by(spark, tmp_path):
    """Keys that need escaping, a space, non-ASCII and a number: the
    ``item_id=`` dir names equal those ``partitionBy`` writes for the same
    rows, and Spark reads the day dir back to the input's rows."""
    keys = ["a/b", "x=y", "p%q", "c:d", "q?r#s", "sp ace", "ünï", "12"]
    tbl = pa.table({"item_id": [keys[i % len(keys)] for i in range(40)]
                    + [None],
                    "seq": list(range(41))})
    in_dir, out, mk = (tmp_path / d for d in ("in", "out", "mk"))
    in_dir.mkdir()
    pq.write_table(tbl, in_dir / f"{DAY}.parquet", row_group_size=16)

    res = run_incremental(spark, "t", str(in_dir), str(out), str(mk),
                          exact_layout=False)
    assert res["processed_days"] == 1

    ref = str(tmp_path / "ref")
    write_partitioned(spark.createDataFrame(tbl.to_pandas()).dropna(),
                      ref, key="item_id")
    day_dir = f"{out}/date={DAY}"
    assert _key_dirs(day_dir) == _key_dirs(ref)
    assert len(_key_dirs(day_dir)) == len(keys)

    with _conf(spark, "spark.sql.sources.partitionColumnTypeInference"
               ".enabled", "false"):
        back = spark.read.parquet(day_dir).collect()
    assert Counter((r.item_id, r.seq) for r in back) == Counter(
        (r["item_id"], r["seq"]) for r in tbl.to_pylist()
        if r["item_id"] is not None)


@pytest.mark.parametrize("mode", ["outputs", "counts"])
def test_reopened_day_loses_departed_keys(spark, tmp_path, mode):
    """A 40-key day reopened with 10 keys keeps exactly those 10 key
    dirs, holding the new file's rows."""
    in_dir, out, mk = (tmp_path / d for d in ("in", "out", "mk"))
    in_dir.mkdir()
    path = in_dir / f"{DAY}.parquet"

    def write_day(n_keys: int, n_rows: int) -> None:
        pq.write_table(pa.table({
            "item_id": [f"k{i % n_keys:02d}" for i in range(n_rows)],
            "seq": list(range(n_rows))}), path)

    write_day(40, 200)
    run_incremental(spark, "t", str(in_dir), str(out), str(mk),
                    exact_layout=False, manifest=mode)
    day_dir = f"{out}/date={DAY}"
    assert len(_key_dirs(day_dir)) == 40

    write_day(10, 50)
    res = run_incremental(spark, "t", str(in_dir), str(out), str(mk),
                          exact_layout=False, manifest=mode,
                          reprocess_changed=True)
    assert res["processed_days"] == 1
    assert _key_dirs(day_dir) == {f"item_id=k{i:02d}" for i in range(10)}
    assert sum(pq.read_metadata(f).num_rows for f in
               glob.glob(f"{day_dir}/item_id=*/*.parquet")) == 50


@pytest.mark.parametrize("mode", ["outputs", "counts"])
def test_catch_up_is_one_job_one_stage_row_group_runs(spark, tmp_path, mode):
    """A 10-day backlog is one job of one stage.  One day of 8 row
    groups is one job too: with a split size below a row group it runs
    ``min(8, defaultParallelism)`` tasks whose key dirs each hold 8
    parts, so no task reads a multi-row-group day whole; with the
    session's split size the small day is one unit, one part per key."""
    sc = spark.sparkContext
    in_dir, out, mk = (tmp_path / d for d in ("in", "out", "mk"))
    in_dir.mkdir()
    for i in range(10):
        pq.write_table(pa.table({"item_id": [f"k{j % 7}" for j in range(50)],
                                 "seq": list(range(50))}),
                       in_dir / f"202501{i + 1:02d}.parquet")
    with _job_group(sc) as jobs:
        res = run_incremental(spark, "t", str(in_dir), str(out), str(mk),
                              exact_layout=False, manifest=mode)
    assert res["processed_days"] == 10
    assert len(glob.glob(f"{out}/date=*/item_id=*/*.parquet")) == 70
    assert len(jobs) == 1, jobs
    assert len(sc.statusTracker().getJobInfo(jobs[0]).stageIds) == 1

    big_in = tmp_path / "in8"
    big_in.mkdir()
    pq.write_table(pa.table({"item_id": [f"k{j % 5}" for j in range(80)],
                             "seq": list(range(80))}),
                   big_in / f"{DAY}.parquet", row_group_size=10)
    assert pq.ParquetFile(big_in / f"{DAY}.parquet").num_row_groups == 8
    with _conf(spark, "spark.sql.files.maxPartitionBytes", "1"), \
            _job_group(sc) as jobs:
        run_incremental(spark, "t", str(big_in), str(tmp_path / "out8"),
                        str(tmp_path / "mk8"), exact_layout=False,
                        manifest=mode)
    assert len(jobs) == 1, jobs
    (stage,) = sc.statusTracker().getJobInfo(jobs[0]).stageIds
    assert (sc.statusTracker().getStageInfo(stage).numTasks
            == min(8, sc.defaultParallelism))
    key_dirs = glob.glob(f"{tmp_path}/out8/date={DAY}/item_id=*")
    assert len(key_dirs) == 5
    for d in key_dirs:
        parts = glob.glob(f"{d}/part-*.parquet")
        assert len(parts) == 8, d
        assert sum(pq.read_metadata(p).num_rows for p in parts) == 16, d

    run_incremental(spark, "t", str(big_in), str(tmp_path / "out1"),
                    str(tmp_path / "mk1"), exact_layout=False, manifest=mode)
    parts = glob.glob(f"{tmp_path}/out1/date={DAY}/item_id=*/*.parquet")
    assert sorted(os.path.basename(p) for p in parts) == [
        "part-00000.parquet"] * 5


def test_row_group_runs_follow_split_midpoints():
    """A row group joins the split that holds its midpoint, as Spark's
    parquet scan assigns it; one larger than a split is a run alone."""
    runs = splitter._row_group_runs
    assert runs([10] * 8, 25) == [[0, 1], [2, 3, 4], [5, 6], [7]]
    assert runs([100, 1, 1], 10) == [[0], [1, 2]]
    assert runs([5, 5], 1 << 20) == [[0, 1]]


def test_uri_out_dir_keeps_escaped_names(tmp_path, monkeypatch):
    """Through a URI out dir (pyarrow's URI parser, which an ``s3a://``
    or ``gs://`` dir also takes), the escaped dir names are written as
    they are: ``%2F`` is not decoded into a subdir and a space does not
    fail the parse.  ``mock://`` keeps the check offline."""
    _, path = splitter.resolve_fs("mock:///out/item_id=a%2Fb/x sp.json")
    assert path == "/out/item_id=a%2Fb/x sp.json"

    day = tmp_path / f"{DAY}.parquet"
    pq.write_table(pa.table({"item_id": ["a/b", "sp ace", "p%q", "ünï"],
                             "seq": [0, 1, 2, 3]}), day)
    real, made = splitter.resolve_fs, []

    def spy(p):
        made.append(real(p))
        return made[-1]

    monkeypatch.setattr(splitter, "resolve_fs", spy)
    (batch,) = splitter._split_file(str(day), DAY, "mock:///out", "item_id",
                                    None, [0])
    assert batch.to_pydict() == {"date": [DAY], "out_path":
                                 [f"mock:///out/date={DAY}"], "rows": [4]}
    (mock,) = [f for f, _ in made if type(f).__name__ == "_MockFileSystem"]
    written = {i.path for i in mock.get_file_info(
        pafs.FileSelector("/out", recursive=True)) if i.is_file}
    assert written == {f"/out/date={DAY}/item_id={k}/part-00000.parquet"
                       for k in ("a%2Fb", "sp ace", "p%25q", "ünï")}


def test_typed_key_dir_names_equal_partition_by(spark, tmp_path):
    """Integer, date, decimal and dictionary keys: the dir names equal
    those ``partitionBy`` writes for Spark's own read of the same day
    file (a decimal in plain notation, ``0.00000001`` and
    ``0.00000000``)."""
    D = decimal.Decimal
    keys = {
        "int": pa.array([-5, 12, 2**40]),
        "date": pa.array([datetime.date(1, 1, 1), datetime.date(2025, 1, 2),
                          datetime.date(9999, 12, 31)]),
        "dec": pa.array([D("0.00000001"), D("0"), D("-1234.50000000")],
                        pa.decimal128(12, 8)),
        "dict": pa.array(["a/b", "x", "a/b"]).dictionary_encode(),
    }
    for name, arr in keys.items():
        in_dir = tmp_path / name / "in"
        in_dir.mkdir(parents=True)
        pq.write_table(pa.table({"item_id": arr, "seq": range(len(arr))}),
                       in_dir / f"{DAY}.parquet")
        out = tmp_path / name / "out"
        run_incremental(spark, "t", str(in_dir), str(out),
                        str(tmp_path / name / "mk"), exact_layout=False)
        ref = str(tmp_path / name / "ref")
        write_partitioned(spark.read.parquet(str(in_dir)), ref)
        assert _key_dirs(f"{out}/date={DAY}") == _key_dirs(ref), name
        assert len(_key_dirs(ref)) == len(set(arr.to_pylist())), name


@pytest.mark.parametrize("arr", [
    pa.array([True, False]), pa.array([1e20, 0.5]),
    pa.array([datetime.datetime(2025, 1, 2, 3, 4, 5, 500000)] * 2)],
    ids=["bool", "double", "timestamp"])
def test_hive_layout_rejects_key_types_it_cannot_name(spark, tmp_path, arr):
    """A key whose dir names Spark's cast would render otherwise than
    Python's ``str`` (``true``, ``1.0E20``, ``...05.5``) raises before
    anything is written or marked."""
    in_dir = tmp_path / "in"
    in_dir.mkdir()
    pq.write_table(pa.table({"item_id": arr, "seq": [0, 1]}),
                   in_dir / f"{DAY}.parquet")
    with pytest.raises(ValueError, match="string, integer, date or decimal"):
        run_incremental(spark, "t", str(in_dir), str(tmp_path / "out"),
                        str(tmp_path / "mk"), exact_layout=False)
    assert not (tmp_path / "out").exists()
    assert not (tmp_path / "mk").exists()

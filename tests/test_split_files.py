"""The catch-up's exact-layout writer, ``splitter.split_files``, driven
through ``run_incremental``: each output keeps its own day file's
schema, a read error in a task fails the run without a marker, and a
backlog is one job of one stage with at most ``defaultParallelism``
tasks."""

import glob
import json
import os
import uuid

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from glue_parquet_splitter_spark.pipeline import incremental, run_incremental


def _markers(marker_dir) -> set[str]:
    return {os.path.basename(p)[: -len(".json")]
            for p in glob.glob(f"{marker_dir}/*.json")}


def test_mixed_backlog_keeps_each_day_schema(spark, tmp_path):
    """One scan of several files takes one file's schema; the outputs of
    a backlog whose days differ in columns and types must not."""
    in_dir, out, mk = (tmp_path / d for d in ("in", "out", "mk"))
    in_dir.mkdir()
    ts = pa.array([1, 2, 3], pa.timestamp("ns"))
    days = {
        "20250101": pa.table({"item_id": ["a", "b", "a"],
                              "x": pa.array([1, 2, 3], pa.int64())}),
        "20250102": pa.table({"item_id": ["a", "b", "a"],
                              "x": pa.array([4, 5, 6], pa.int64()),
                              "y": ["p", "q", "r"]}),
        "20250103": pa.table({"item_id": ["a", "b", "a"],
                              "x": pa.array([7, 8, 9], pa.int32()),
                              "ts": ts}),
    }
    for date, tbl in days.items():
        pq.write_table(tbl, in_dir / f"{date}.parquet")

    res = run_incremental(spark, "t", str(in_dir), str(out), str(mk))
    assert res["processed_days"] == 3

    for date, tbl in days.items():
        want = pq.read_schema(in_dir / f"{date}.parquet").remove_metadata()
        for k in ("a", "b"):
            got = pq.read_table(out / k / f"{date}.parquet")
            assert got.schema.remove_metadata().equals(want), (date, got)
            assert got.to_pylist() == [
                r for r in tbl.to_pylist() if r["item_id"] == k]


@pytest.mark.parametrize("mode", ["outputs", "counts"])
def test_bad_page_with_intact_footer_raises(spark, tmp_path, mode):
    """A day whose footer reads but whose first page header is garbage
    fails the run, and no marker claims it; it never becomes an empty
    marker, as a day of null keys would."""
    in_dir, out, mk = (tmp_path / d for d in ("in", "out", "mk"))
    in_dir.mkdir()
    for date in ("20250101", "20250102", "20250103"):
        pq.write_table(pa.table({"item_id": ["a", "b"] * 50,
                                 "x": list(range(100))}),
                       in_dir / f"{date}.parquet")
    bad = in_dir / "20250102.parquet"
    with open(bad, "r+b") as f:
        f.seek(4)
        f.write(b"\x00" * 20)  # bytes 4-23: the first page header
    pf = pq.ParquetFile(bad)  # the footer still reads
    assert pf.metadata.num_rows == 100 and "item_id" in pf.schema_arrow.names

    with pytest.raises(Exception):
        run_incremental(spark, "t", str(in_dir), str(out), str(mk),
                        manifest=mode)
    assert "20250102" not in _markers(mk)


@pytest.mark.parametrize("mode", ["outputs", "counts"])
def test_task_read_error_with_readable_footer_raises(spark, tmp_path,
                                                     monkeypatch, mode):
    """A day file the tasks cannot read while every footer read of the
    driver succeeds (executors without the driver's credentials, a
    transient error, a file still being written) fails the run with no
    marker; it never becomes an empty marker."""
    in_dir, out, mk = (tmp_path / d for d in ("in", "out", "mk"))
    in_dir.mkdir()
    for date in ("20250101", "20250102", "20250103"):
        pq.write_table(pa.table({"item_id": ["a", "b"] * 5,
                                 "x": list(range(10))}),
                       in_dir / f"{date}.parquet")
    day, hidden = in_dir / "20250102.parquet", tmp_path / "hidden"
    split_files, has_rows = incremental.split_files, incremental._has_rows

    def tasks_cannot_read(*args, **kwargs):
        day.rename(hidden)  # the job runs after this returns
        return split_files(*args, **kwargs)

    def driver_can_read(*args, **kwargs):
        if hidden.exists():
            hidden.rename(day)
        return has_rows(*args, **kwargs)

    monkeypatch.setattr(incremental, "split_files", tasks_cannot_read)
    monkeypatch.setattr(incremental, "_has_rows", driver_can_read)
    with pytest.raises(Exception):
        run_incremental(spark, "t", str(in_dir), str(out), str(mk),
                        manifest=mode)
    assert _markers(mk) == set()


def test_catch_up_is_one_job_one_stage(spark, tmp_path):
    """A 10-day exact-layout catch-up runs one job of one stage with at
    most ``defaultParallelism`` tasks: no scan, shuffle or sort stage."""
    in_dir, out, mk = (tmp_path / d for d in ("in", "out", "mk"))
    in_dir.mkdir()
    for i in range(10):
        pq.write_table(pa.table({"item_id": [f"k{j % 7}" for j in range(50)],
                                 "seq": list(range(50))}),
                       in_dir / f"202501{i + 1:02d}.parquet")

    sc = spark.sparkContext
    group = f"catch-up-{uuid.uuid4().hex[:8]}"
    sc.setJobGroup(group, "one-job catch-up")
    try:
        res = run_incremental(spark, "t", str(in_dir), str(out), str(mk))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert res["processed_days"] == 10
    assert len(glob.glob(f"{out}/*/*.parquet")) == 70

    tracker = sc.statusTracker()
    jobs = tracker.getJobIdsForGroup(group)
    assert len(jobs) == 1, jobs
    (stage,) = tracker.getJobInfo(jobs[0]).stageIds
    assert tracker.getStageInfo(stage).numTasks <= sc.defaultParallelism

    with open(mk / "20250101.json") as f:
        assert json.load(f)["output_count"] == 7

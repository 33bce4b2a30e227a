"""Golden-replay + property tests for the split pipeline (SURVEY.md §5).

Oracle: the ``sample_data`` fixture (conftest.py) — inputs, 9 golden
outputs, 3 marker JSONs.  These are the reference's committed sample
artifacts (FIXTURES.md §A) where present, else a deterministic replica of
their shape whose goldens and markers come from an independent pandas
restatement of the reference's split (``sample_replica.py``, SURVEY.md
§2 semantics 1).  We assert value-equality (schema, values, row order),
not byte equality (codec/version metadata differs across pyarrow builds).
"""

import json
import os

import pandas as pd
import pytest

from glue_parquet_splitter_spark.pipeline import run_incremental, extract_dates
from glue_parquet_splitter_spark.pipeline.splitter import split_day, write_partitioned

DATES = ["20251107", "20251114", "20251121"]


@pytest.fixture(scope="module")
def run_dir(tmp_path_factory, spark, sample_data):
    """Run the incremental pipeline once over the sample input."""
    root = tmp_path_factory.mktemp("split_run")
    out_dir, marker_dir = str(root / "output"), str(root / "markers")
    summary = run_incremental(
        spark, "pyshell", f"{sample_data}/input", out_dir, marker_dir, key="item_id",
    )
    return root, summary


def test_summary_shape(run_dir):
    _, summary = run_dir
    assert summary["processed_days"] == 3
    assert summary["missing_dates"] == DATES
    assert summary["input_files"] == 3


def test_golden_outputs_match(run_dir, sample_data):
    """Every committed golden file equals our output: schema, values, order."""
    root, _ = run_dir
    n_checked = 0
    for item_id in os.listdir(f"{sample_data}/output"):
        for fname in os.listdir(f"{sample_data}/output/{item_id}"):
            golden = pd.read_parquet(f"{sample_data}/output/{item_id}/{fname}")
            ours = pd.read_parquet(str(root / "output" / item_id / fname))
            pd.testing.assert_frame_equal(ours.reset_index(drop=True), golden.reset_index(drop=True))
            n_checked += 1
    assert n_checked == 9


def test_partition_properties(run_dir, spark, sample_data):
    """∀ split: union == input, partitions disjoint + key-homogeneous."""
    root, _ = run_dir
    for date in DATES:
        inp = pd.read_parquet(f"{sample_data}/input/{date}.parquet")
        parts = []
        out = root / "output"
        for item_id in os.listdir(out):
            p = out / item_id / f"{date}.parquet"
            if p.exists():
                part = pd.read_parquet(str(p))
                assert (part["item_id"] == item_id).all()  # homogeneous
                parts.append(part)
        union = pd.concat(parts, ignore_index=True)
        assert len(union) == len(inp)
        # same multiset of rows
        key = ["date", "item_id", "sales_figures", "store_id"]
        a = union.sort_values(key).reset_index(drop=True)
        b = inp.sort_values(key).reset_index(drop=True)
        pd.testing.assert_frame_equal(a, b)


def test_markers(run_dir, sample_data):
    root, _ = run_dir
    for date in DATES:
        with open(root / "markers" / f"{date}.json") as f:
            doc = json.load(f)
        assert doc["date"] == date
        assert doc["output_count"] == 30
        assert len(doc["outputs"]) == 30
        assert doc["kind"] == "pyshell"
        # compare output basenames with the reference's marker golden
        with open(f"{sample_data}/markers/{date}.json") as f:
            ref = json.load(f)
        ours = {"/".join(p.rsplit("/", 2)[-2:]) for p in doc["outputs"]}
        theirs = {"/".join(p.rsplit("/", 2)[-2:]) for p in ref["outputs"]}
        assert ours == theirs
        assert doc["output_count"] == ref["output_count"]


def test_idempotence(run_dir, spark, sample_data):
    """Second run is a no-op given markers (reference :135-138)."""
    root, _ = run_dir
    summary2 = run_incremental(
        spark, "pyshell", f"{sample_data}/input", str(root / "output"), str(root / "markers"),
    )
    assert summary2["processed_days"] == 0
    assert summary2["missing_dates"] == []


def test_extract_dates():
    keys = ["a/b/20251107.parquet", "a/b/20251114.parquet", "a/b/nope.txt",
            "a/b/20251107.parquet"]
    assert extract_dates(keys, ".parquet") == {"20251107", "20251114"}
    assert extract_dates(["m/20251107.json"], ".json") == {"20251107"}


def test_empty_and_missing_column(tmp_path, spark):
    import pyarrow as pa
    import pyarrow.parquet as pq

    # empty input → skipped, no outputs
    empty = pa.table({"item_id": pa.array([], type=pa.string())})
    pq.write_table(empty, str(tmp_path / "in" / "20250101.parquet").replace("in/", "in_/")
                   if False else str(tmp_path / "20250101.parquet"))
    df = spark.read.parquet(str(tmp_path / "20250101.parquet"))
    assert split_day(df, str(tmp_path / "out"), "20250101") == []

    # missing item_id column → hard fail
    bad = spark.createDataFrame([(1,)], "x int")
    with pytest.raises(ValueError, match="item_id"):
        split_day(bad, str(tmp_path / "out2"), "20250101")


def test_write_partitioned_scale_path(tmp_path, spark, sample_data):
    """The idiomatic partitionBy writer produces a readable Hive layout."""
    df = spark.read.parquet(f"{sample_data}/input/20251107.parquet")
    out = str(tmp_path / "hive")
    write_partitioned(df, out, key="item_id")
    back = spark.read.parquet(out)
    assert back.count() == df.count()
    assert back.select("item_id").distinct().count() == 30

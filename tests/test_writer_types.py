"""Type matrix for the exact-layout writer, on both of its paths:
``split_day`` (one day, through Spark's read) and the catch-up of
``run_incremental`` (``split_files``, through pyarrow's read of the day
file).

The input is written with the schema Spark reads for it, so both paths
must give that schema — pinned here column by column: ``split_day``
keeps the schema Spark read, the catch-up the day file's own.  And
``pd.read_parquet`` of an output equals the input rows of that key,
values and order, read the same way.  Every column of key ``a`` carries
a null, so nullable integers, lists and decimals are exercised where a
pandas hop would re-type them.
"""

import datetime as dt
import decimal

import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
import pytest

from glue_parquet_splitter_spark.pipeline import run_incremental
from glue_parquet_splitter_spark.pipeline.splitter import split_day

DATE = "20250101"
TS = [dt.datetime(2025, 1, 1, 12, 0, 0, 123456), None,
      dt.datetime(1999, 12, 31, 23, 59, 59), dt.datetime(2025, 1, 2),
      dt.datetime(1970, 1, 1)]
D = decimal.Decimal

SCHEMA = pa.schema([
    ("item_id", pa.string()),
    ("s", pa.string()),
    ("i32", pa.int32()),
    ("i64", pa.int64()),
    ("f64", pa.float64()),
    ("flag", pa.bool_()),
    ("day", pa.date32()),
    ("ts_tz", pa.timestamp("us", tz="UTC")),
    ("ts_ntz", pa.timestamp("us")),
    ("dec", pa.decimal128(10, 2)),
    # Spark names a list's child field "element"
    ("lst", pa.list_(pa.field("element", pa.int64()))),
])

INPUT = pa.table({
    # rows of a and b interleave, so order is restored, not inherited
    "item_id": ["a", "b", "a", "b", "a"],
    "s": ["x", "y", None, "", "zé"],
    "i32": pa.array([1, 7, None, -8, 2**31 - 1], pa.int32()),
    "i64": pa.array([2**53 + 1, 9, None, 10, -5], pa.int64()),
    "f64": [1.5, 2.5, None, float("nan"), -0.0],
    "flag": [True, False, None, True, False],
    "day": [dt.date(2025, 1, 1), dt.date(2000, 2, 29), None,
            dt.date(1970, 1, 1), dt.date(2100, 2, 28)],
    "ts_tz": pa.array(TS, pa.timestamp("us", tz="UTC")),
    "ts_ntz": pa.array(TS, pa.timestamp("us")),
    "dec": pa.array([D("1.25"), D("-12345678.99"), None, D("3.10"),
                     D("0.00")], pa.decimal128(10, 2)),
    "lst": pa.array([[1, 2], [3], None, [], [None, 4]], pa.list_(pa.int64())),
}, schema=SCHEMA)

# what pd.read_parquet yields for every output (and for the input)
DTYPES = {
    "item_id": "object", "s": "object",
    "i32": "float64", "i64": "float64",  # nullable ints read as float
    "f64": "float64", "flag": "object", "day": "object",
    "ts_tz": "datetime64[us, UTC]", "ts_ntz": "datetime64[us]",
    "dec": "object", "lst": "object",
}


@pytest.fixture(scope="module")
def outputs(spark, tmp_path_factory):
    tmp = tmp_path_factory.mktemp("writer_types")
    in_dir = tmp / "in"
    in_dir.mkdir()
    in_file = in_dir / f"{DATE}.parquet"
    pq.write_table(INPUT, in_file)
    split_day(spark.read.parquet(str(in_file)), str(tmp / "split_day"), DATE)
    res = run_incremental(spark, "t", str(in_dir), str(tmp / "batched"),
                          str(tmp / "markers"))
    assert res["processed_days"] == 1
    return {"split_day": tmp / "split_day", "batched": tmp / "batched"}


def _want(key: str) -> pd.DataFrame:
    return INPUT.filter(pc.equal(INPUT["item_id"], key)).to_pandas()


@pytest.mark.parametrize("path", ["split_day", "batched"])
@pytest.mark.parametrize("key", ["a", "b"])
def test_output_schema_is_the_read_schema(outputs, path, key):
    got = pq.read_schema(outputs[path] / key / f"{DATE}.parquet")
    assert got.remove_metadata().equals(SCHEMA), got


@pytest.mark.parametrize("path", ["split_day", "batched"])
@pytest.mark.parametrize("key", ["a", "b"])
def test_output_frame_values_and_order(outputs, path, key):
    got = pd.read_parquet(outputs[path] / key / f"{DATE}.parquet")
    if key == "a":  # the nulls are all here
        assert {c: str(t) for c, t in got.dtypes.items()} == DTYPES
    pd.testing.assert_frame_equal(got, _want(key))


"""Property-based tests for the split operator (SURVEY.md §5 plan #2):
∀ inputs — union of outputs == non-null-key input, outputs disjoint and
key-homogeneous, row order preserved within groups, null keys dropped
(reference pandas-groupby parity)."""

import os

import pandas as pd
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from glue_parquet_splitter_spark.pipeline.splitter import split_day

keys = st.one_of(st.none(), st.sampled_from(["k1", "k2", "käy", "0003"]))
rows = st.lists(
    st.tuples(keys, st.integers(min_value=-1000, max_value=1000)),
    min_size=0, max_size=40,
)


@settings(max_examples=12, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(data=rows)
def test_split_partition_properties(data, spark, tmp_path_factory):
    tmp = tmp_path_factory.mktemp("prop")
    pdf = pd.DataFrame(data, columns=["item_id", "val"])
    pdf["val"] = pdf["val"].astype("int64")
    df = spark.createDataFrame(pdf.astype({"item_id": object}),
                               schema="item_id string, val long")
    outputs = split_day(df, str(tmp / "out"), "20250101")

    nn = pdf[pdf.item_id.notna()].reset_index(drop=True)
    assert len(outputs) == nn.item_id.nunique()

    parts = []
    for path in outputs:
        part = pd.read_parquet(path)
        k = os.path.basename(os.path.dirname(path))
        assert (part["item_id"] == k).all()          # homogeneous
        expected = nn[nn.item_id == k].reset_index(drop=True)
        pd.testing.assert_frame_equal(part.reset_index(drop=True), expected)  # order kept
        parts.append(part)
    union = (pd.concat(parts, ignore_index=True) if parts
             else pd.DataFrame(columns=["item_id", "val"]))
    assert len(union) == len(nn)                     # union == input (sans null keys)


# the batched catch-up (``run_incremental``): several days in one job,
# each file of several row groups, null keys and one hot key
day_keys = st.lists(st.sampled_from(["hot"] * 6 + ["k1", "k2", "k3", None]),
                    min_size=60, max_size=160).map(lambda ks: [None, "hot"] + ks)


@settings(max_examples=4, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(days=st.lists(day_keys, min_size=2, max_size=3))
def test_batched_split_keeps_input_order(days, spark, tmp_path_factory):
    import pyarrow as pa
    import pyarrow.parquet as pq

    from glue_parquet_splitter_spark.pipeline import run_incremental

    tmp = tmp_path_factory.mktemp("batched")
    in_dir = tmp / "in"
    in_dir.mkdir()
    inputs = {}
    for i, ks in enumerate(days):
        date = f"2025010{i + 1}"
        # seq numbers the rows in input order
        pdf = pd.DataFrame({"item_id": pd.Series(ks, dtype=object),
                            "seq": range(len(ks))})
        pq.write_table(pa.Table.from_pandas(pdf, preserve_index=False),
                       in_dir / f"{date}.parquet", row_group_size=8)
        inputs[date] = pdf

    # a pyarrow reader sees every file as several row groups
    assert all(pq.ParquetFile(in_dir / f).num_row_groups > 1
               for f in os.listdir(in_dir))
    res = run_incremental(spark, "t", str(in_dir), str(tmp / "out"),
                          str(tmp / "mk"))
    assert res["processed_days"] == len(days)

    for date, pdf in inputs.items():
        nn = pdf[pdf.item_id.notna()]
        for k, want in nn.groupby("item_id"):
            got = pd.read_parquet(tmp / "out" / k / f"{date}.parquet")
            pd.testing.assert_frame_equal(got, want.reset_index(drop=True))
    written = {(k, f) for k in os.listdir(tmp / "out")
               for f in os.listdir(tmp / "out" / k)}
    assert written == {(k, f"{date}.parquet") for date, pdf in inputs.items()
                       for k in pdf.item_id.dropna()}

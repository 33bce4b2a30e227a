"""Deterministic replica of the reference's sample data, with its goldens.

The golden-replay tests read the reference's committed sample artifacts
(FIXTURES.md §A) when they are present.  Where they are not, the
``sample_data`` fixture in ``conftest.py`` writes this replica instead:

- ``input/<YYYYMMDD>.parquet``: the three day files of FIXTURES.md §A,
  10,000 rows each, random rows drawn from ``SEED``;
- ``output/<item_id>/<YYYYMMDD>.parquet``: the 9 goldens the reference
  committed (item_ids 1-3 x 3 days);
- ``markers/<YYYYMMDD>.json``: one marker per day, with the fields of
  FIXTURES.md §A.

The goldens and markers come from the reference algorithm restated with
pandas (SURVEY.md §2, semantics 1): ``output/<k>/<d>.parquet`` is
``input_d[input_d.item_id == k]`` in input order.  This module imports
nothing from ``glue_parquet_splitter_spark``, so the replay never checks
the package against itself (``tests/test_repo_lint.py`` holds it to that).

Run as a script to write a replica into DIR:

    python tests/sample_replica.py DIR
"""

import datetime as dt
import json
import os
import sys

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

SEED = 20251107  # fixed: the replica is the same on every machine
DATES = ("20251107", "20251114", "20251121")
ROWS_PER_FILE = 10_000
ITEM_IDS = tuple(f"{i:010d}" for i in range(1, 31))
STORE_IDS = tuple(f"{i:04d}" for i in range(1, 51))
DAYS_PER_FILE = 7
MAX_SALES = 100
GOLDEN_KEYS = ITEM_IDS[:3]
KIND = "pyshell"
GENERATED_AT = "2025-11-22T00:00:00Z"
SCHEMA = pa.schema([
    ("date", pa.string()),
    ("item_id", pa.string()),
    ("sales_figures", pa.int64()),
    ("store_id", pa.string()),
])


def in_file_dates(date: str) -> list[str]:
    """The 7 ``yyyy/MM/dd`` days ending the day before the file's date."""
    end = dt.datetime.strptime(date, "%Y%m%d").date()
    return [(end - dt.timedelta(days=i)).strftime("%Y/%m/%d")
            for i in range(DAYS_PER_FILE, 0, -1)]


def make_day(date: str, rng: np.random.Generator) -> pa.Table:
    """One day file: every column drawn uniformly, rows in draw order."""
    n = ROWS_PER_FILE

    def pick(values):
        return np.asarray(values)[rng.integers(0, len(values), n)]

    return pa.table({
        "date": pick(in_file_dates(date)),
        "item_id": pick(ITEM_IDS),
        "sales_figures": rng.integers(0, MAX_SALES + 1, n, dtype=np.int64),
        "store_id": pick(STORE_IDS),
    }, schema=SCHEMA)


def split_oracle(df: pd.DataFrame) -> dict:
    """The reference's fan-out (parquet-splitter.py:165-168): pandas
    ``groupby`` iteration, which keeps each key's rows in input order."""
    return {k: g for k, g in df.groupby("item_id")}


def write_replica(root: str) -> str:
    """Write ``input/``, ``output/`` and ``markers/`` under ``root``,
    check them against FIXTURES.md §A, and return ``root``."""
    rng = np.random.default_rng(SEED)
    for sub in ("input", "output", "markers"):
        os.makedirs(os.path.join(root, sub), exist_ok=True)
    for date in DATES:
        in_path = os.path.join(root, "input", f"{date}.parquet")
        pq.write_table(make_day(date, rng), in_path, compression="snappy")

        groups = split_oracle(pd.read_parquet(in_path))
        for key in GOLDEN_KEYS:
            out_path = os.path.join(root, "output", key, f"{date}.parquet")
            os.makedirs(os.path.dirname(out_path), exist_ok=True)
            golden = pa.Table.from_pandas(groups[key], schema=SCHEMA,
                                          preserve_index=False)
            pq.write_table(golden.replace_schema_metadata(None), out_path,
                           compression="snappy")

        outputs = [os.path.join(root, "output", k, f"{date}.parquet")
                   for k in sorted(groups)]
        marker = {
            "kind": KIND,
            "date": date,
            "input_key": in_path,
            "outputs": outputs,
            "output_count": len(outputs),
            "generated_at": GENERATED_AT,
        }
        with open(os.path.join(root, "markers", f"{date}.json"), "w") as f:
            json.dump(marker, f, indent=2)
    check_replica(root)
    return root


def check_replica(root: str) -> None:
    """Fail loudly where the written replica departs from FIXTURES.md §A;
    a wrong replica would leave the replay tests checking nothing."""
    assert sorted(os.listdir(os.path.join(root, "input"))) == \
        [f"{d}.parquet" for d in DATES]
    for date in DATES:
        path = os.path.join(root, "input", f"{date}.parquet")
        meta = pq.read_metadata(path)
        assert meta.num_rows == ROWS_PER_FILE, (path, meta.num_rows)
        assert meta.num_row_groups == 1, (path, meta.num_row_groups)
        schema = pq.read_schema(path)
        assert schema.equals(SCHEMA), (path, schema)
        assert schema.metadata is None, (path, schema.metadata)
        df = pd.read_parquet(path)
        assert set(df["item_id"]) == set(ITEM_IDS), path
        assert set(df["store_id"]) == set(STORE_IDS), path
        assert set(df["date"]) == set(in_file_dates(date)), path
        assert df["sales_figures"].between(0, MAX_SALES).all(), path
    goldens = [(k, f) for k in os.listdir(os.path.join(root, "output"))
               for f in os.listdir(os.path.join(root, "output", k))]
    assert len(goldens) == len(GOLDEN_KEYS) * len(DATES), goldens
    markers = sorted(os.listdir(os.path.join(root, "markers")))
    assert markers == [f"{d}.json" for d in DATES], markers
    for name in markers:
        with open(os.path.join(root, "markers", name)) as f:
            doc = json.load(f)
        assert doc["kind"] == KIND
        assert doc["output_count"] == len(doc["outputs"]) == len(ITEM_IDS)


if __name__ == "__main__":
    if len(sys.argv) != 2:
        sys.exit("usage: python tests/sample_replica.py DIR")
    print(write_replica(sys.argv[1]))

"""Output checks.  Each returns a list of problems; empty means correct.

Expected values come from the generated inputs through pandas, never
from the engine under test.
"""

from __future__ import annotations

import json
import os

import pandas as pd
import pyarrow as pa
import pyarrow.dataset as ds
import pyarrow.parquet as pq

from gen import SPLIT_COLUMNS


def row_checksum(df: pd.DataFrame) -> int:
    """Order-insensitive content checksum: the wrapping uint64 sum of
    per-row hashes over the split columns."""
    h = pd.util.hash_pandas_object(df[list(SPLIT_COLUMNS)], index=False)
    return int(h.to_numpy().sum())


def expected_split(in_paths: list[str]) -> dict[str, dict[str, tuple[int, int]]]:
    """date -> item_id -> (rows, checksum) from the day files."""
    out: dict[str, dict[str, tuple[int, int]]] = {}
    for p in in_paths:
        date = os.path.basename(p)[: -len(".parquet")]
        df = pq.read_table(p).to_pandas()
        out[date] = {k: (len(g), row_checksum(g))
                     for k, g in df.groupby("item_id")}
    return out


def check_split(expected: dict, out_dir: str, marker_dir: str,
                content=None) -> list[str]:
    """Every ``<item_id>/<date>.parquet`` exists with the exact rows,
    nothing else was written for those days, and each day's marker lists
    exactly those paths.  The files of the dates in ``content`` (all
    dates when ``None``) must also match the expected checksum; the other
    files are checked by their footer row counts only."""
    problems = []
    for date, by_key in expected.items():
        full = content is None or date in content
        want_paths = set()
        for key, (rows, checksum) in by_key.items():
            path = os.path.join(out_dir, key, f"{date}.parquet")
            want_paths.add(path)
            if not os.path.exists(path):
                problems.append(f"missing output {path}")
                continue
            if full:
                got = pq.read_table(path).to_pandas()
                n, ok = len(got), row_checksum(got) == checksum
            else:
                n, ok = pq.read_metadata(path).num_rows, True
            if n != rows or not ok:
                problems.append(f"wrong content in {path}: {n} rows, "
                                f"want {rows}")
        marker = os.path.join(marker_dir, f"{date}.json")
        try:
            with open(marker) as f:
                listed = {p.removeprefix("file:") for p in json.load(f)["outputs"]}
        except (OSError, ValueError, KeyError) as e:
            problems.append(f"bad marker {marker}: {e}")
            continue
        if listed != want_paths:
            problems.append(f"marker {marker} lists {len(listed)} paths, "
                            f"want {len(want_paths)}")
    return problems


def key_counts(in_paths: list[str]) -> dict[str, int]:
    counts: dict[str, int] = {}
    for p in in_paths:
        vc = pq.read_table(p, columns=["item_id"]).to_pandas()["item_id"]
        for k, n in vc.value_counts().items():
            counts[k] = counts.get(k, 0) + int(n)
    return counts


def check_compacted(want: dict[str, int], out_dir: str) -> list[str]:
    """The compacted Hive-layout dataset holds the input's rows, key by
    key."""
    layout = ds.partitioning(pa.schema([("batch", pa.string()),
                                        ("item_id", pa.string())]),
                             flavor="hive")
    table = ds.dataset(out_dir, format="parquet", partitioning=layout,
                       ignore_prefixes=[".", "_"]).to_table(columns=["item_id"])
    got = {k: int(v) for k, v in
           table.to_pandas()["item_id"].value_counts().items()}
    if got == want:
        return []
    return [f"compacted per-key counts differ: {sum(got.values())} rows, "
            f"want {sum(want.values())}"]


def tree_bytes(*dirs: str, suffix: str = "") -> int:
    total = 0
    for d in dirs:
        for root, _, files in os.walk(d):
            total += sum(os.path.getsize(os.path.join(root, f)) for f in files
                         if f.endswith(suffix))
    return total


def tree_files(directory: str, suffix: str = ".parquet") -> int:
    return sum(f.endswith(suffix) for _, _, files in os.walk(directory)
               for f in files)

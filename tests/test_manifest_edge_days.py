"""Edge-day marker semantics (ADVICE r5): a day whose rows are ALL
null-keyed must still commit a marker (empty outputs / 0 count) in
every mode — otherwise the batched driver re-schedules it forever and
the counts-mode manifest read used to crash on schema inference.  A
truly EMPTY day keeps the O9 skip semantics: no marker, retried."""

import glob
import json
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from glue_parquet_splitter_spark.pipeline import run_incremental

SCHEMA = pa.schema([
    ("date", pa.string()),
    ("item_id", pa.string()),
    ("sales_figures", pa.int64()),
])


def _make_input(spark, in_dir):
    os.makedirs(in_dir, exist_ok=True)
    # 20250401: normal day (2 keys)
    pq.write_table(pa.table({
        "date": ["20250401"] * 4,
        "item_id": ["a", "a", "b", "b"],
        "sales_figures": [1, 2, 3, 4],
    }, schema=SCHEMA), f"{in_dir}/20250401.parquet")
    # 20250402: rows exist but every key is null
    pq.write_table(pa.table({
        "date": ["20250402"] * 3,
        "item_id": pa.array([None, None, None], pa.string()),
        "sales_figures": [5, 6, 7],
    }, schema=SCHEMA), f"{in_dir}/20250402.parquet")
    # 20250403: truly empty (0 rows, valid schema)
    pq.write_table(SCHEMA.empty_table(), f"{in_dir}/20250403.parquet")


def _markers(marker_dir):
    docs = {}
    for p in glob.glob(f"{marker_dir}/*.json"):
        with open(p) as f:
            docs[os.path.basename(p)[:-5]] = json.load(f)
    return docs


@pytest.mark.parametrize("mode", ["outputs", "counts"])
def test_all_null_day_commits_zero_marker(spark, tmp_path, mode):
    tmp = str(tmp_path)
    in_dir = f"{tmp}/input"
    _make_input(spark, in_dir)
    out, mk = f"{tmp}/out_{mode}", f"{tmp}/mk_{mode}"
    run_incremental(spark, "t", in_dir, out, mk, manifest=mode)

    docs = _markers(mk)
    # normal day processed, null day marked with zero outputs,
    # empty day skipped (O9) — no marker, retried next run
    assert set(docs) == {"20250401", "20250402"}
    assert docs["20250401"]["output_count"] == 2
    assert docs["20250402"]["output_count"] == 0
    if mode == "outputs" and "outputs" in docs["20250402"]:
        assert docs["20250402"]["outputs"] == []
    # no data files were written for the null day
    assert glob.glob(f"{out}/*/20250402.parquet") == []

    # second run: the two marked days stay settled; only the empty day
    # is re-examined (and skipped again)
    summary = run_incremental(spark, "t", in_dir, out, mk, manifest=mode)
    assert summary["processed_days"] == 0


@pytest.mark.parametrize("mode", ["outputs", "counts"])
def test_day_by_day_null_day_matches_batched(spark, tmp_path, mode):
    """With an unreadable day file in the same backlog, the null day
    still commits its zero marker (the counts-mode read used to abort
    on the empty manifest dir)."""
    tmp = str(tmp_path)
    in_dir = f"{tmp}/input"
    _make_input(spark, in_dir)
    # a corrupt extra day: its footer read fails, so it is warned about
    # and skipped before the split job, and gets no marker
    with open(f"{in_dir}/20250404.parquet", "wb") as f:
        f.write(b"not parquet at all")
    out, mk = f"{tmp}/out_{mode}", f"{tmp}/mk_{mode}"
    run_incremental(spark, "t", in_dir, out, mk, manifest=mode)

    docs = _markers(mk)
    assert set(docs) == {"20250401", "20250402"}
    assert docs["20250402"]["output_count"] == 0


@pytest.mark.parametrize("mode", ["outputs", "counts"])
def test_escaped_day_name_settles_after_one_run(spark, tmp_path, mode):
    """Spark URI-encodes file names (``2025 01%01`` → ``2025%2001%2501``).
    Outputs and markers must carry the listing's date key, or the
    scheduler never sees the day as done and reprocesses it forever."""
    from glue_parquet_splitter_spark.pipeline.incremental import (
        extract_dates, list_files)

    in_dir, out, mk = (str(tmp_path / d) for d in ("input", "out", "mk"))
    os.makedirs(in_dir)
    pq.write_table(pa.table({
        "date": ["x"] * 3,
        "item_id": ["a", "b", "a"],
        "sales_figures": [1, 2, 3],
    }, schema=SCHEMA), f"{in_dir}/2025 01%01.parquet")
    (date,) = extract_dates(list_files(spark, in_dir, ".parquet"), ".parquet")
    assert date == "2025 01%01"

    first = run_incremental(spark, "t", in_dir, out, mk, manifest=mode)
    second = run_incremental(spark, "t", in_dir, out, mk, manifest=mode)
    assert (first["processed_days"], second["processed_days"]) == (1, 0)

    docs = _markers(mk)
    assert set(docs) == {date} and docs[date]["date"] == date
    assert docs[date]["output_count"] == 2
    assert sorted(glob.glob(f"{out}/*/*.parquet")) == [
        f"{out}/a/{date}.parquet", f"{out}/b/{date}.parquet"]
    if mode == "outputs":
        assert docs[date]["outputs"] == [f"{out}/a/{date}.parquet",
                                         f"{out}/b/{date}.parquet"]
    else:  # the manifest pointer names the day's manifest dir, verbatim
        assert len(glob.glob(
            f"{glob.escape(docs[date]['outputs_manifest'])}/*.json")) >= 1


@pytest.mark.parametrize("mode", ["outputs", "counts"])
def test_day_without_key_column_fails_in_backlog(spark, tmp_path, mode):
    """A day with rows but no key column is a hard failure, as when it is
    split alone — also when a good day ahead of it gives the backlog
    scan its schema, so the scan reads the bad day's keys as null."""
    in_dir, out, mk = (str(tmp_path / d) for d in ("input", "out", "mk"))
    os.makedirs(in_dir)
    pq.write_table(pa.table({
        "date": ["20250501"] * 2,
        "item_id": ["a", "b"],
        "sales_figures": [1, 2],
    }, schema=SCHEMA), f"{in_dir}/20250501.parquet")
    pq.write_table(pa.table({
        "date": ["20250502"] * 2,
        "sales_figures": [3, 4],
    }), f"{in_dir}/20250502.parquet")

    with pytest.raises(ValueError, match="item_id"):
        run_incremental(spark, "t", in_dir, out, mk, manifest=mode)
    assert "20250502" not in _markers(mk)


def test_empty_day_without_key_column_is_skipped(spark, tmp_path):
    """An empty day is the O9 skip even when its schema lacks the key
    column, and it does not stop the good day behind it."""
    in_dir, out, mk = (str(tmp_path / d) for d in ("input", "out", "mk"))
    os.makedirs(in_dir)
    pq.write_table(pa.schema([("date", pa.string())]).empty_table(),
                   f"{in_dir}/20250601.parquet")
    pq.write_table(pa.table({
        "date": ["20250602"] * 2,
        "item_id": ["a", "b"],
        "sales_figures": [1, 2],
    }, schema=SCHEMA), f"{in_dir}/20250602.parquet")

    summary = run_incremental(spark, "t", in_dir, out, mk)
    assert summary["processed_days"] == 1
    assert set(_markers(mk)) == {"20250602"}


@pytest.mark.parametrize("mode", ["outputs", "counts"])
def test_hive_layout_run(spark, tmp_path, mode):
    """``exact_layout=False``: each day with non-null keys lands under
    ``<out>/date=<d>/item_id=<k>/``; the all-null day commits an empty
    marker, the empty day none, and a second run has nothing to do."""
    tmp = str(tmp_path)
    in_dir = f"{tmp}/input"
    _make_input(spark, in_dir)
    out, mk = f"{tmp}/out_{mode}", f"{tmp}/mk_{mode}"
    first = run_incremental(spark, "t", in_dir, out, mk,
                            exact_layout=False, manifest=mode)
    assert first["processed_days"] == 2

    got = []
    for f in glob.glob(f"{out}/date=*/item_id=*/part-*.parquet"):
        day = f.split("/date=", 1)[1].split("/", 1)[0]
        k = f.split("/item_id=", 1)[1].split("/", 1)[0]
        got += [(day, k, r["date"], r["sales_figures"])
                for r in pq.read_table(f).to_pylist()]
    want = []
    for f in sorted(glob.glob(f"{in_dir}/*.parquet")):
        day = os.path.basename(f)[: -len(".parquet")]
        want += [(day, r["item_id"], r["date"], r["sales_figures"])
                 for r in pq.read_table(f).to_pylist()
                 if r["item_id"] is not None]
    assert sorted(got) == sorted(want)

    docs = _markers(mk)
    assert set(docs) == {"20250401", "20250402"}
    assert [docs[d]["output_count"] for d in sorted(docs)] == [1, 0]
    if mode == "outputs":
        assert docs["20250401"]["outputs"] == [f"{out}/date=20250401"]
        assert docs["20250402"]["outputs"] == []
    else:
        for doc in docs.values():
            assert doc["outputs_manifest"] is None and "outputs" not in doc

    second = run_incremental(spark, "t", in_dir, out, mk,
                             exact_layout=False, manifest=mode)
    assert second["processed_days"] == 0


@pytest.mark.parametrize("exact_layout", [True, False])
@pytest.mark.parametrize("mode", ["outputs", "counts"])
def test_write_failure_raises(spark, tmp_path, mode, exact_layout):
    """A readable day that cannot be written stops the run and gets no
    marker; it is not skipped like an unreadable input file."""
    tmp = str(tmp_path)
    in_dir = f"{tmp}/input"
    _make_input(spark, in_dir)
    out, mk = f"{tmp}/out", f"{tmp}/mk"
    with open(out, "w") as f:
        f.write("a file where the output directory should be")

    with pytest.raises(Exception):
        run_incremental(spark, "t", in_dir, out, mk,
                        exact_layout=exact_layout, manifest=mode)
    assert _markers(mk) == {}

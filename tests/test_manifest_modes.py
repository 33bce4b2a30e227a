"""Marker-manifest modes: reference-parity "outputs" vs scale "counts".

VERDICT r3 flagged the exact-layout manifest collect
(`incremental.py` / `splitter.py`) as the one driver-side list that
breaks at millions of keys/day.  `manifest="counts"` replaces it with
executor-written per-day manifest files + an in-plan count.  These
tests pin the equivalence contract: identical marker semantics, and a
per-key list that never lands on the driver.
"""

import glob
import json
import os
import uuid

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from glue_parquet_splitter_spark.pipeline import run_incremental

N_DAYS = 3
N_KEYS = 40
ROWS_PER_DAY = 400


def _make_input(spark, tmp, in_dir):
    os.makedirs(in_dir, exist_ok=True)
    for i, date in enumerate(f"202502{d:02d}" for d in range(1, N_DAYS + 1)):
        df = spark.range(ROWS_PER_DAY).select(
            F.lit(date).alias("date"),
            F.lpad((F.col("id") % N_KEYS).cast("string"), 10, "0").alias("item_id"),
            (F.col("id") % 7).alias("sales_figures"),
        )
        stage = f"{tmp}/stage{i}"
        df.coalesce(1).write.mode("overwrite").parquet(stage)
        part = [f for f in os.listdir(stage) if f.endswith(".parquet")][0]
        os.rename(f"{stage}/{part}", f"{in_dir}/{date}.parquet")


@pytest.fixture(scope="module")
def both_runs(spark, tmp_path_factory):
    tmp = str(tmp_path_factory.mktemp("manifest_modes"))
    in_dir = f"{tmp}/input"
    _make_input(spark, tmp, in_dir)
    summaries = {}
    for mode in ("outputs", "counts"):
        summaries[mode] = run_incremental(
            spark, "t", in_dir, f"{tmp}/out_{mode}", f"{tmp}/markers_{mode}",
            manifest=mode)
    return tmp, summaries


def _markers(marker_dir):
    docs = {}
    for p in glob.glob(f"{marker_dir}/*.json"):
        with open(p) as f:
            docs[os.path.basename(p)[:-5]] = json.load(f)
    return docs


def _manifest_rows(doc):
    rows = []
    for mp in glob.glob(f"{glob.escape(doc['outputs_manifest'])}/*.json"):
        with open(mp) as f:
            rows += [json.loads(line) for line in f if line.strip()]
    return rows


def test_both_modes_process_all_days(both_runs):
    _, summaries = both_runs
    assert summaries["outputs"]["processed_days"] == N_DAYS
    assert summaries["counts"]["processed_days"] == N_DAYS


def test_marker_docs_equivalent(both_runs):
    """counts-mode markers carry the same commit facts; the outputs
    list is reachable through the manifest pointer and identical."""
    tmp, _ = both_runs
    a, b = (_markers(f"{tmp}/markers_{m}") for m in ("outputs", "counts"))
    assert set(a) == set(b) and len(a) == N_DAYS
    for date in a:
        da, db = a[date], b[date]
        for fld in ("kind", "date", "output_count"):
            assert da[fld] == db[fld], (date, fld)
        assert da["input_key"] == db["input_key"]
        assert da["output_count"] == N_KEYS
        # exact mode embeds the list; counts mode points at a manifest
        assert "outputs" in da and "outputs_manifest" not in da
        assert "outputs" not in db and "outputs_manifest" in db
        manifest_rows = []
        for mp in glob.glob(f"{db['outputs_manifest']}/*.json"):
            with open(mp) as f:
                manifest_rows += [
                    r for r in (json.loads(line) for line in f if line.strip())
                    # every line names one output object; a line without
                    # an out_path would not be one
                    if r.get("out_path") is not None
                ]
        # same output set, modulo the mode-specific output root
        rel = lambda paths, root: sorted(  # noqa: E731
            p.split(root, 1)[1] for p in paths)
        assert rel([r["out_path"] for r in manifest_rows], "out_counts") == \
            rel(da["outputs"], "out_outputs")


def test_counts_mode_data_files_match_exact_mode(both_runs):
    tmp, _ = both_runs
    import duckdb

    for date in ("20250201", "20250203"):
        for k in ("0000000000", "0000000013"):
            qa = duckdb.sql(
                f"SELECT * FROM '{tmp}/out_outputs/{k}/{date}.parquet'").df()
            qb = duckdb.sql(
                f"SELECT * FROM '{tmp}/out_counts/{k}/{date}.parquet'").df()
            assert qa.equals(qb)


def test_counts_mode_idempotent(both_runs, spark):
    tmp, _ = both_runs
    again = run_incremental(spark, "t", f"{tmp}/input", f"{tmp}/out_counts",
                            f"{tmp}/markers_counts", manifest="counts")
    assert again["processed_days"] == 0


def test_counts_mode_collects_one_row_per_day(spark, tmp_path, monkeypatch):
    """The scale claim, end to end: a counts-mode run over a day with
    20k keys writes a 20k-line manifest and a matching count, while no
    collect of the run brings more rows to the driver than there are
    days — never the per-key list."""
    n_keys = 20_000
    in_dir = tmp_path / "input"
    in_dir.mkdir()
    days = {"20250301": n_keys, "20250302": 3}
    for date, n in days.items():
        pq.write_table(pa.table({"item_id": [f"k{i:05d}" for i in range(n)],
                                 "v": list(range(n))}),
                       in_dir / f"{date}.parquet")

    collected = []
    frame = type(spark.range(1))  # the session's concrete DataFrame class
    collect = frame.collect

    def counting_collect(self):
        rows = collect(self)
        collected.append(len(rows))
        return rows

    monkeypatch.setattr(frame, "collect", counting_collect)
    mk = f"{tmp_path}/markers"
    summary = run_incremental(spark, "t", str(in_dir), f"{tmp_path}/out", mk,
                              manifest="counts")
    monkeypatch.undo()

    assert summary["processed_days"] == len(days)
    assert collected and max(collected) <= len(days), collected
    docs = _markers(mk)
    for date, n in days.items():
        assert docs[date]["output_count"] == n
        assert len(_manifest_rows(docs[date])) == n


@pytest.mark.parametrize("mode,max_jobs", [("outputs", 1), ("counts", 2)])
def test_catch_up_job_count(spark, tmp_path, mode, max_jobs):
    """Outputs mode is the one split job; counts mode adds no more than
    the per-day count's own job: the manifests ride the split tasks."""
    tmp = str(tmp_path)
    _make_input(spark, tmp, f"{tmp}/input")
    sc = spark.sparkContext
    group = f"manifest-{mode}-{uuid.uuid4().hex[:8]}"
    sc.setJobGroup(group, f"{mode}-mode catch-up")
    try:
        res = run_incremental(spark, "t", f"{tmp}/input", f"{tmp}/out",
                              f"{tmp}/markers", manifest=mode)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert res["processed_days"] == N_DAYS
    jobs = sc.statusTracker().getJobIdsForGroup(group)
    assert 1 <= len(jobs) <= max_jobs, jobs


def test_counts_mode_skips_corrupt_day(spark, tmp_path):
    """A corrupt file in a counts-mode backlog fails its footer check
    and is skipped before the split job; the good days still get
    counts-schema markers, never driver-side output lists (mixed marker
    schemas)."""
    tmp = str(tmp_path)
    in_dir = f"{tmp}/input"
    _make_input(spark, tmp, in_dir)
    with open(f"{in_dir}/20250204.parquet", "wb") as f:
        f.write(b"not a parquet file")  # fails the footer check
    summary = run_incremental(spark, "t", in_dir, f"{tmp}/out",
                              f"{tmp}/markers_fb", manifest="counts")
    assert summary["processed_days"] == N_DAYS  # bad day skipped, rest ok
    docs = _markers(f"{tmp}/markers_fb")
    assert set(docs) == {f"202502{d:02d}" for d in range(1, N_DAYS + 1)}
    for date, doc in docs.items():
        assert "outputs" not in doc, f"{date}: wrote an outputs list"
        assert doc["output_count"] == N_KEYS
        rows = []
        for mp in glob.glob(f"{doc['outputs_manifest']}/*.json"):
            with open(mp) as f:
                rows += [json.loads(line) for line in f if line.strip()]
        assert len(rows) == N_KEYS
        assert all(os.path.exists(r["out_path"]) for r in rows)


def test_reopened_day_rewrites_its_manifest_in_place(spark, tmp_path):
    """A reopened day (its input changed, so did its fingerprint)
    rewrites its manifest at the same path: the marker keeps pointing
    there, the manifest lists the new outputs only, and ``_manifests/``
    holds one dir per marked day, so nothing is left to collect."""
    tmp = str(tmp_path)
    in_dir = f"{tmp}/input"
    _make_input(spark, tmp, in_dir)
    marker_dir = f"{tmp}/markers"
    run_incremental(spark, "t", in_dir, f"{tmp}/out", marker_dir,
                    manifest="counts")
    day = "20250202"
    before = _markers(marker_dir)[day]
    assert before["output_count"] == N_KEYS

    # the day comes back with fewer keys
    n_keys = N_KEYS // 4
    pq.write_table(pa.table({"item_id": [f"{i % n_keys:010d}"
                                         for i in range(100)]}),
                   f"{in_dir}/{day}.parquet")
    again = run_incremental(spark, "t", in_dir, f"{tmp}/out", marker_dir,
                            manifest="counts", reprocess_changed=True)
    assert again["processed_days"] == 1

    docs = _markers(marker_dir)
    after = docs[day]
    assert after["outputs_manifest"] == before["outputs_manifest"]
    assert after["output_count"] == n_keys
    assert len(_manifest_rows(after)) == after["output_count"]
    assert os.listdir(after["outputs_manifest"]) == ["part-0.json"]
    assert sorted(os.listdir(f"{marker_dir}/_manifests")) == sorted(docs)

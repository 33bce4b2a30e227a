"""staging.py, session.py and the split pipeline on a multi-process
master.

``local-cluster[2,1,1024]`` runs two executors as separate JVMs, so
lost executors, package shipping, thread-local job properties and
executor-side reads of the day files behave as on a real cluster.  The
suite's session fixture holds this process's only SparkContext, so the
cluster runs in a subprocess: this file doubles as that script
(``python test_local_cluster.py <out.json>``, with
``spark.checkpoint.dir`` passed in ``PYSPARK_SUBMIT_ARGS``), which
writes what it saw as JSON for the test to check.
"""

import json
import os
import shutil
import subprocess
import sys
import time
from functools import partial

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
MASTER = "local-cluster[2,1,1024]"
EDGES = [(1, 2), (1, 3), (11, 10), (12, 12)]


def _executors(sc) -> list[str]:
    ids = sc._jsc.sc().getExecutorIds().mkString(",")
    return [e for e in ids.split(",") if e]


def _wait(cond, what: str, timeout: float = 120.0) -> None:
    deadline = time.monotonic() + timeout
    while not cond():
        if time.monotonic() > deadline:
            raise TimeoutError(what)
        time.sleep(0.2)


def _components(spark) -> list[list[int]]:
    from glue_parquet_splitter_spark.operators.graph import \
        connected_components

    edges = spark.createDataFrame(EDGES, "src long, dst long")
    return sorted([r.vertex, r.component]
                  for r in connected_components(edges).collect())


def _guarded() -> bool:
    """Whether this process runs session.guard_zip_rereads."""
    import zipimport

    return getattr(zipimport.zipimporter.invalidate_caches,
                   "skips_unchanged_archives", False)


def _where(batches):
    import pandas as pd

    import glue_parquet_splitter_spark as pkg

    for _ in batches:
        # cwd: the executor's work dir, <SPARK_HOME>/work/<app>/<exec>
        yield pd.DataFrame({"cwd": [os.getcwd()], "pkg": [pkg.__file__],
                            "guarded": [_guarded()]})


def _split_backlog(spark, work: str) -> dict:
    """A 3-day catch-up of multi-row-group day files; counts the output
    files whose rows are not exactly that key's input rows, in order."""
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from glue_parquet_splitter_spark.pipeline import run_incremental

    in_dir, out = os.path.join(work, "in"), os.path.join(work, "out")
    os.makedirs(in_dir)
    days, n = {}, 3000
    for d in range(3):
        # a hot key and strided keys interleave within every row group
        keys = [f"{0 if i % 2 else (i * (d + 7)) % 29 + 1:04d}"
                for i in range(n)]
        days[f"2025010{d + 1}"] = tbl = pa.table(
            {"item_id": keys, "seq": list(range(n))})
        pq.write_table(tbl, os.path.join(in_dir, f"2025010{d + 1}.parquet"),
                       row_group_size=250)
    res = run_incremental(spark, "t", in_dir, out,
                          os.path.join(work, "mk"))
    files = bad = 0
    for date, tbl in days.items():
        for k in pc.unique(tbl["item_id"]).to_pylist():
            want = tbl.filter(pc.equal(tbl["item_id"], k))["seq"]
            got = pq.read_table(os.path.join(out, k, f"{date}.parquet"))
            files += 1
            bad += got["seq"].to_pylist() != want.to_pylist()
    return {"days": res["processed_days"], "files": files,
            "out_of_order": bad}


def _split_day(spark, work: str) -> dict:
    """``split_day`` of one multi-row-group day read as several scan
    splits, so each key's rows reach its group from map tasks on both
    executors; counts the output files whose rows are not exactly that
    key's input rows, in order."""
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from glue_parquet_splitter_spark.pipeline.splitter import split_day

    n = 3000
    keys = [f"{0 if i % 2 else (i * 7) % 29 + 1:04d}" for i in range(n)]
    tbl = pa.table({"item_id": keys, "seq": list(range(n))})
    path = os.path.join(work, "day.parquet")
    pq.write_table(tbl, path, row_group_size=250)
    conf = "spark.sql.files.maxPartitionBytes"
    prev = spark.conf.get(conf)
    spark.conf.set(conf, str(os.path.getsize(path) // 6))
    try:
        df = spark.read.parquet(path)
        splits = df.rdd.getNumPartitions()
        outputs = split_day(df, os.path.join(work, "day_out"), "20250101")
    finally:
        spark.conf.set(conf, prev)
    bad = 0
    for p in outputs:
        k = os.path.basename(os.path.dirname(p))
        want = tbl.filter(pc.equal(tbl["item_id"], k))["seq"]
        bad += pq.read_table(p)["seq"].to_pylist() != want.to_pylist()
    return {"splits": splits, "files": len(outputs), "out_of_order": bad}


def _observe(spark, work: str) -> dict:
    from glue_parquet_splitter_spark.staging import (_stage_mode,
                                                     run_concurrently,
                                                     stage_table)

    sc = spark.sparkContext
    out = {"mode": _stage_mode(sc.master, sc.getCheckpointDir())}

    rows = (spark.range(0, 8, numPartitions=8)
            .mapInPandas(_where, "cwd string, pkg string, guarded boolean")
            .collect())
    out["worker_dirs"] = sorted({r.cwd for r in rows})
    out["pkg_files"] = sorted({r.pkg for r in rows})
    out["workers_guarded"] = sorted({r.guarded for r in rows})
    out["driver_guarded"] = _guarded()

    out["components"] = _components(spark)
    out["split"] = _split_backlog(spark, work)
    out["split_day"] = _split_day(spark, work)

    ungrouped = set(sc.statusTracker().getJobIdsForGroup(None))
    sc.setJobGroup("arms", "concurrent arms")
    results = run_concurrently(spark, {
        f"arm {n}": partial(spark.range(n).count) for n in (10, 20, 30)})
    out["arm_results"] = list(results.items())
    out["grouped_jobs"] = len(sc.statusTracker().getJobIdsForGroup("arms"))
    out["ungrouped_new"] = sorted(
        set(sc.statusTracker().getJobIdsForGroup(None)) - ungrouped)

    staged = stage_table(spark.range(0, 10000, numPartitions=8), eager=True)
    victim = _executors(sc)[0]
    sc._jsc.sc().killExecutor(victim)
    _wait(lambda: victim not in _executors(sc), "executor removal")
    out["sum_after_kill"] = staged.groupBy().sum("id").first()[0]
    return out


def _main(out_path: str) -> None:
    sys.path.insert(0, REPO)
    from glue_parquet_splitter_spark.session import get_spark

    spark = get_spark("local_cluster", master=MASTER, shuffle_partitions=2)
    sc = spark.sparkContext
    app_work_dir = os.path.join(os.environ.get("SPARK_HOME", ""), "work",
                                sc.applicationId)
    _wait(lambda: len(_executors(sc)) == 2, "two executors")
    try:
        out = _observe(spark, os.path.dirname(os.path.abspath(out_path)))
        with open(out_path, "w") as f:
            json.dump(out, f)
    finally:
        spark.stop()
        # local-cluster workers ignore SPARK_WORKER_DIR and write under
        # <SPARK_HOME>/work; drop this application's dir
        shutil.rmtree(app_work_dir, ignore_errors=True)


def test_local_cluster_master(spark, tmp_path):
    out_path = tmp_path / "out.json"
    env = {**os.environ,
           "SPARK_GRAFT_DRIVER_MEM": "1g",
           "PYSPARK_SUBMIT_ARGS": "--conf spark.checkpoint.dir="
                                  f"{tmp_path / 'ck'} pyspark-shell"}
    proc = subprocess.run(
        [sys.executable, os.path.abspath(__file__), str(out_path)],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=300)
    assert proc.returncode == 0, proc.stderr[-4000:]
    out = json.loads(out_path.read_text())

    assert out["mode"] == "reliable"
    # 1. the reliable checkpoint outlived the killed executor
    assert out["sum_after_kill"] == sum(range(10000))
    # 2. the must_cut loop gives the local[N] answer
    assert out["components"] == _components(spark)
    # 3. both executor JVMs imported the package from the shipped zip
    assert len(out["worker_dirs"]) == 2, out["worker_dirs"]
    assert all("glue_parquet_splitter_spark.zip" in f
               for f in out["pkg_files"]), out["pkg_files"]
    # ... and their Python workers, not the driver, run the zip guard
    assert out["workers_guarded"] == [True]
    assert out["driver_guarded"] is False
    # 4. executors read the day files and write every key's rows in
    # input order
    assert out["split"] == {"days": 3, "files": 90, "out_of_order": 0}
    # 5. split_day restores input order after the grouping shuffle
    assert out["split_day"]["splits"] > 2, out["split_day"]
    assert out["split_day"]["files"] == 30
    assert out["split_day"]["out_of_order"] == 0
    # 6. every arm's job ran inside the caller's job group; results
    # come back in key order
    assert out["arm_results"] == [["arm 10", 10], ["arm 20", 20],
                                  ["arm 30", 30]]
    assert out["grouped_jobs"] >= 3
    assert out["ungrouped_new"] == []


if __name__ == "__main__":
    _main(sys.argv[1])
